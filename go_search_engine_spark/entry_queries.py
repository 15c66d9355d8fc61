"""Driver-gate queries: every implemented operator from SURVEY.md section 2
as a (spark, sf_dir) -> DataFrame callable, paired with an equivalent
DuckDB oracle SQL string over the same parquet tables.

Column-name + value conventions shared by both sides:
- every computed column is explicitly aliased identically in Spark and SQL;
- float results are rounded (usually 6 dp) in BOTH engines, because float
  sum order differs between Spark partitions and DuckDB;
- ranks always tie-break on a total order (rounded score desc, doc_id asc).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .config import BM25_B, BM25_K1
from .functions.tokenizer import (
    tokenize_col,
    tokenize_ngrams_col,
    whitespace_word_count_col,
)

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB dialect)
# ---------------------------------------------------------------------------

# reference T1 tokenizer (tokenizer.go:19-37) in DuckDB SQL
TOK_SQL = (
    "list_filter(string_split_regex(lower("
    r"regexp_replace(regexp_replace({col}, '([A-Z]+)([A-Z][a-z])', '\1 \2', 'g'),"
    r" '([a-z0-9])([A-Z])', '\1 \2', 'g')), '[^a-z0-9]+'), x -> x <> '')"
)

# reference T2+T3 (tokenizer.go:41-78): tokens + edge n-grams, deduped
NGRAM_SQL = (
    "list_distinct(flatten(list_transform(" + TOK_SQL + ", t -> "
    "list_concat([t], list_transform(range(1, length(t)+1), i -> t[1:i])))))"
)

# BM25 |d|: whitespace word count (bm25.go:123-158)
DL_SQL = r"len(list_filter(string_split_regex({col}, '[ \t\n\r]+'), x -> x <> ''))"

# (doc_id, term, tf) over documents.text
TOKS_CTE = (
    "tok_raw AS (SELECT doc_id, unnest("
    + TOK_SQL.format(col="text")
    + ") AS term FROM documents), "
    "toks AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok_raw "
    "GROUP BY doc_id, term)"
)

BM25_CTES = (
    TOKS_CTE + ", "
    "dl AS (SELECT doc_id, (" + DL_SQL.format(col="text") + ")::DOUBLE AS dl "
    "FROM documents), "
    "stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl), "
    "df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM toks "
    "GROUP BY term)"
)


def _bm25_sql(term_values: str, n_tokens: int, k: int | None = None) -> str:
    """AND-intersection BM25 sum over the given query terms."""
    base = (
        "WITH " + BM25_CTES + ", "
        f"q(term) AS (VALUES {term_values}), "
        "scored AS (SELECT toks.doc_id, "
        f"sum(ln(stats.n/df.df) * toks.tf*{BM25_K1 + 1.0}/"
        f"(toks.tf + {BM25_K1}*({1.0 - BM25_B} + {BM25_B}*dl.dl/stats.avgdl))) AS s, "
        "count(*) AS nt "
        "FROM toks JOIN q USING(term) JOIN df USING(term) "
        "JOIN dl USING(doc_id), stats GROUP BY toks.doc_id) "
        f"SELECT doc_id, round(s, 6) AS score FROM scored WHERE nt = {n_tokens}"
    )
    if k is None:
        return base
    return (
        "SELECT doc_id, score, rank FROM (SELECT doc_id, score, "
        "row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank "
        f"FROM ({base})) WHERE rank <= {k}"
    )


def _spark_toks(spark, sf_dir) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(tokenize_col(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )


def _spark_bm25(spark, sf_dir, terms: list[str], k: int | None = None) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = _spark_toks(spark, sf_dir)
    dl = docs.select(
        "doc_id", whitespace_word_count_col(F.col("text")).cast("double").alias("dl")
    )
    n, avgdl = dl.agg(F.count("*"), F.avg("dl")).collect()[0]
    q = F.broadcast(spark.createDataFrame([(t,) for t in terms], ["term"]))
    bm25 = (
        F.log(F.lit(float(n)) / F.col("df"))
        * F.col("tf")
        * F.lit(BM25_K1 + 1.0)
        / (
            F.col("tf")
            + F.lit(BM25_K1)
            * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.lit(float(avgdl)))
        )
    )
    # df via a window over the q-filtered postings instead of a separate
    # groupBy(term) aggregate joined back: toks rows are unique per
    # (doc_id, term) (the groupBy above), so count(*) per term partition
    # IS the distinct-doc df for the query terms -- one pass over the
    # tokenize pipeline instead of two (toks had two consumers before),
    # one exchange instead of an aggregate + broadcast join. Same values,
    # same rounded scores.
    w_df = Window.partitionBy("term")
    scored = (
        toks.join(q, "term")
        .withColumn("df", F.count("*").over(w_df).cast("double"))
        .join(dl, "doc_id")
        .groupBy("doc_id")
        .agg(F.sum(bm25).alias("s"), F.count("*").alias("nt"))
        .filter(F.col("nt") == len(terms))
        .select("doc_id", F.round("s", 6).alias("score"))
    )
    if k is None:
        return scored
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "score", "rank")
    )


# ---------------------------------------------------------------------------
# T1/T5: tokenization + term frequencies (SURVEY 2.2)
# ---------------------------------------------------------------------------

@register(
    "tokenize_tf",
    "WITH " + TOKS_CTE + " SELECT doc_id, term, tf FROM toks",
)
def tokenize_tf(spark, sf_dir):
    """Reference T1+T5: tokenize + per-(doc, term) frequency
    (tokenizer.go:19-37; indexing/service.go:258-261)."""
    return _spark_toks(spark, sf_dir)


@register(
    "prefix_ngrams_tf",
    "SELECT doc_id, unnest(" + NGRAM_SQL.format(col="text") + ") AS term, "
    "1.0::DOUBLE AS tf FROM documents WHERE source = 'src0'",
)
def prefix_ngrams_tf(spark, sf_dir):
    """Reference T2+T3: edge n-grams with order-preserving dedup => tf=1
    (tokenizer.go:41-78). Bounded to one source slice."""
    docs = load(spark, sf_dir, "documents").filter(F.col("source") == "src0")
    return docs.select(
        "doc_id",
        F.explode(tokenize_ngrams_col(F.col("text"))).alias("term"),
        F.lit(1.0).alias("tf"),
    )


@register(
    "doc_lengths",
    "SELECT doc_id, (" + DL_SQL.format(col="text") + ")::BIGINT AS doc_len "
    "FROM documents",
)
def doc_lengths(spark, sf_dir):
    """BM25 |d| (bm25.go:109-158): whitespace word count."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", whitespace_word_count_col(F.col("text")).cast("long").alias("doc_len")
    )


# ---------------------------------------------------------------------------
# A2: BM25 statistics + scoring (SURVEY 2.6)
# ---------------------------------------------------------------------------

@register(
    "term_df_idf",
    "WITH " + BM25_CTES + " SELECT term, df::BIGINT AS df, "
    "round(ln(stats.n/df.df), 6) AS idf FROM df, stats",
)
def term_df_idf(spark, sf_dir):
    """df dedups by doc (bm25.go:44-57); IDF = ln(N/df) (bm25.go:26-41)."""
    toks = _spark_toks(spark, sf_dir)
    n = load(spark, sf_dir, "documents").count()
    return (
        # toks rows are unique per (doc_id, term) by construction, so a
        # plain count IS the distinct-doc df -- countDistinct would plan
        # an extra expand + second aggregate exchange for the same value
        toks.groupBy("term")
        .agg(F.count("doc_id").alias("df"))
        .select(
            "term",
            F.col("df").cast("long").alias("df"),
            F.round(F.log(F.lit(float(n)) / F.col("df")), 6).alias("idf"),
        )
    )


# NOTE (round 4, VERDICT #1/#2): `bm25_single_term` and `bm25_and_query`
# were consolidated away -- the AND-intersection BM25 oracle is exercised
# end-to-end by `engine_bm25_and`/`engine_wand_topk` (same SQL, deeper
# pipeline), and single-term scoring is covered by `bm25_topk` +
# `term_df_idf` + `doc_lengths`. The driver runs at most 50 gates; every
# registered gate must fit inside that window.


@register("bm25_topk", _bm25_sql("('spark'),('query')", 2, k=20))
def bm25_topk(spark, sf_dir):
    """Top-k with the engine's total-order tie-break (score desc, doc_id)."""
    return _spark_bm25(spark, sf_dir, ["spark", "query"], k=20)


@register(
    "tfmax_relevance",
    "WITH " + TOKS_CTE + ", q(term) AS (VALUES ('key'),('value')), "
    "m AS (SELECT doc_id, term, max(tf) AS best FROM toks JOIN q USING(term) "
    "GROUP BY doc_id, term) "
    "SELECT doc_id, sum(best) AS score FROM m GROUP BY doc_id "
    "HAVING count(*) = 2",
)
def tfmax_relevance(spark, sf_dir):
    """The reference's production relevance scorer A1: per query token take
    the max entry score, sum over tokens, AND semantics
    (service.go:392-438)."""
    toks = _spark_toks(spark, sf_dir)
    q = F.broadcast(spark.createDataFrame([("key",), ("value",)], ["term"]))
    return (
        toks.join(q, "term")
        .groupBy("doc_id", "term")
        .agg(F.max("tf").alias("best"))
        .groupBy("doc_id")
        .agg(F.sum("best").alias("score"), F.count("*").alias("nt"))
        .filter(F.col("nt") == 2)
        .select("doc_id", "score")
    )


@register(
    "exact_intersection",
    "WITH " + TOKS_CTE + " SELECT doc_id FROM toks "
    "WHERE term IN ('key','value','table') "
    "GROUP BY doc_id HAVING count(DISTINCT term) = 3",
)
def exact_intersection(spark, sf_dir):
    """J2: conjunctive posting-list intersection as a groupBy-having
    semi-join (service.go:328-361)."""
    toks = _spark_toks(spark, sf_dir)
    return (
        toks.filter(F.col("term").isin("key", "value", "table"))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("nt"))
        .filter(F.col("nt") == 3)
        .select("doc_id")
    )


@register(
    "typo_candidates_d1",
    "WITH " + TOKS_CTE + ", vocab AS (SELECT DISTINCT term FROM toks) "
    "SELECT term, 1 AS distance FROM vocab "
    "WHERE term <> 'valu' AND abs(length(term) - 4) <= 1 "
    "AND damerau_levenshtein('valu', term) = 1",
)
def typo_candidates_d1(spark, sf_dir):
    """Q4/Q5: Damerau-Levenshtein typo candidate scan over the vocabulary
    with length pre-filter (typo_finder.go:79-124, levenshtein.go:6-87).
    Distance 1 only here: DuckDB's damerau_levenshtein is the unrestricted
    variant while the reference (and this engine) implement OSA; the two
    agree at distance <= 1."""
    import pandas as pd

    from .functions.edit_distance import damerau_levenshtein_batch

    toks = _spark_toks(spark, sf_dir)
    vocab = toks.select("term").distinct().filter(
        (F.abs(F.length("term") - 4) <= 1) & (F.col("term") != "valu")
    )

    def dist(batches):
        for pdf in batches:
            terms = pdf["term"].to_numpy(dtype=object)
            if len(terms) == 0:
                continue
            d = damerau_levenshtein_batch("valu", terms, 1)
            m = d == 1
            yield pd.DataFrame({"term": terms[m], "distance": 1})

    return vocab.mapInPandas(dist, schema="term string, distance int")


# ---------------------------------------------------------------------------
# F1-F10: filter tree + filter scoring (SURVEY 2.5)
# ---------------------------------------------------------------------------

@register(
    "filter_tree_scored",
    "SELECT doc_id, "
    "(CASE WHEN lang = 'en' AND n_chars > 200 THEN 5.0 ELSE 0.0 END"
    " + CASE WHEN contains(lower(source), '1') THEN 3.0 ELSE 0.0 END)::DOUBLE"
    " AS filter_score "
    "FROM documents "
    "WHERE (lang = 'en' AND n_chars > 200) OR contains(lower(source), '1')",
)
def filter_tree_scored(spark, sf_dir):
    """F1/F3/F4/F7/F8: nested AND group inside an OR tree with filter
    scoring -- AND all-or-nothing, OR sums matches (service.go:717-795)."""
    from .query.filters import FilterCondition, Filters, compile_filters

    docs = load(spark, sf_dir, "documents")
    tree = Filters(
        operator="OR",
        filters=[FilterCondition("source", "_contains", "1", score=3.0)],
        groups=[
            Filters(
                operator="AND",
                filters=[
                    FilterCondition("lang", "_exact", "en", score=2.0),
                    FilterCondition("n_chars", "_gt", 200, score=3.0),
                ],
            )
        ],
    )
    matched, score = compile_filters(docs, tree)
    return docs.filter(matched).select(
        "doc_id", score.cast("double").alias("filter_score")
    )


@register(
    "filter_contains_any_of",
    "SELECT doc_id FROM documents WHERE lang IN ('en', 'fr')",
)
def filter_contains_any_of(spark, sf_dir):
    """F6: _contains_any_of on a scalar field => IN (service.go:981-1020)."""
    from .query.filters import FilterCondition, Filters, compile_filters

    docs = load(spark, sf_dir, "documents")
    tree = Filters(
        filters=[FilterCondition("lang", "_contains_any_of", ["en", "fr"])]
    )
    matched, _ = compile_filters(docs, tree)
    return docs.filter(matched).select("doc_id")


@register(
    "filter_numeric_time",
    "SELECT event_id FROM events WHERE value >= 50.0 "
    "AND ts < TIMESTAMP '2024-01-15 00:00:00' AND event_type <> 'view'",
)
def filter_numeric_time(spark, sf_dir):
    """F2/F3/F10: numeric + timestamp range + negation, typed at ingest so
    Catalyst pushes all three down to the parquet scan."""
    from .query.filters import FilterCondition, Filters, compile_filters
    import datetime

    ev = load(spark, sf_dir, "events")
    tree = Filters(
        operator="AND",
        filters=[
            FilterCondition("value", "_gte", 50.0),
            FilterCondition("ts", "_lt", datetime.datetime(2024, 1, 15)),
            FilterCondition("event_type", "_ne", "view"),
        ],
    )
    matched, _ = compile_filters(ev, tree)
    return ev.filter(matched).select("event_id")


# ---------------------------------------------------------------------------
# R1-R4: ranking / dedup / pagination / projection (SURVEY 2.7)
# ---------------------------------------------------------------------------

@register(
    "dedup_distinct_field",
    "SELECT lang, doc_id, n_chars FROM ("
    "SELECT lang, doc_id, n_chars, row_number() OVER "
    "(PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rn "
    "FROM documents) WHERE rn = 1",
)
def dedup_distinct_field(spark, sf_dir):
    """R2: DistinctField dedup keeps the best-ranked hit per distinct value
    (service.go:678-715) -- window row_number over the ranking order."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", "doc_id", "n_chars")
    )


@register(
    "pagination_page3",
    "SELECT doc_id, n_chars FROM documents "
    "ORDER BY n_chars DESC, doc_id ASC LIMIT 10 OFFSET 20",
)
def pagination_page3(spark, sf_dir):
    """R3: page=3, page_size=10 over a total order (service.go:651-662)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .select("doc_id", "n_chars")
        .offset(20)
        .limit(10)
    )


@register(
    "ranking_multi_criteria",
    "SELECT doc_id, lang, n_chars, rnk FROM ("
    "SELECT doc_id, lang, n_chars, row_number() OVER "
    "(ORDER BY lang ASC, n_chars DESC, doc_id ASC) AS rnk FROM documents) "
    "WHERE rnk <= 25",
)
def ranking_multi_criteria(spark, sf_dir):
    """R1: multi-criteria ranking sort with a total-order tiebreak
    (service.go:520-644)."""
    docs = load(spark, sf_dir, "documents")
    w = Window.orderBy(F.asc("lang"), F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 25)
        .select("doc_id", "lang", "n_chars", "rnk")
    )


# ---------------------------------------------------------------------------
# A4-A9: analytics aggregations (SURVEY 2.6) over the events table
# ---------------------------------------------------------------------------

@register(
    "analytics_hourly",
    "SELECT extract(hour FROM ts)::INT AS hour, count(*) AS n, "
    "round(avg(value), 6) AS avg_value FROM events GROUP BY 1",
)
def analytics_hourly(spark, sf_dir):
    """A6: hourly histogram (analytics/service.go:212-233)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(F.hour("ts").cast("int").alias("hour")).agg(
        F.count("*").alias("n"), F.round(F.avg("value"), 6).alias("avg_value")
    )


@register(
    "analytics_top5_types",
    "SELECT event_type, count(*) AS n FROM events GROUP BY event_type "
    "ORDER BY n DESC, event_type ASC LIMIT 5",
)
def analytics_top5_types(spark, sf_dir):
    """A7: top-5 popular queries pattern (analytics/service.go:236-274),
    with a deterministic tiebreak."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("event_type"))
        .limit(5)
    )


@register(
    "analytics_latency_buckets",
    "WITH b AS (SELECT CASE WHEN value < 25 THEN '0-25' "
    "WHEN value < 50 THEN '25-50' WHEN value < 100 THEN '50-100' "
    "ELSE '100+' END AS bucket FROM events) "
    "SELECT bucket, count(*) AS n, "
    "round(100.0 * count(*) / (SELECT count(*) FROM events), 6) AS pct "
    "FROM b GROUP BY bucket",
)
def analytics_latency_buckets(spark, sf_dir):
    """A8: latency buckets + percentages (analytics/service.go:315-344);
    percentages via a window total, no second scan."""
    ev = load(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 25, "0-25")
        .when(F.col("value") < 50, "25-50")
        .when(F.col("value") < 100, "50-100")
        .otherwise("100+")
    )
    agg = ev.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count("*").alias("n")
    )
    total = Window.partitionBy()
    return agg.select(
        "bucket",
        "n",
        F.round(F.lit(100.0) * F.col("n") / F.sum("n").over(total), 6).alias("pct"),
    )


@register(
    "analytics_type_counts",
    "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
)
def analytics_type_counts(spark, sf_dir):
    """A9: counts by categorical search type (analytics/service.go:347-364)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.count("*").alias("n"))


@register(
    "analytics_daily_deltas",
    "WITH d AS (SELECT ts::DATE AS day, count(*) AS n FROM events GROUP BY 1) "
    "SELECT day, n, round(100.0 * (n - lag(n) OVER (ORDER BY day)) / "
    "lag(n) OVER (ORDER BY day), 6) AS pct_change FROM d",
)
def analytics_daily_deltas(spark, sf_dir):
    """A4: window-over-window deltas (analytics/service.go:84-140) --
    day-over-day % change via lag."""
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(F.count("*").alias("n"))
    w = Window.orderBy("day")
    prev = F.lag("n").over(w)
    return d.select(
        "day",
        "n",
        F.round(F.lit(100.0) * (F.col("n") - prev) / prev, 6).alias("pct_change"),
    )


@register(
    "events_window_5m",
    "SELECT time_bucket(INTERVAL '5 minutes', ts) AS win_start, event_type, "
    "count(*) AS n, round(sum(value), 6) AS sum_value FROM events "
    "GROUP BY 1, 2",
)
def events_window_5m(spark, sf_dir):
    """Tumbling 5-minute windowed aggregation -- the batch twin of the
    Structured Streaming pipeline in streaming/indexer.py (the reference
    lists real-time indexing as roadmap only, README.md:521)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "sum_value")
    )


# ---------------------------------------------------------------------------
# Training-data pipeline ops: dedup / similarity / text analysis
# ---------------------------------------------------------------------------

# shared shingle CTE (3-token word shingles over documents.text)
SHINGLE_CTE = (
    "toks_arr AS (SELECT doc_id, " + TOK_SQL.format(col="text") + " AS toks "
    "FROM documents), "
    "sh AS (SELECT DISTINCT doc_id, unnest(list_transform("
    "range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' '))) AS shingle "
    "FROM toks_arr WHERE len(toks) >= 3)"
)


@register(
    "dedup_exact_groups",
    "WITH u AS (SELECT doc_id, text FROM documents UNION ALL "
    "SELECT doc_id + 1000000, text FROM documents WHERE source = 'src0') "
    "SELECT sha256(text) AS text_sha, count(*) AS n, "
    "array_to_string(list_sort(list(doc_id)), ',') AS ids "
    "FROM u GROUP BY text_sha HAVING count(*) >= 2",
)
def dedup_exact_groups(spark, sf_dir):
    """Exact dedup: sha256 hash-groupBy. The corpus has no natural dups, so
    a src0 copy (ids shifted) is planted identically on both sides."""
    from .pipeline.dedup import exact_duplicate_groups

    docs = load(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")
    dup = docs.filter(F.col("source") == "src0").select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    u = base.union(dup)
    return exact_duplicate_groups(u).select(
        "text_sha",
        "n",
        F.array_join(F.transform("ids", lambda x: x.cast("string")), ",").alias(
            "ids"
        ),
    )


@register(
    "ngram_jaccard_pairs",
    "WITH " + SHINGLE_CTE + ", "
    # stop-shingle guard mirrored from pipeline.dedup (default df cap 1000)
    "shg AS (SELECT * FROM sh WHERE shingle NOT IN "
    "(SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 1000)), "
    "sizes AS (SELECT doc_id, count(*) AS sz FROM shg GROUP BY doc_id), "
    "inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i "
    "FROM shg x JOIN shg y USING(shingle) WHERE x.doc_id < y.doc_id "
    "GROUP BY 1, 2) "
    "SELECT a, b, round(i::DOUBLE/(sa.sz + sb.sz - i), 6) AS jaccard "
    "FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b "
    "WHERE i::DOUBLE/(sa.sz + sb.sz - i) >= 0.2",
)
def ngram_jaccard_pairs_q(spark, sf_dir):
    """3-shingle Jaccard near-dup pairs via the shingle inverted join
    (candidates = docs sharing a shingle; never a cross join). The
    default-on stop-shingle df guard (1000) is mirrored in the oracle."""
    from .pipeline.dedup import ngram_jaccard_pairs

    docs = load(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.2)


# NOTE (round 4): the standalone `minhash_signatures` gate was folded into
# `minhash_lsh_pairs`, whose oracle contains the identical signature CTE as
# a subquery -- the signature arithmetic is still hash-checked end to end.


@register(
    "minhash_lsh_pairs",
    "WITH " + SHINGLE_CTE + ", "
    "sig AS (SELECT doc_id AS id, "
    "min(md5('0:' || shingle)) AS h0, min(md5('1:' || shingle)) AS h1, "
    "min(md5('2:' || shingle)) AS h2, min(md5('3:' || shingle)) AS h3 "
    "FROM sh GROUP BY doc_id), "
    "bands AS (SELECT id, 0 AS band, md5(h0 || '|' || h1) AS key FROM sig "
    "UNION ALL SELECT id, 1, md5(h2 || '|' || h3) FROM sig) "
    "SELECT DISTINCT x.id AS a, y.id AS b FROM bands x "
    "JOIN bands y ON x.band = y.band AND x.key = y.key AND x.id < y.id",
)
def minhash_lsh_pairs_q(spark, sf_dir):
    """MinHash LSH banding: candidate pairs agreeing on >= 1 of 2 bands."""
    from .pipeline.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), num_hashes=4, bands=2
    )


@register(
    "chunk_documents_64_48",
    # whitespace-token windows: chunk i covers [i*48, i*48+64); last
    # window = final stride boundary still holding unseen tokens
    "WITH t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[] "
    "ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks "
    "FROM documents), "
    "n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 1), "
    "c AS (SELECT doc_id, toks, "
    "CASE WHEN n <= 64 THEN 1 ELSE CAST(ceil((n - 64) / 48.0) AS INT) + 1 "
    "END AS nc FROM n), "
    "x AS (SELECT doc_id, toks, unnest(range(0, nc)) AS chunk_id FROM c), "
    "s AS (SELECT doc_id, chunk_id, "
    "list_slice(toks, chunk_id * 48 + 1, chunk_id * 48 + 64) AS sl FROM x) "
    "SELECT doc_id AS id, chunk_id::BIGINT AS chunk_id, "
    "len(sl)::BIGINT AS n_tokens, array_to_string(sl, ' ') AS chunk FROM s",
)
def chunk_documents_64_48(spark, sf_dir):
    """Fixed-token-window chunking with overlap (64-token chunks, stride
    48) -- the pretraining-data shaping step (pipeline/textstats.py
    chunk_documents), pure Column expressions."""
    from .pipeline.textstats import chunk_documents

    return chunk_documents(
        load(spark, sf_dir, "documents"), chunk_tokens=64, stride=48
    )


# The oracle SQL interpolates the PIPELINE's own constants (they are
# RE2-compatible, so DuckDB accepts them verbatim): editing a pattern in
# textstats.py updates the oracle with it, instead of silently leaving
# the oracle on a stale copy that only surfaces as a driver value-hash
# mismatch rounds later.
from .pipeline.textstats import PII_EMAIL as _PII_EMAIL_SQL
from .pipeline.textstats import PII_IPV4 as _PII_IPV4_SQL
from .pipeline.textstats import PII_PHONE as _PII_PHONE_SQL
from .pipeline.textstats import EN_STOPWORDS as _EN_STOPWORDS_SQL
from .pipeline.textstats import BPE_ISH_PATTERN as _BPE_SQL
from .pipeline.textstats import ROLLING_MOD as _ROLLING_MOD_SQL


@register(
    "redact_pii",
    # same pattern order as the Spark op: emails, then phones, then IPv4;
    # DuckDB regexp_replace needs the 'g' flag for replace-all parity
    "SELECT doc_id AS id, "
    f"regexp_replace(regexp_replace(regexp_replace(text, '{_PII_EMAIL_SQL}', "
    f"'<EMAIL>', 'g'), '{_PII_PHONE_SQL}', '<PHONE>', 'g'), "
    f"'{_PII_IPV4_SQL}', '<IP>', 'g') AS redacted, "
    f"len(regexp_extract_all(text, '{_PII_EMAIL_SQL}'))::BIGINT AS n_emails, "
    f"len(regexp_extract_all(regexp_replace(regexp_replace(text, "
    f"'{_PII_EMAIL_SQL}', '<EMAIL>', 'g'), '{_PII_PHONE_SQL}', '<PHONE>', "
    f"'g'), '{_PII_IPV4_SQL}'))::BIGINT AS n_ipv4, "
    f"len(regexp_extract_all(regexp_replace(text, '{_PII_EMAIL_SQL}', "
    f"'<EMAIL>', 'g'), '{_PII_PHONE_SQL}'))::BIGINT AS n_phones "
    "FROM documents",
)
def redact_pii_q(spark, sf_dir):
    """PII scrubbing with per-doc audit counts (pipeline/textstats.py
    redact_pii): emails / international phones / IPv4 literals replaced
    by typed tags; RE2-compatible patterns so both engines agree."""
    from .pipeline.textstats import redact_pii

    return redact_pii(load(spark, sf_dir, "documents"))


@register(
    "dedup_cluster_assignment",
    # connected components over the LSH candidate-pair graph via a
    # recursive min-label closure: min reachable id == component min
    "WITH RECURSIVE " + SHINGLE_CTE + ", "
    "sig AS (SELECT doc_id AS id, "
    "min(md5('0:' || shingle)) AS h0, min(md5('1:' || shingle)) AS h1, "
    "min(md5('2:' || shingle)) AS h2, min(md5('3:' || shingle)) AS h3 "
    "FROM sh GROUP BY doc_id), "
    "bands AS (SELECT id, 0 AS band, md5(h0 || '|' || h1) AS key FROM sig "
    "UNION ALL SELECT id, 1, md5(h2 || '|' || h3) FROM sig), "
    "p AS (SELECT DISTINCT x.id AS a, y.id AS b FROM bands x "
    "JOIN bands y ON x.band = y.band AND x.key = y.key AND x.id < y.id), "
    "e AS (SELECT a AS x, b AS y FROM p UNION SELECT b, a FROM p), "
    "reach(x, lbl) AS (SELECT x, x FROM (SELECT DISTINCT x FROM e) "
    "UNION SELECT e.x, r.lbl FROM e JOIN reach r ON e.y = r.x) "
    "SELECT x AS id, min(lbl)::BIGINT AS cluster FROM reach GROUP BY x",
)
def dedup_cluster_assignment(spark, sf_dir):
    """Near-duplicate CLUSTER assignment: connected components over the
    MinHash-LSH candidate-pair graph, cluster = min doc id (the canonical
    representative a dedup pipeline keeps). Distributed min-label
    propagation (pipeline/dedup.py dedup_clusters) vs the oracle's
    recursive-CTE reachability closure."""
    from .pipeline.dedup import dedup_clusters, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), num_hashes=4, bands=2
    )
    return dedup_clusters(pairs).select(
        "id", F.col("cluster").cast("long").alias("cluster")
    )


@register(
    "simhash16",
    "WITH " + TOKS_CTE + ", th AS (SELECT doc_id, term, tf, md5(term) AS h "
    "FROM toks), "
    "bits AS (SELECT doc_id, j, CASE WHEN sum(tf * CASE WHEN "
    "substr(h, j + 1, 1) IN ('8','9','a','b','c','d','e','f') "
    "THEN 1 ELSE -1 END) > 0 THEN (1 << j) ELSE 0 END AS bv "
    "FROM th, range(16) r(j) GROUP BY doc_id, j) "
    "SELECT doc_id AS id, sum(bv)::BIGINT AS simhash FROM bits GROUP BY doc_id",
)
def simhash16_q(spark, sf_dir):
    """16-bit SimHash (hex-char-parity, tf-weighted, integer arithmetic)."""
    from .pipeline.dedup import simhash16

    return simhash16(load(spark, sf_dir, "documents"))


@register(
    "embedding_cosine_topk",
    "WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0), "
    "scored AS (SELECT vec_id, round(list_cosine_similarity("
    "embedding::DOUBLE[], q.qv), 5) AS cos FROM embeddings, q "
    "WHERE vec_id <> 0) "
    "SELECT vec_id, cos, row_number() OVER (ORDER BY cos DESC, vec_id ASC) "
    "AS rank FROM scored QUALIFY rank <= 20",
)
def embedding_cosine_topk_q(spark, sf_dir):
    """Brute-force cosine top-k against vec_id=0 (JVM zip_with/aggregate
    dot product; the exactness baseline for ANN)."""
    from .pipeline.similarity import cosine_cols

    emb = load(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    q = F.array(*[F.lit(float(v)) for v in qv])
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .select(
            "vec_id", F.round(cosine_cols(F.col("embedding"), q), 5).alias("cos")
        )
    )
    w = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
    )


# SRP hyperplanes are deterministic (seed=42, dim=64 fixed by the
# embeddings tables), so the oracle embeds them as SQL literals and
# recomputes the exact same bucket assignment + in-bucket cosine top-k.
def _lsh_oracle_sql() -> str:
    from .pipeline.similarity import hyperplanes

    planes = hyperplanes(dim=64, n_planes=4, seed=42)

    def plane_lit(p):
        return "[" + ",".join(repr(float(v)) for v in p) + "]::DOUBLE[]"

    def bucket_expr(vec):
        return " + ".join(
            f"(CASE WHEN list_dot_product({vec}, {plane_lit(p)}) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )

    return (
        "WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings "
        "WHERE vec_id = 0), "
        f"qb AS (SELECT {bucket_expr('qv')} AS b FROM q), "
        "db AS (SELECT vec_id, embedding::DOUBLE[] AS v, "
        f"{bucket_expr('embedding::DOUBLE[]')} AS b "
        "FROM embeddings WHERE vec_id <> 0), "
        "cand AS (SELECT vec_id, v FROM db JOIN qb ON db.b = qb.b), "
        "scored AS (SELECT vec_id, round(list_cosine_similarity(v, q.qv), 5) "
        "AS cos FROM cand, q) "
        "SELECT vec_id, cos, row_number() OVER (ORDER BY cos DESC, vec_id ASC) "
        "AS rank FROM scored QUALIFY rank <= 10"
    )


_LSH_IDX_CACHE: dict = {}


@register("embedding_lsh_topk", _lsh_oracle_sql())
def embedding_lsh_topk_q(spark, sf_dir):
    """ANN scale path: SRP bucket MATERIALIZED as a parquet partition
    column (built once per sf_dir), then a single-bucket partition-pruned
    probe + exact cosine within the bucket (pipeline/similarity.py)."""
    from .pipeline.similarity import (
        build_lsh_index,
        hyperplanes,
        lsh_topk_indexed,
    )

    emb = load(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    planes = hyperplanes(dim=len(qv), n_planes=4, seed=42)
    if sf_dir not in _LSH_IDX_CACHE:
        import tempfile

        path = tempfile.mkdtemp(prefix="gse_lsh_idx_") + "/emb"
        build_lsh_index(emb.filter(F.col("vec_id") != 0), planes, path)
        _LSH_IDX_CACHE[sf_dir] = path
    scored = lsh_topk_indexed(
        spark, _LSH_IDX_CACHE[sf_dir], qv, planes, k=1_000_000
    ).select("vec_id", F.round("cos", 5).alias("cos"))
    w = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 10
    )


@register(
    "engine_highlight",
    # 0-based token offsets of each matched query term per doc (the
    # engine's stored positions are 0-based); list aggregation order is
    # pinned by list_sort, rendered as CSV for a stable value hash
    "WITH pt AS (SELECT doc_id, unnest(toks) AS term, "
    "unnest(range(0, len(toks))) AS pos FROM "
    "(SELECT doc_id, " + TOK_SQL.format(col="text")
    + " AS toks FROM documents)) "
    "SELECT doc_id, 'text' AS field, term, term AS display, "
    "array_to_string(list_sort(list(pos)), ',') AS positions "
    "FROM pt WHERE term IN ('data', 'value') GROUP BY doc_id, term",
)
def engine_highlight(spark, sf_dir):
    """Hit highlighting from the index: matched terms with their token
    offsets per (doc, field), decoded from the stored position streams
    (query/engine.py highlight). The oracle recomputes offsets by
    tokenizing the raw text."""
    eng = _engine(spark, sf_dir)
    cand = eng.candidate_terms(["data", "value"], typo_tolerance=False)
    hl = eng.highlight(cand, eng.settings.searchable_fields)
    return (
        hl.join(eng.docs.select("doc_id", "documentID"), "doc_id")
        .select(
            F.regexp_extract("documentID", r"^doc-(\d+)$", 1)
        .cast("long").alias("doc_id"),
            "field",
            "term",
            "display",
            F.array_join(F.col("positions").cast("array<string>"), ",").alias(
                "positions"
            ),
        )
    )


@register(
    "engine_proximity_search",
    # unordered windowed co-occurrence oracle: an occurrence at pos p
    # covers window starts [p-3, p] (window=4); a qualifying window start
    # holds every distinct query term (base offset cancels in counts)
    "WITH pt AS (SELECT doc_id, unnest(toks) AS term, "
    "unnest(range(1, len(toks)+1)) AS pos FROM "
    "(SELECT doc_id, " + TOK_SQL.format(col="text")
    + " AS toks FROM documents)), "
    "occ AS (SELECT doc_id, term, pos FROM pt "
    "WHERE term IN ('data', 'table')), "
    "wset AS (SELECT doc_id, term, pos - off AS w FROM "
    "(SELECT doc_id, term, pos, unnest(range(0, 4)) AS off FROM occ)), "
    "m AS (SELECT doc_id, w, count(DISTINCT term) AS c FROM wset "
    "GROUP BY doc_id, w), "
    "h AS (SELECT doc_id, count(*)::BIGINT AS n_windows FROM m "
    "WHERE c = 2 GROUP BY doc_id) "
    "SELECT doc_id, n_windows, rank::INT AS rank FROM "
    "(SELECT doc_id, n_windows, row_number() OVER "
    "(ORDER BY n_windows DESC, doc_id ASC) AS rank FROM h) "
    "WHERE rank <= 20",
)
def engine_proximity_search(spark, sf_dir):
    """Unordered proximity over the stored positions: all query tokens
    within a 4-token window of one field (query/phrase.py
    proximity_search -- anchor-keyed, no pairwise position self-join)."""
    from .query.phrase import proximity_search

    eng = _engine(spark, sf_dir)
    res = proximity_search(eng, "data table", window=4, k=20)
    return res.select(
        F.regexp_extract("documentID", r"^doc-(\d+)$", 1)
        .cast("long").alias("doc_id"),
        "n_windows",
        "rank",
    )


_MAINT_CACHE: dict = {}


# ONE oracle + ONE driver for both maintenance gates (refresh and delta
# modes MUST land on identical statistics; a single definition cannot
# desynchronize): df/idf over the corpus AFTER the maintenance sequence
# -- doc_id % 7 == 0 deleted, doc_id < 25 re-texted, 3 inserts.
_MAINT_ORACLE_SQL = (
    "WITH d0 AS (SELECT doc_id, CASE WHEN doc_id < 25 THEN text || ' graftzz' "
    "ELSE text END AS text FROM documents WHERE doc_id % 7 <> 0 "
    "UNION ALL SELECT * FROM (VALUES (90000001, 'graftzz table data'), "
    "(90000002, 'graftzz fresh row'), (90000003, 'spark graftzz value')) "
    "v(doc_id, text)), "
    "tok_raw AS (SELECT doc_id, unnest(" + TOK_SQL.format(col="text")
    + ") AS term FROM d0), "
    "n AS (SELECT count(*)::DOUBLE AS n FROM d0) "
    "SELECT term, count(DISTINCT doc_id)::BIGINT AS df, "
    "round(ln(n.n / count(DISTINCT doc_id)), 6) AS idf "
    "FROM tok_raw, n GROUP BY term, n.n"
)


def _maintained_term_stats(spark, sf_dir, cache, name, mode):
    """Build an index over documents, run the shared delete + upsert
    sequence in the given maintenance ``mode``, and return post-
    maintenance (term, df, idf) from the committed term_stats."""
    import tempfile

    from .build.builder import IndexBuilder
    from .build.delta import term_stats_path
    from .build.maintenance import IndexMaintenance
    from .config import IndexSettings

    if sf_dir not in cache:
        settings = IndexSettings(
            name=name,
            searchable_fields=["text"],
            fields_without_prefix_search=["text"],
            term_buckets=8,
        )
        base = load(spark, sf_dir, "documents")
        docs = base.select(
            F.format_string("doc-%08d", F.col("doc_id")).alias("documentID"),
            "text",
        )
        wh = tempfile.mkdtemp(prefix=f"gse_{name}_wh_")
        IndexBuilder(spark, settings, wh).build(docs, num_shards=2)
        m = IndexMaintenance(spark, wh, name)
        victims = [
            f"doc-{r['doc_id']:08d}"
            for r in base.filter(F.col("doc_id") % 7 == 0)
            .select("doc_id")
            .collect()
        ]
        n_del = m.delete_documents(victims, mode=mode)
        if n_del != len(victims):  # not assert: -O must not skip the call
            raise RuntimeError(f"delete removed {n_del}, want {len(victims)}")
        updates = (
            base.filter((F.col("doc_id") < 25) & (F.col("doc_id") % 7 != 0))
            .withColumn(
                "documentID", F.format_string("doc-%08d", F.col("doc_id"))
            )
            .select(
                "documentID",
                F.concat(F.col("text"), F.lit(" graftzz")).alias("text"),
            )
        )
        inserts = spark.createDataFrame(
            [
                ("doc-90000001", "graftzz table data"),
                ("doc-90000002", "graftzz fresh row"),
                ("doc-90000003", "spark graftzz value"),
            ],
            "documentID string, text string",
        )
        m.upsert_documents(updates.unionByName(inserts), mode=mode)
        cache[sf_dir] = wh
    ts = spark.read.parquet(
        term_stats_path(os.path.join(cache[sf_dir], name))
    )
    return ts.select("term", "df", F.round("idf", 6).alias("idf"))


@register(
    "maintenance_delete_upsert",
    _MAINT_ORACLE_SQL,
)
def maintenance_delete_upsert(spark, sf_dir):
    """T11 + T13 end-to-end against an independent oracle: build an index,
    delete_documents (reference empty-term cleanup service.go:407-416),
    upsert_documents (in-place update keeps internal ids, inserts append
    -- reference indexing/service.go:166-215), both in ``mode="refresh"``
    (delta commit, then compaction), then read df/idf from the COMPACTED
    term_stats. No full rebuild happens; the oracle recomputes statistics
    over the equivalent corpus."""
    return _maintained_term_stats(
        spark, sf_dir, _MAINT_CACHE, "maint_idx", "refresh"
    )


_DELTA_CACHE: dict = {}


@register(
    "maintenance_delta_upsert",
    _MAINT_ORACLE_SQL,
)
def maintenance_delta_upsert(spark, sf_dir):
    """Incremental (LSM/NRT) maintenance against the SAME corpus oracle:
    the identical delete + upsert sequence but through ``mode="delta"``
    (build/delta.py) -- tombstones + delta files + exact vocab-sized
    stats arithmetic, NO compaction. The rewritten term_stats must carry
    the exact post-maintenance df/idf."""
    return _maintained_term_stats(
        spark, sf_dir, _DELTA_CACHE, "delta_idx", "delta"
    )


_SETTINGS_CACHE: dict = {}


@register(
    "settings_update_reindex",
    # oracle: df over PREFIX-N-GRAM tokenization (tokens + edge n-grams,
    # globally deduped per doc => tf 1) -- what a correct reindex after
    # flipping the field to prefix mode must produce
    "WITH g AS (SELECT doc_id, unnest(" + NGRAM_SQL.format(col="text")
    + ") AS term FROM documents) "
    "SELECT term, count(DISTINCT doc_id)::BIGINT AS df "
    "FROM g GROUP BY term",
)
def settings_update_reindex(spark, sf_dir):
    """O5 end-to-end: build with no-prefix text, then update_settings
    flips the field to prefix n-grams (a core-setting diff => full
    reindex, reference settings_management.go:119-138); the REINDEXED
    term_stats must match the n-gram oracle."""
    import tempfile

    from .build.builder import IndexBuilder
    from .build.maintenance import update_settings
    from .config import IndexSettings

    if sf_dir not in _SETTINGS_CACHE:
        docs = load(spark, sf_dir, "documents").select(
            F.format_string("doc-%08d", F.col("doc_id")).alias("documentID"),
            "text",
        )
        old = IndexSettings(
            name="sdiff_idx",
            searchable_fields=["text"],
            fields_without_prefix_search=["text"],
            term_buckets=8,
        )
        wh = tempfile.mkdtemp(prefix="gse_sdiff_wh_")
        IndexBuilder(spark, old, wh).build(docs, num_shards=2)
        new = IndexSettings(
            name="sdiff_idx",
            searchable_fields=["text"],
            fields_without_prefix_search=[],  # core diff -> reindex
            term_buckets=8,
        )
        reindexed = update_settings(spark, wh, new, corpus=docs)
        if reindexed is not True:  # not assert: -O must not skip the call
            raise RuntimeError("settings update did not trigger a reindex")
        _SETTINGS_CACHE[sf_dir] = wh
    from .build.delta import term_stats_path

    ts = spark.read.parquet(
        term_stats_path(os.path.join(_SETTINGS_CACHE[sf_dir], "sdiff_idx"))
    )
    return ts.select("term", "df")


_IVF_IDX_CACHE: dict = {}


def _ivf_oracle_sql() -> str:
    import numpy as np

    cents = np.random.default_rng(11).standard_normal((8, 64))

    def lit(c):
        return "[" + ",".join(repr(float(v)) for v in c) + "]::DOUBLE[]"

    values = ", ".join(f"({i}, {lit(c)})" for i, c in enumerate(cents))
    return (
        f"WITH c(cid, cv) AS (VALUES {values}), "
        "q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings "
        "WHERE vec_id = 0), "
        "qc AS (SELECT cid FROM c, q QUALIFY row_number() OVER "
        "(ORDER BY list_distance(cv, qv) ASC, cid ASC) <= 2), "
        "db AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings "
        "WHERE vec_id <> 0), "
        "asg AS (SELECT vec_id, v, (SELECT cid FROM c "
        "ORDER BY list_distance(c.cv, db.v) ASC, cid ASC LIMIT 1) AS cell "
        "FROM db), "
        "cand AS (SELECT vec_id, v FROM asg "
        "WHERE cell IN (SELECT cid FROM qc)), "
        "scored AS (SELECT vec_id, round(list_cosine_similarity(v, q.qv), 5) "
        "AS cos FROM cand, q) "
        "SELECT vec_id, cos, row_number() OVER (ORDER BY cos DESC, "
        "vec_id ASC) AS rank FROM scored QUALIFY rank <= 10"
    )


@register("embedding_ivf_topk", _ivf_oracle_sql())
def embedding_ivf_topk_q(spark, sf_dir):
    """IVF ANN scale path: coarse-quantizer cell MATERIALIZED as a parquet
    partition column (inverted-file layout, built once per sf_dir), then
    an n_probe=2 partition-pruned probe + exact cosine within the probed
    cells (pipeline/similarity.py). The gate uses fixed seeded centroids
    so the DuckDB oracle can embed them as literals; the distributed
    Lloyd-refined quantizer (ivf_centroids) is pytest-covered."""
    import numpy as np
    import tempfile

    from .pipeline.similarity import build_ivf_index, ivf_topk

    cents = np.random.default_rng(11).standard_normal((8, 64))
    emb = load(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    if sf_dir not in _IVF_IDX_CACHE:
        path = tempfile.mkdtemp(prefix="gse_ivf_idx_") + "/emb"
        build_ivf_index(emb.filter(F.col("vec_id") != 0), cents, path)
        _IVF_IDX_CACHE[sf_dir] = path
    scored = ivf_topk(
        spark, _IVF_IDX_CACHE[sf_dir], qv, cents, k=1_000_000, n_probe=2
    ).select("vec_id", F.round("cos", 5).alias("cos"))
    w = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 10
    )


def _near_dup_oracle_sql() -> str:
    from .pipeline.similarity import hyperplanes

    planes = hyperplanes(dim=64, n_planes=4, seed=42)

    def plane_lit(p):
        return "[" + ",".join(repr(float(v)) for v in p) + "]::DOUBLE[]"

    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, {plane_lit(p)}) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return (
        "WITH db AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        f"bk AS (SELECT vec_id, v, {bucket} AS b FROM db), "
        "p AS (SELECT x.vec_id AS a, y.vec_id AS b, "
        "list_cosine_similarity(x.v, y.v) AS cos "
        "FROM bk x JOIN bk y ON x.b = y.b AND x.vec_id < y.vec_id) "
        "SELECT a, b, round(cos, 6) AS cos FROM p WHERE cos >= 0.40"
    )


@register("embedding_near_dup_pairs", _near_dup_oracle_sql())
def embedding_near_dup_pairs_q(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs: LSH bucket equi-join (never
    a cross join) + exact cosine verify inside shared buckets
    (pipeline/similarity.py embedding_cosine_pairs). The oracle embeds the
    seeded hyperplanes as SQL literals and recomputes the identical bucket
    assignment."""
    from .pipeline.similarity import embedding_cosine_pairs, hyperplanes

    emb = load(spark, sf_dir, "embeddings")
    planes = hyperplanes(dim=64, n_planes=4, seed=42)
    # max_bucket_size=None: the oracle models the UNGUARDED bucket join,
    # and the guard's recursive split drops across-boundary pairs -- with
    # the default cap on, this gate would fail nondeterministically at
    # exactly the scale where a bucket first exceeds the cap. The guard
    # stays default-on in the library API; exactness is pinned separately
    # by tests/test_similarity.py's bounded-bucket identity test.
    return embedding_cosine_pairs(
        emb, planes, threshold=0.40, max_bucket_size=None
    )


@register(
    "lang_id_stopword_ratio",
    "WITH toks_arr AS (SELECT doc_id, " + TOK_SQL.format(col="text") + " AS toks "
    "FROM documents) SELECT doc_id AS id, round(CASE WHEN len(toks) > 0 THEN "
    "len(list_filter(toks, t -> t IN ("
    + ",".join(f"'{w}'" for w in _EN_STOPWORDS_SQL) + ")))"
    "::DOUBLE / len(toks) ELSE 0.0 END, 6) AS ratio FROM toks_arr",
)
def lang_id_stopword_ratio_q(spark, sf_dir):
    """Language-ID heuristic: stopword hit ratio over tokens."""
    from .pipeline.textstats import stopword_ratio

    return stopword_ratio(load(spark, sf_dir, "documents"))


@register(
    "quality_scores",
    "WITH toks_arr AS (SELECT doc_id, text, " + TOK_SQL.format(col="text")
    + " AS toks FROM documents) SELECT doc_id AS id, round("
    "0.4 * least(1.0, len(toks)::DOUBLE / 50.0) + "
    "0.3 * (CASE WHEN len(toks) > 0 THEN len(list_distinct(toks))::DOUBLE / "
    "len(toks) ELSE 0.0 END) + "
    "0.3 * (CASE WHEN length(text) > 0 THEN "
    "length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))::DOUBLE / "
    "length(text) ELSE 0.0 END), 6) AS q FROM toks_arr",
)
def quality_scores_q(spark, sf_dir):
    """Quality scoring: length saturation + lexical diversity + alnum density."""
    from .pipeline.textstats import quality_score

    return quality_score(load(spark, sf_dir, "documents"))


@register(
    "token_counts",
    # one gate covers all three token-budget estimators (round 4 roster
    # consolidation): whitespace words, tokenizer tokens, and the BPE-ish
    # pretoken count (alternation-of-classes pattern evaluates the same
    # under Java regex in Spark and RE2 in DuckDB).
    "SELECT doc_id AS id, (" + DL_SQL.format(col="text") + ")::BIGINT AS n_ws, "
    "len(" + TOK_SQL.format(col="text") + ")::BIGINT AS n_tok, "
    f"len(regexp_extract_all(text, '{_BPE_SQL}'))"
    "::BIGINT AS n_bpe FROM documents",
)
def token_counts_q(spark, sf_dir):
    """Token counting: whitespace words, tokenizer tokens, and the BPE-ish
    (GPT-2-shaped classes) LLM token-budget estimate, one row per doc."""
    from .pipeline.textstats import bpe_ish_token_count, token_counts

    docs = load(spark, sf_dir, "documents")
    return token_counts(docs).join(bpe_ish_token_count(docs), "id")


@register(
    "doc_fingerprint",
    # one gate covers both fingerprints (round 4 roster consolidation):
    # the winnowing-style min-md5-over-3-shingles fp and the Rabin-Karp
    # rolling hash h = (h*31 + codepoint) mod 2^31 (list_reduce seeds
    # with the first element, so prepend the 0).
    "WITH toks_arr AS (SELECT doc_id, text, " + TOK_SQL.format(col="text")
    + " AS toks FROM documents) SELECT doc_id AS id, "
    "list_min(list_transform(list_transform("
    "range(1, greatest(1, len(toks)-2) + 1), "
    "i -> array_to_string(toks[i:i+2], ' ')), s -> md5(s))) AS fp, "
    "(CASE WHEN length(text) > 0 THEN "
    "list_reduce(list_prepend(0::BIGINT, list_transform("
    "range(1, length(text)+1), i -> ascii(substring(text, i::INT, 1)))), "
    f"(acc, c) -> (acc*31 + c) % {_ROLLING_MOD_SQL}) ELSE 0 END)::BIGINT AS rh "
    "FROM toks_arr",
)
def doc_fingerprint_q(spark, sf_dir):
    """Document fingerprinting: winnowing-style min-md5 3-shingle fp plus
    the Rabin-Karp rolling-hash content fingerprint (JVM Column folds)."""
    from .pipeline.textstats import doc_fingerprint, rolling_hash

    docs = load(spark, sf_dir, "documents")
    return doc_fingerprint(docs).join(rolling_hash(docs), "id")


# ---------------------------------------------------------------------------
# End-to-end engine queries: the driver runs the REAL index (build ->
# salted blocks -> decode -> score) against the same DuckDB BM25 oracle.
# ---------------------------------------------------------------------------

_ENGINE_CACHE: dict = {}


def _engine(spark, sf_dir):
    """Build (once per process per sf_dir) a real index over documents."""
    if sf_dir in _ENGINE_CACHE:
        return _ENGINE_CACHE[sf_dir]
    import tempfile

    from .build.builder import IndexBuilder
    from .config import IndexSettings
    from .query.engine import SearchEngine

    settings = IndexSettings(
        name="docs_idx",
        searchable_fields=["text"],
        fields_without_prefix_search=["text"],
        salt_df_threshold=100_000,
        term_buckets=16,
    )
    docs = load(spark, sf_dir, "documents").withColumn(
        "documentID", F.format_string("doc-%08d", F.col("doc_id"))
    ).drop("doc_id")
    wh = tempfile.mkdtemp(prefix="gse_entry_wh_")
    IndexBuilder(spark, settings, wh).build(docs, num_shards=4)
    eng = SearchEngine(spark, wh, "docs_idx")
    _ENGINE_CACHE[sf_dir] = eng
    return eng


def _engine_result(df):
    """Map engine output to oracle-comparable (doc_id, score) with the
    original documents.doc_id recovered from documentID."""
    return df.select(
        F.regexp_extract("documentID", r"^doc-(\d+)$", 1)
        .cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


@register("engine_bm25_and", _bm25_sql("('data'),('value'),('table')", 3))
def engine_bm25_and(spark, sf_dir):
    """Full pipeline: checkpointed build -> salted delta+varint blocks ->
    bucket-pruned scan -> decode -> AND + BM25. Must equal the plain-SQL
    BM25 oracle exactly."""
    eng = _engine(spark, sf_dir)
    return _engine_result(
        eng.search("data value table", k=1_000_000, typo_tolerance=False)
    )


@register("engine_wand_topk", _bm25_sql("('data'),('value'),('table')", 3))
def engine_wand_topk(spark, sf_dir):
    """Same query through the block-max WAND pruned path; k covers all
    matches so the result set equals the exhaustive oracle."""
    from .query.wand import wand_topk

    eng = _engine(spark, sf_dir)
    return _engine_result(
        wand_topk(eng, "data value table", k=1_000_000, typo_tolerance=False)
    )


@register(
    "engine_typo_search",
    # typo query 'valu' (len 4 => 1 typo allowed). Oracle: candidates at
    # Damerau distance exactly 1 (DuckDB's unrestricted DL == this
    # engine's OSA at d<=1), penalty 0.8, exact-skip + best-distance-wins
    # degenerate to max over d=1 candidates when the exact term is absent.
    "WITH " + BM25_CTES + ", "
    "vocab AS (SELECT DISTINCT term FROM toks), "
    "cand AS (SELECT term, CASE WHEN term = 'valu' THEN 0 ELSE 1 END AS d "
    "FROM vocab WHERE term = 'valu' OR (abs(length(term) - 4) <= 1 "
    "AND damerau_levenshtein('valu', term) = 1)), "
    "entries AS (SELECT toks.doc_id, cand.d, "
    f"(CASE cand.d WHEN 0 THEN 1.0 ELSE 0.8 END) * ln(stats.n/df.df) * "
    f"toks.tf*{BM25_K1 + 1.0}/(toks.tf + {BM25_K1}*({1.0 - BM25_B} + "
    f"{BM25_B}*dl.dl/stats.avgdl)) AS contrib "
    "FROM toks JOIN cand USING(term) JOIN df USING(term) "
    "JOIN dl USING(doc_id), stats), "
    "best AS (SELECT doc_id, min(d) AS bd FROM entries GROUP BY doc_id) "
    "SELECT e.doc_id, round(max(e.contrib), 6) AS score FROM entries e "
    "JOIN best b ON e.doc_id = b.doc_id AND e.d = b.bd GROUP BY e.doc_id",
)
def engine_typo_search(spark, sf_dir):
    """Typo tolerance end-to-end: gates (len>=4 => 1 typo), vocabulary
    Damerau-Levenshtein scan, 0.8 penalty, exact-skip, best-distance-wins
    (service.go:176-326)."""
    eng = _engine(spark, sf_dir)
    return _engine_result(eng.search("valu", k=1_000_000, typo_tolerance=True))


@register(
    "engine_hit_info",
    # A3 hit-info accounting (service.go:443-509) on the typo query
    # 'valu data': num_typos = tokens matched only via typo (exact-skip),
    # number_exact_words = tokens whose exact term is a full word of the
    # doc. The docs_idx text field is no-prefix, so every posting is a
    # full word and the exact check degenerates to 'exact term present'
    # (the prefix-n-gram case is covered by tests/test_service_movies.py).
    "WITH " + BM25_CTES + ", "
    "vocab AS (SELECT DISTINCT term FROM toks), "
    "cand AS (SELECT 'valu' AS token, term, "
    "CASE WHEN term = 'valu' THEN 0 ELSE 1 END AS d FROM vocab "
    "WHERE term = 'valu' OR (abs(length(term) - 4) <= 1 "
    "AND damerau_levenshtein('valu', term) = 1) "
    "UNION ALL "
    "SELECT 'data', term, CASE WHEN term = 'data' THEN 0 ELSE 1 END "
    "FROM vocab WHERE term = 'data' OR (abs(length(term) - 4) <= 1 "
    "AND damerau_levenshtein('data', term) = 1)), "
    "entries AS (SELECT cand.token, toks.doc_id, cand.d, "
    f"(CASE cand.d WHEN 0 THEN 1.0 ELSE 0.8 END) * ln(stats.n/df.df) * "
    f"toks.tf*{BM25_K1 + 1.0}/(toks.tf + {BM25_K1}*({1.0 - BM25_B} + "
    f"{BM25_B}*dl.dl/stats.avgdl)) AS contrib "
    "FROM toks JOIN cand USING(term) JOIN df USING(term) "
    "JOIN dl USING(doc_id), stats), "
    "best AS (SELECT token, doc_id, min(d) AS bd FROM entries "
    "GROUP BY token, doc_id), "
    "per_tok AS (SELECT e.token, e.doc_id, max(e.contrib) AS c, "
    "min(e.d) AS bd FROM entries e JOIN best b ON e.token = b.token "
    "AND e.doc_id = b.doc_id AND e.d = b.bd GROUP BY e.token, e.doc_id) "
    "SELECT doc_id, round(sum(c), 6) AS score, "
    "sum(CASE WHEN bd > 0 THEN 1 ELSE 0 END)::INT AS num_typos, "
    "sum(CASE WHEN bd = 0 THEN 1 ELSE 0 END)::INT AS number_exact_words "
    "FROM per_tok GROUP BY doc_id HAVING count(*) = 2",
)
def engine_hit_info(spark, sf_dir):
    """A3 hit-info end-to-end: per-hit num_typos + number_exact_words
    surfaced from the build-time is_full_word bitmask."""
    eng = _engine(spark, sf_dir)
    res = eng.search("valu data", k=1_000_000, typo_tolerance=True)
    return res.select(
        F.regexp_extract("documentID", r"^doc-(\d+)$", 1)
        .cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "num_typos",
        "number_exact_words",
    )


@register(
    "engine_phrase_search",
    # positional phrase oracle: tokenize with 1-based offsets (parallel
    # unnests zip in DuckDB), anchor = pos - slot, a phrase occurrence is
    # an anchor where every slot is present (the base offset cancels, so
    # the engine's 0-based stored positions compare equal)
    "WITH pt AS (SELECT doc_id, unnest(toks) AS term, "
    "unnest(range(1, len(toks)+1)) AS pos FROM "
    "(SELECT doc_id, " + TOK_SQL.format(col="text")
    + " AS toks FROM documents)), "
    "q(term, slot) AS (VALUES ('value', 0), ('table', 1)), "
    "a AS (SELECT doc_id, pos - slot AS anchor, count(DISTINCT slot) AS c "
    "FROM pt JOIN q USING(term) GROUP BY doc_id, pos - slot), "
    "h AS (SELECT doc_id, count(*)::BIGINT AS n_occurrences FROM a "
    "WHERE c = 2 GROUP BY doc_id) "
    "SELECT doc_id, n_occurrences, rank::INT AS rank FROM "
    "(SELECT doc_id, n_occurrences, row_number() OVER "
    "(ORDER BY n_occurrences DESC, doc_id ASC) AS rank FROM h) "
    "WHERE rank <= 20",
)
def engine_phrase_search(spark, sf_dir):
    """Positional phrase search over the stored index: the posting
    positions the reference declares but never writes (index/posting.go:10)
    are populated at build and made load-bearing at query time
    (query/phrase.py -- anchor-keyed adjacency, no token-stream rescan)."""
    from .query.phrase import phrase_search

    eng = _engine(spark, sf_dir)
    res = phrase_search(eng, "value table", k=20)
    return res.select(
        F.regexp_extract("documentID", r"^doc-(\d+)$", 1)
        .cast("long").alias("doc_id"),
        "n_occurrences",
        "rank",
    )


# ---------------------------------------------------------------------------
# Relational star-schema queries over the TPC-H-ish tables: exercises
# Catalyst join planning (broadcast dims), partial aggregation, and top-k
# -- the general-analytics surface around the search engine.
# ---------------------------------------------------------------------------

@register(
    "star_join_revenue",
    "SELECT n.n_name AS nation, round(sum(l.l_extendedprice * "
    "(1 - l.l_discount)), 2) AS revenue, count(*) AS n_items "
    "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
    "JOIN customer c ON o.o_custkey = c.c_custkey "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "GROUP BY n.n_name",
)
def star_join_revenue(spark, sf_dir):
    """Fact-to-dims star join: lineitem |><| orders |><| customer |><|
    broadcast(nation), two-stage aggregation."""
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "top_parts_by_revenue",
    "SELECT p_partkey, revenue, rnk FROM ("
    "SELECT p_partkey, revenue, row_number() OVER "
    "(ORDER BY revenue DESC, p_partkey ASC) AS rnk FROM ("
    "SELECT l_partkey AS p_partkey, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
    "FROM lineitem GROUP BY l_partkey)) WHERE rnk <= 15",
)
def top_parts_by_revenue(spark, sf_dir):
    """Top-k by aggregated measure with a total-order tiebreak."""
    l = load(spark, sf_dir, "lineitem")
    agg = l.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("revenue")
    )
    w = Window.orderBy(F.desc("revenue"), F.asc("p_partkey"))
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 15)
    )


@register(
    "analytics_avg_response",
    "SELECT round(avg(value), 6) AS avg_ms, count(*) AS n FROM events",
)
def analytics_avg_response(spark, sf_dir):
    """A5: average response time (analytics/service.go:143-154)."""
    ev = load(spark, sf_dir, "events")
    return ev.agg(
        F.round(F.avg("value"), 6).alias("avg_ms"), F.count("*").alias("n")
    )


@register(
    "events_sessionization",
    "WITH g AS (SELECT user_id, ts, CASE WHEN ts - lag(ts) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL '30 minutes' "
    "OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
    "THEN 1 ELSE 0 END AS new_s, event_id FROM events), "
    "s AS (SELECT user_id, event_id, (sum(new_s) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id))::BIGINT AS session_id "
    "FROM g) "
    "SELECT user_id, session_id, count(*) AS n_events FROM s "
    "GROUP BY user_id, session_id",
)
def events_sessionization(spark, sf_dir):
    """Sessionization: 30-minute-gap sessions via lag + running sum --
    the window-function composition Spark lacks a batch primitive for.

    The gap compare runs at full timestamp precision (``prev + INTERVAL``),
    never via epoch-second casts that would truncate sub-second gaps."""
    ev = load(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")  # NTZ -> TS (UTC session)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_s = F.when(
        prev.isNull()
        | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTES")),
        1,
    ).otherwise(0)
    sess = ev.withColumn(
        "session_id", F.sum(new_s).over(w)
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events")
    )


# DuckDB replica of the deterministic fake decoder (pipeline/multimodal.py
# decode_image): width/height come from the first two BYTES of
# sha256(payload), extracted here as hex-digit pairs.
_HX = "(strpos('0123456789abcdef', substr(sha256, {p}, 1)) - 1)"
_MM_ORACLE = (
    "WITH m AS (SELECT doc_id AS media_id, "
    "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' "
    "ELSE 'video' END AS kind, "
    "octet_length(encode(text))::BIGINT AS n_bytes, "
    "sha256(text) AS sha256 FROM documents), "
    "h AS (SELECT *, "
    f"(16*{_HX.format(p=1)} + {_HX.format(p=2)}) AS h0, "
    f"(16*{_HX.format(p=3)} + {_HX.format(p=4)}) AS h1 FROM m) "
    "SELECT media_id, kind, n_bytes, sha256, "
    # width/height 0 (not NULL) for non-images: deterministic sort/hash
    "(CASE WHEN kind = 'image' THEN 4 + h0 % 13 ELSE 0 END)::INT AS width, "
    "(CASE WHEN kind = 'image' THEN 4 + h1 % 7 ELSE 0 END)::INT AS height, "
    "(CASE WHEN kind = 'image' THEN 1 "
    "ELSE greatest(1, n_bytes // 64) END)::INT AS n_frames FROM h"
)


@register("multimodal_metadata", _MM_ORACLE)
def multimodal_metadata(spark, sf_dir):
    """Multimodal plumbing: deterministic binary payloads -> Arrow-batched
    metadata extraction (decode stubbed; pipeline/multimodal.py). Every
    output field is deterministic, so the DuckDB oracle replicates the
    fake decoder's sha256-derived dimensions exactly."""
    from .pipeline.multimodal import extract_metadata, synthesize_media

    docs = load(spark, sf_dir, "documents")
    meta = extract_metadata(synthesize_media(docs), fake_decode=True)
    return meta.withColumn("width", F.coalesce("width", F.lit(0))).withColumn(
        "height", F.coalesce("height", F.lit(0))
    )


# ---------------------------------------------------------------------------
# Driver roster order (round 4, VERDICT #1/#2): the driver runs the FIRST
# 50 registered gates. Rounds 1-3 proved that registration order silently
# decides driver coverage, so the roster is (a) consolidated to exactly 50
# gates and (b) explicitly reordered so the five gates that previously
# fell off the tail run first. test_entry_parity pins len(QUERIES) <= 50.
# ---------------------------------------------------------------------------

_DRIVER_PRIORITY = [
    "multimodal_metadata",
    "analytics_avg_response",
    "events_sessionization",
    "star_join_revenue",
    "top_parts_by_revenue",
]


def _reorder_roster() -> None:
    global QUERIES, ORACLES
    missing = [k for k in _DRIVER_PRIORITY if k not in QUERIES]
    if missing:  # fail loud: a rename must update the priority list
        raise RuntimeError(f"driver-priority gates not registered: {missing}")
    order = _DRIVER_PRIORITY + [k for k in QUERIES if k not in _DRIVER_PRIORITY]
    QUERIES = {k: QUERIES[k] for k in order}
    ORACLES = {k: ORACLES[k] for k in order if k in ORACLES}


_reorder_roster()
