"""Reference-behavior invariants on the movies fixture (FIXTURES.md
section 4, transcribed from /root/reference/internal/search/
service_test.go and internal/testing/utils.go:88-119): AND intersection,
exact-beats-typo, ranking criteria with ~score pseudo-field and
missing-field null ordering, DistinctField dedup, filter truth table,
projection, pagination, multi-search.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_search_engine_spark.build.builder import IndexBuilder
from go_search_engine_spark.config import IndexSettings, RankingCriterion
from go_search_engine_spark.query.engine import SearchEngine
from go_search_engine_spark.query.filters import (
    FilterCondition,
    Filters,
    compile_filters,
)
from go_search_engine_spark.query.service import SearchRequest, SearchService

MOVIES = [
    # documentID, title, content, description, tags, category, year, rating, release_date
    ("m01", "The Matrix", "neo fights the matrix agents", "sci-fi classic action", ["sci-fi", "action"], "movie", 1999, 8.7, "1999-03-31"),
    ("m02", "The Matrix Reloaded", "neo returns to the matrix", "sci-fi sequel action", ["sci-fi", "action"], "movie", 2003, 7.2, "2003-05-15"),
    ("m03", "The Matrix Revolutions", "the matrix war ends", "sci-fi finale", ["sci-fi"], "movie", 2003, 6.8, "2003-11-05"),
    ("m04", "Inception", "dreams within dreams heist", "mind-bending thriller", ["sci-fi", "thriller"], "movie", 2010, 8.8, "2010-07-16"),
    ("m05", "Interstellar", "space farmers save humanity", "epic space opera", ["sci-fi", "space"], "movie", 2014, 8.6, "2014-11-07"),
    ("m06", "The Office", "paper company comedy", "mockumentary sitcom", ["comedy"], "series", 2005, 9.0, "2005-03-24"),
    ("m07", "Matrix Documentary", "making of the matrix film", "behind the scenes", ["documentary"], "movie", 2001, 6.0, None),
    ("m08", "Speed", "bus cannot slow down", "action thriller", ["action"], "movie", 1994, 7.3, "1994-06-10"),
    ("m09", "Spud", "boarding school story", "coming of age", ["drama"], "movie", 2010, 6.9, "2010-12-03"),
    ("m10", "Spede", "finnish comedy legend", "classic comedy", ["comedy"], "movie", 1972, 6.5, "1972-01-01"),
]

COLS = [
    "documentID", "title", "content", "description", "tags", "category",
    "year", "rating", "release_date",
]


@pytest.fixture(scope="module")
def service(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh_movies"))
    settings = IndexSettings(
        name="movies",
        searchable_fields=["title", "content", "description"],
        filterable_fields=["category", "year", "rating", "tags"],
        ranking_criteria=[
            RankingCriterion("~score", "desc"),
            RankingCriterion("rating", "desc"),
        ],
        fields_without_prefix_search=["content", "description"],
        distinct_field=None,
    )
    corpus = spark.createDataFrame(MOVIES, COLS)
    IndexBuilder(spark, settings, wh).build(corpus, num_shards=2)
    return SearchService(SearchEngine(spark, wh, "movies"))


def _ids(result):
    return [h["documentID"] for h in result.hits]


def test_and_intersection(service):
    # service_test.go:137-144: multi-token queries intersect
    r = service.search(SearchRequest(query="matrix neo", typo_tolerance=False))
    assert set(_ids(r)) == {"m01", "m02"}


def test_prefix_search_on_title(service):
    # title is prefix-indexed: "mat" matches every Matrix title via doc-side
    # edge n-grams (service.go:133 -- nothing query-side)
    r = service.search(SearchRequest(query="mat", typo_tolerance=False))
    assert {"m01", "m02", "m03", "m07"} <= set(_ids(r))


def test_exact_beats_typo(service):
    # service_test.go:1912-2024: exact "spud" outranks typo match "spede"
    r = service.search(SearchRequest(query="spud"))
    ids = _ids(r)
    assert ids[0] == "m09"
    by_id = {h["documentID"]: h for h in r.hits}
    if "m10" in by_id:  # spede is 2 edits from spud
        assert by_id["m09"]["score"] > by_id["m10"]["score"]
        assert by_id["m09"]["num_typos"] == 0
        assert by_id["m10"]["num_typos"] == 1


def test_ranking_criteria_order(service):
    # criteria applied in order: ~score desc, then rating desc, then the
    # engine fallback (score desc, doc_id asc) -- verify against a local
    # sort of the same hits (service_test.go:1738-1908 analogue)
    r = service.search(
        SearchRequest(query="matrix", typo_tolerance=False, retrievable_fields=["rating"])
    )
    got = _ids(r)
    want = [
        h["documentID"]
        for h in sorted(
            r.hits, key=lambda h: (-h["score"], -h["rating"], h["doc_id"])
        )
    ]
    assert got == want
    assert set(got) >= {"m01", "m02", "m03", "m07"}


def test_filter_tree_and_scoring(service):
    tree = Filters(
        operator="AND",
        filters=[
            FilterCondition("category", "_exact", "movie", score=1.0),
            FilterCondition("year", "_gte", 2003, score=2.0),
        ],
    )
    r = service.search(
        SearchRequest(query="matrix", filters=tree, typo_tolerance=False)
    )
    assert set(_ids(r)) == {"m02", "m03"}
    assert all(h["filter_score"] == 3.0 for h in r.hits)


def test_filter_array_contains(service):
    tree = Filters(filters=[FilterCondition("tags", "_exact", "action")])
    r = service.search(
        SearchRequest(query="matrix", filters=tree, typo_tolerance=False)
    )
    assert set(_ids(r)) == {"m01", "m02"}


def test_pagination_total(service):
    r = service.search(
        SearchRequest(query="matrix", page=1, page_size=2, typo_tolerance=False)
    )
    assert r.total >= 4  # total counted BEFORE pagination
    assert len(r.hits) == 2
    r2 = service.search(
        SearchRequest(query="matrix", page=2, page_size=2, typo_tolerance=False)
    )
    assert _ids(r)[0] != _ids(r2)[0]


def test_projection(service):
    r = service.search(
        SearchRequest(
            query="matrix",
            retrievable_fields=["title"],
            typo_tolerance=False,
        )
    )
    h = r.hits[0]
    assert "title" in h and "documentID" in h  # documentID always included
    assert "content" not in h  # projected away


def test_multi_search_single_plan(service):
    out = service.multi_search(
        {
            "a": SearchRequest(query="matrix", typo_tolerance=False),
            "b": SearchRequest(query="dreams", typo_tolerance=False),
        },
        k=5,
    ).collect()
    by_name = {}
    for r in out:
        by_name.setdefault(r["query_name"], []).append(r["documentID"])
    assert "m01" in by_name["a"]
    assert by_name["b"] == ["m04"]


def test_filter_truth_table(spark):
    """Operator truth table (service_test.go:367-450 analogue) evaluated
    directly through compile_filters on a typed frame."""
    df = spark.createDataFrame(
        [
            (1, "go", ["x", "y"], 10.0),
            (2, "py", ["y"], 20.0),
            (3, None, [], 30.0),
        ],
        "id int, lang string, tags array<string>, v double",
    )
    cases = [
        (FilterCondition("lang", "_exact", "go"), {1}),
        (FilterCondition("lang", "_ne", "go"), {2}),  # null never matches !=
        (FilterCondition("v", "_gt", 10.0), {2, 3}),
        (FilterCondition("v", "_gte", 20.0), {2, 3}),
        (FilterCondition("v", "_lt", 20.0), {1}),
        (FilterCondition("v", "_lte", 20.0), {1, 2}),
        (FilterCondition("lang", "_contains", "G"), {1}),  # case-insensitive
        (FilterCondition("lang", "_ncontains", "o"), {2}),
        (FilterCondition("tags", "_exact", "x"), {1}),  # array any-element
        (FilterCondition("tags", None, "y"), {1, 2}),  # auto => _contains
        (FilterCondition("lang", "_contains_any_of", ["go", "rs"]), {1}),
        (FilterCondition("tags", "_contains_any_of", ["y", "z"]), {1, 2}),
        # unknown op => warn + equality (applyFilterLogic default branch,
        # service.go:905-908)
        (FilterCondition("lang", "_bogus_op", "go"), {1}),
        # field absent from the schema => warn + criterion fails, never
        # an unresolved-column error (service.go:827-831)
        (FilterCondition("nope_field", "_exact", "go"), set()),
    ]
    for cond, want in cases:
        matched, _ = compile_filters(df, Filters(filters=[cond]))
        got = {r["id"] for r in df.filter(matched).select("id").collect()}
        assert got == want, f"{cond.operator} on {cond.field}"


def test_distinct_field_dedup(spark, tmp_path_factory):
    """R2 (service_test.go:285-364): keep best-ranked per distinct value,
    rows missing the field always kept."""
    wh = str(tmp_path_factory.mktemp("wh_dedup"))
    settings = IndexSettings(
        name="dd",
        searchable_fields=["title"],
        fields_without_prefix_search=["title"],
        ranking_criteria=[RankingCriterion("rating", "desc")],
        distinct_field="franchise",
    )
    rows = [
        ("d1", "alpha saga part one", "alpha", 7.0),
        ("d2", "alpha saga part two", "alpha", 9.0),
        ("d3", "alpha saga part three", "alpha", 8.0),
        ("d4", "alpha standalone", None, 5.0),
        ("d5", "alpha other", "beta", 6.0),
    ]
    corpus = spark.sparkSession if False else spark
    df = spark.createDataFrame(
        rows, "documentID string, title string, franchise string, rating double"
    )
    IndexBuilder(spark, settings, wh).build(df, num_shards=1)
    svc = SearchService(SearchEngine(spark, wh, "dd"))
    r = svc.search(SearchRequest(query="alpha", typo_tolerance=False))
    ids = set(_ids(r))
    # best of franchise alpha = d2 (rating 9); d4 kept (missing field);
    # d5 kept (franchise beta)
    assert ids == {"d2", "d4", "d5"}


def test_ranking_null_ordering(spark, tmp_path_factory):
    """Missing-field rule (service.go:561-566): asc sorts missing first,
    desc sorts missing last."""
    wh = str(tmp_path_factory.mktemp("wh_nulls"))
    settings = IndexSettings(
        name="nulls",
        searchable_fields=["title"],
        fields_without_prefix_search=["title"],
        ranking_criteria=[RankingCriterion("popularity", "desc")],
    )
    rows = [
        ("n1", "zeta item", 5.0),
        ("n2", "zeta item", None),
        ("n3", "zeta item", 9.0),
    ]
    df = spark.createDataFrame(
        rows, "documentID string, title string, popularity double"
    )
    IndexBuilder(spark, settings, wh).build(df, num_shards=1)
    svc = SearchService(SearchEngine(spark, wh, "nulls"))
    r = svc.search(SearchRequest(query="zeta", typo_tolerance=False))
    assert _ids(r) == ["n3", "n1", "n2"]  # desc => null last

    # asc => null first
    svc.settings.ranking_criteria = [RankingCriterion("popularity", "asc")]
    r = svc.search(SearchRequest(query="zeta", typo_tolerance=False))
    assert _ids(r) == ["n2", "n1", "n3"]


def test_hit_info_exact_words_prefix_vs_full(service):
    """A3 (service.go:443-509): a prefix-n-gram match is NOT an exact
    word; the full token is."""
    # 'mat' matches Matrix titles only via doc-side edge n-grams
    r = service.search(SearchRequest(query="mat", typo_tolerance=False))
    by_id = {h["documentID"]: h for h in r.hits}
    assert by_id["m01"]["number_exact_words"] == 0
    assert by_id["m01"]["num_typos"] == 0

    # 'matrix' is a full word of the title/content
    r = service.search(SearchRequest(query="matrix", typo_tolerance=False))
    by_id = {h["documentID"]: h for h in r.hits}
    assert by_id["m01"]["number_exact_words"] == 1

    # two exact full words
    r = service.search(SearchRequest(query="matrix neo", typo_tolerance=False))
    by_id = {h["documentID"]: h for h in r.hits}
    assert by_id["m01"]["number_exact_words"] == 2
    assert by_id["m01"]["num_typos"] == 0


def test_hit_info_typo_not_exact(service):
    """A typo-only match counts in num_typos, never in
    number_exact_words."""
    r = service.search(SearchRequest(query="spud"))
    by_id = {h["documentID"]: h for h in r.hits}
    assert by_id["m09"]["number_exact_words"] == 1
    assert by_id["m09"]["num_typos"] == 0
    if "m10" in by_id:
        assert by_id["m10"]["number_exact_words"] == 0
        assert by_id["m10"]["num_typos"] == 1


def test_field_matches_display(service):
    """FieldMatches rendering (service.go:425-432, 481-486): exact
    matches display as the term, typo matches as 'term(typo)'."""
    eng = service.engine
    cand = eng.candidate_terms(["spud"], typo_tolerance=True)
    fm = {
        r["doc_id"]: r["field_matches"]
        for r in eng.field_matches(cand, eng.settings.searchable_fields).collect()
    }
    docs = {
        r["documentID"]: r["doc_id"]
        for r in eng.docs.select("documentID", "doc_id").collect()
    }
    m09 = fm[docs["m09"]]
    assert "spud" in [t for terms in m09.values() for t in terms]
    if docs["m10"] in fm:
        m10_terms = [t for terms in fm[docs["m10"]].values() for t in terms]
        assert all(t.endswith("(typo)") for t in m10_terms)


def test_query_level_typo_override(service):
    """Q7 (service.go:191-200): per-request MinWordSizeFor1Typo overrides
    the index default."""
    base = service.search(SearchRequest(query="spud"))
    assert "m10" in _ids(base)  # default gate: len 4 => 1 typo allowed

    strict = service.search(
        SearchRequest(query="spud", min_word_size_for_1_typo=10,
                      min_word_size_for_2_typos=20)
    )
    assert _ids(strict) == ["m09"]  # typo matching gated off

    loose = service.search(
        SearchRequest(query="spu", min_word_size_for_1_typo=3)
    )
    # len-3 token now typo-eligible: 'spud' at distance 1
    assert "m09" in _ids(loose)


def test_multi_search_single_vocab_scan(service, monkeypatch):
    """J4: one typo scan + one action for N requests."""
    eng = service.engine
    calls = {"n": 0}
    orig = type(eng).typo_scan

    def counting(self, eligible):
        calls["n"] += 1
        return orig(self, eligible)

    monkeypatch.setattr(type(eng), "typo_scan", counting)
    sc = eng.spark.sparkContext
    sc.setJobGroup("ms_test", "multi-search")
    out = service.multi_search(
        {
            "a": SearchRequest(query="matrix"),
            "b": SearchRequest(query="dreams"),
            "c": SearchRequest(query="spud"),
            "d": SearchRequest(query="space humanity"),
        },
        k=5,
    ).collect()
    sc.setJobGroup("", "")
    assert calls["n"] == 1  # ONE vocabulary pass for all four requests
    by_name = {}
    for r in out:
        by_name.setdefault(r["query_name"], []).append(r["documentID"])
    assert "m01" in by_name["a"] and by_name["b"] == ["m04"]
    assert by_name["c"][0] == "m09" and by_name["d"] == ["m05"]
    # per-request results equal the direct path (merged-scan slicing)
    direct = service.search(SearchRequest(query="spud"))
    assert by_name["c"] == _ids(direct)[:5]


def test_no_typo_tolerance_fields(spark, tmp_path_factory):
    """no_typo_tolerance_fields: typo matches count only in other fields
    (setting declared at config/settings.go:39 but never enforced by the
    reference's search path; this engine implements the documented
    semantics). Engine must stay rank-identical to the oracle."""
    import math

    from go_search_engine_spark.oracle.oracle import OracleIndex

    wh = str(tmp_path_factory.mktemp("wh_ntf"))
    docs = [
        # documentID, title, body
        ("d1", "spud farm", "boarding school"),        # exact in title
        ("d2", "harvest news", "spud recipes daily"),  # exact in body
        ("d3", "spuds catalog", "gardening tools"),    # typo in title -> counts
        ("d4", "tool shed", "spuds inventory list"),   # typo ONLY in body -> excluded
    ]
    settings = IndexSettings(
        name="ntf",
        searchable_fields=["title", "body"],
        fields_without_prefix_search=["title", "body"],
        no_typo_tolerance_fields=["body"],
    )
    corpus = spark.createDataFrame(docs, ["documentID", "title", "body"])
    IndexBuilder(spark, settings, wh).build(corpus, num_shards=1)
    engine = SearchEngine(spark, wh, "ntf")
    oracle = OracleIndex([r.asDict() for r in corpus.collect()], settings)

    got = engine.search("spud", k=10).collect()
    want = oracle.search("spud", k=10)
    assert [r["documentID"] for r in got] == [h.document_id for h in want]
    for g, w in zip(got, want):
        assert math.isclose(g["score"], w.score, rel_tol=1e-9)
        assert g["num_typos"] == w.num_typos

    ids = {r["documentID"] for r in got}
    assert {"d1", "d2", "d3"} <= ids      # exact anywhere + typo in title
    assert "d4" not in ids                # typo only in the no-typo field

    # field_matches applies the same exclusion: d3 shows 'spade(typo)'
    # under title; no doc shows a typo display under body
    cand = engine.candidate_terms(["spud"], typo_tolerance=True)
    fm = {r["doc_id"]: r["field_matches"]
          for r in engine.field_matches(cand, ["title", "body"]).collect()}
    for m in fm.values():
        for disp in m.get("body", []):
            assert "(typo)" not in disp


def test_highlight_offsets(service):
    """highlight(): stored token offsets per (doc, field), typo matches
    displayed as 'term(typo)' (same survivor rules as field_matches)."""
    eng = service.engine
    docs = {r["documentID"]: r["doc_id"]
            for r in eng.docs.select("doc_id", "documentID").collect()}

    cand = eng.candidate_terms(["matrix"], typo_tolerance=False)
    rows = eng.highlight(cand, eng.settings.searchable_fields).collect()
    by = {(r["doc_id"], r["field"]): r for r in rows}
    # m01 title "The Matrix" -> offset 1; content "neo fights the matrix
    # agents" -> offset 3; all exact, display == term
    t = by[(docs["m01"], "title")]
    assert t["display"] == "matrix" and list(t["positions"]) == [1]
    c = by[(docs["m01"], "content")]
    assert list(c["positions"]) == [3]

    # typo path: 'spedi' is 1 edit from 'spede' (m10) and, unlike 'sped',
    # is NOT one of its edge n-grams -- no exact match suppresses the typo
    cand2 = eng.candidate_terms(["spedi"], typo_tolerance=True)
    rows2 = eng.highlight(cand2, eng.settings.searchable_fields).collect()
    disp = {r["display"] for r in rows2 if r["doc_id"] == docs["m10"]}
    assert "spede(typo)" in disp


def test_highlight_offsets_spark_read(service, spark_read):
    """test_highlight_offsets on the distributed posting read."""
    test_highlight_offsets(service)


def test_include_field_matches(service):
    """SearchRequest(include_field_matches=True): per-hit FieldMatches
    map (field -> matched display terms), reference service.go:425-432."""
    r = service.search(
        SearchRequest(query="matrix neo", typo_tolerance=False,
                      include_field_matches=True)
    )
    # the ranked page order must survive field-match rendering
    plain = service.search(
        SearchRequest(query="matrix neo", typo_tolerance=False)
    )
    assert _ids(r) == _ids(plain)
    by_id = {h["documentID"]: h for h in r.hits}
    assert "m01" in by_id
    fm = by_id["m01"]["field_matches"]
    assert "matrix" in fm["title"]
    assert "matrix" in fm["content"] and "neo" in fm["content"]
    # off by default
    r2 = service.search(SearchRequest(query="matrix neo",
                                      typo_tolerance=False))
    assert "field_matches" not in r2.hits[0]


def test_search_single_pass_scan(service, monkeypatch):
    """The ranked frame is persisted, so a whole service request (total
    count + page slice) decodes the candidate posting blocks EXACTLY as
    many times as one engine pass -- never twice. Measured with an
    accumulator counting block rows entering the decoder (job counts are
    meaningless under AQE: every exchange materialization is its own
    job).

    Only the Spark read pins single EXECUTION: there the decode runs in
    the frame's tasks, so a second execution of the ranked frame would
    count twice. The driver read decodes at plan construction, so on it
    the count pins that a service request builds the posting read once
    (no second plan for the total count); executing the frame twice
    would leave it unchanged."""
    import go_search_engine_spark.query.engine as eng_mod

    eng = service.engine
    acc = eng.spark.sparkContext.accumulator(0)
    orig = eng_mod.decode_blocks_arrow

    def counting(batches):
        def metered():
            for rb in batches:
                acc.add(rb.num_rows)
                yield rb

        return orig(metered())

    monkeypatch.setattr(eng_mod, "decode_blocks_arrow", counting)
    for path in ("driver", "spark"):
        if path == "spark":
            monkeypatch.setattr(eng_mod, "DRIVER_READ_MAX_ROWS", 0)
        start = acc.value
        eng.search("matrix neo", k=10, typo_tolerance=False).collect()
        one_pass = acc.value - start
        assert one_pass > 0, path
        service.search(SearchRequest(query="matrix neo", typo_tolerance=False))
        service_pass = acc.value - start - one_pass
        what = (
            "executed" if path == "spark" else "planned (posting read built)"
        )
        assert service_pass == one_pass, (
            f"{path} read: service request decoded {service_pass} block "
            f"rows vs {one_pass} for a single engine pass -- the ranked "
            f"frame is being {what} more than once"
        )


def test_filter_non_filterable_field_warns(service, caplog):
    """Advisory filterable-fields validation (reference service.go:823-825):
    filtering on a field outside filterable_fields logs a warning but the
    filter is still applied (proceed-anyway semantics)."""
    import logging

    req = SearchRequest(
        query="matrix",
        filters=Filters(
            operator="AND",
            filters=[FilterCondition("release_date", "_exact", "1999-03-31")],
        ),
    )
    with caplog.at_level(logging.WARNING,
                         logger="go_search_engine_spark.query.filters"):
        res = service.search(req)
    assert any(
        "non-filterable" in r.message and "release_date" in r.message
        for r in caplog.records
    )
    assert _ids(res) == ["m01"]  # filter still evaluated

    # filtering on configured fields stays silent
    caplog.clear()
    req2 = SearchRequest(
        query="matrix",
        filters=Filters(
            operator="AND",
            filters=[FilterCondition("category", "_exact", "movie")],
        ),
    )
    with caplog.at_level(logging.WARNING,
                         logger="go_search_engine_spark.query.filters"):
        service.search(req2)
    assert not [r for r in caplog.records if "non-filterable" in r.message]


def test_multi_search_envelopes_match_single_search(service):
    """multi_search_envelopes returns per-request SearchResult parity with
    lone search() calls (reference multi_search.go:12-81 returns a full
    response per query) while executing as one batched plan."""
    reqs = {
        "plain": SearchRequest(query="matrix"),
        "typo": SearchRequest(query="matrx", page_size=3),
        "filtered": SearchRequest(
            query="matrix",
            filters=Filters(
                operator="AND",
                filters=[FilterCondition("category", "_exact", "movie")],
            ),
            page=2,
            page_size=2,
        ),
        "projected": SearchRequest(
            query="sci", retrievable_fields=["title", "year"]
        ),
        "nomatch": SearchRequest(query="zzzzzz"),
        "empty": SearchRequest(query="!!!"),
    }
    multi = service.multi_search_envelopes(reqs)
    assert set(multi) == set(reqs)
    for name, req in reqs.items():
        single = service.search(req)
        m = multi[name]
        assert m.total == single.total, name
        assert m.page == single.page and m.page_size == single.page_size
        assert [
            {k: v for k, v in h.items()} for h in m.hits
        ] == [dict(h) for h in single.hits], name


def test_empty_query_with_retrievable_fields(service):
    """An empty-tokenizing query with retrievable_fields set returns an
    empty result, not an AnalysisException (the empty frame lacks
    filter_score; projection selects only present columns)."""
    r = service.search(
        SearchRequest(query="!!!", retrievable_fields=["title"])
    )
    assert r.hits == [] and r.total == 0


def test_filter_expression_operator_defaults_to_or(spark):
    """Reference: an empty/missing expression operator means OR
    (service.go:749-750), and unknown expression operators warn +
    default to OR (:779-781) -- not AND."""
    df = spark.createDataFrame(
        [(1, "go", 5.0), (2, "rs", 5.0), (3, "py", 1.0)],
        "id int, lang string, v double",
    )
    conds = [
        FilterCondition("lang", "_exact", "go", score=1.0),
        FilterCondition("v", "_gte", 4.0, score=2.0),
    ]
    # default (no operator passed) => OR: match if either holds
    matched, score = compile_filters(df, Filters(filters=conds))
    got = {
        r["id"]: r["s"]
        for r in df.withColumn("s", score).filter(matched).select("id", "s").collect()
    }
    # doc 1 matches both (score 3), doc 2 matches the _gte only (2)
    assert got == {1: 3.0, 2: 2.0}
    # unknown operator string also takes the OR branch
    matched_u, _ = compile_filters(
        df, Filters(operator="XOR", filters=conds)
    )
    assert {r["id"] for r in df.filter(matched_u).select("id").collect()} == {1, 2}
    # explicit AND still intersects
    matched_a, _ = compile_filters(
        df, Filters(operator="AND", filters=conds)
    )
    assert {r["id"] for r in df.filter(matched_a).select("id").collect()} == {1}


def test_non_typo_tolerant_words_case_insensitive(spark, tmp_path_factory):
    """Reference compares non_typo_tolerant_words with strings.EqualFold
    and lowercased HasPrefix (service.go:179-183, 204-228): a
    capitalized settings entry must still suppress typo candidates for
    its lowercase index term."""
    wh = str(tmp_path_factory.mktemp("wh_ntw"))
    settings = IndexSettings(
        name="ntw",
        searchable_fields=["title", "content"],
        fields_without_prefix_search=["content"],
        non_typo_tolerant_words=["Spud"],  # capitalized on purpose
    )
    corpus = spark.createDataFrame(MOVIES, COLS)
    IndexBuilder(spark, settings, wh).build(corpus, num_shards=2)
    eng = SearchEngine(spark, wh, "ntw")

    # 'spua' is distance 1 from 'spud'; the candidate 'spud' must be
    # rejected by the case-insensitive guard, so the query has no hits
    assert eng.search("spua", k=10).count() == 0
    # the query token 'spud' itself is gated (EqualFold membership):
    # only exact matches, never typo expansion
    rows = eng.search("spud", k=10).collect()
    assert rows and all(r["num_typos"] == 0 for r in rows)


def test_filter_edge_inputs(service):
    """Round-4 review edges: an empty filter GROUP matches-all with zero
    score (the reference's empty-expression rule applied to a nested
    group); a STRING _contains_any_of value is a loud ValueError, never
    per-character matching."""
    import pytest

    from go_search_engine_spark.query.filters import (
        FilterCondition,
        Filters,
        compile_filters,
    )

    docs = service.engine.docs
    # empty nested group inside an AND: behaves as a matching, 0-score leg
    f = Filters(operator="AND", filters=[
        FilterCondition(field="year", operator="_gte", value=1999, score=2.0)
    ], groups=[Filters()])
    m, sc = compile_filters(docs, f)
    rows = docs.filter(m).count()
    assert rows == docs.filter(F.col("year") >= 1999).count()
    # None group from a library caller: same, never an AttributeError
    f2 = Filters(operator="OR", filters=[
        FilterCondition(field="year", operator="_gte", value=1999)
    ], groups=[None])
    m2, _ = compile_filters(docs, f2)
    docs.filter(m2).count()
    # string value for _contains_any_of -> ValueError (HTTP 400), not
    # silent per-character isin
    f3 = Filters(filters=[FilterCondition(
        field="title", operator="_contains_any_of", value="neo")])
    with pytest.raises(ValueError, match="_contains_any_of"):
        compile_filters(docs, f3)


def test_multi_search_validates_fields_on_empty_query(service):
    """A bad restrict_searchable_fields must raise even when the query
    tokenizes to nothing -- same contract as a lone search()."""
    import pytest

    from go_search_engine_spark.query.service import SearchRequest

    with pytest.raises(ValueError, match="non-searchable"):
        service.multi_search_envelopes({
            "bad": SearchRequest(
                query="", restrict_searchable_fields=["nope"]
            ),
        })
    with pytest.raises(ValueError, match="non-searchable"):
        service.multi_search({
            "bad": SearchRequest(
                query="", restrict_searchable_fields=["nope"]
            ),
        })


def test_multi_search_envelopes_random_batches(service):
    """Randomized batches through the shared-vocab-scan multi-search:
    every envelope must equal the lone search() for the same request.
    The batch path merges typo gates across requests and slices one
    scan's candidates back out per request (service.py multi_search) --
    cross-request contamination (one query's looser gate leaking
    another's typo candidates, or a stricter one suppressing them)
    is exactly what handwritten batches undersample."""
    import random

    rng = random.Random(1312)
    pool = ["matrix", "matrx", "neo", "spede", "spud", "sped", "comedy",
            "dreams", "space", "agents", "paper", "zzz", "the", "sci"]
    for batch_no in range(6):
        reqs = {}
        for i in range(rng.randint(2, 5)):
            words = rng.sample(pool, rng.randint(1, 2))
            reqs[f"q{batch_no}_{i}"] = SearchRequest(
                query=" ".join(words),
                page=rng.choice([1, 1, 2]),
                page_size=rng.choice([3, 5, 10]),
                typo_tolerance=rng.random() < 0.8,
                min_word_size_for_1_typo=rng.choice([None, 0, 1, 4]),
                min_word_size_for_2_typos=rng.choice([None, 0, 5]),
            )
        multi = service.multi_search_envelopes(reqs)
        assert set(multi) == set(reqs)
        for name, req in reqs.items():
            single = service.search(req)
            m = multi[name]
            assert m.total == single.total, name
            assert [dict(h) for h in m.hits] == [
                dict(h) for h in single.hits
            ], name
