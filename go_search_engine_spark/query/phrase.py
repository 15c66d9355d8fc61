"""Positional phrase search over the stored posting positions.

The reference DECLARES per-posting token positions (index/posting.go:10,
"Added to store token positions") but never writes or reads them; this
engine populates them at build (build/flatmap.py) and makes them
load-bearing here -- new work the reference lacks, enabled by the stored
index rather than a document rescan.

Semantics: a phrase "t1 t2 ... tn" matches a document iff some field's
token stream contains t1..tn at consecutive offsets (tokens from the
standard tokenizer, so "HTTPRequest" matches the phrase "http request").
Matches never span fields. On prefix-n-gram fields only FULL-WORD entries
participate (an edge n-gram is not a word occurrence; its stored position
is the generating token's).

Plan shape (scale notes):
  phrase tokens --exact terms--> SearchEngine.decoded_postings WITH
  positions (the BM25 engine's posting reader: bucket-pruned, ``term IN``
  pushdown, Arrow-batched decode; read on the driver into one partition
  when the terms' df bound is at most DRIVER_READ_MAX_ROWS, else a Spark
  scan + decode hash-partitioned by doc_id) --> broadcast join against the
  (term, slot) phrase table --> explode positions --> anchor = position
  - slot --> groupBy(doc, field, anchor) having all n slots present
  (bit_or slot mask; countDistinct for 64+-token phrases) --> per-doc
  occurrence count --> SearchEngine.finish_topk (top-k, then a k-row
  broadcast into the docs join).
Every grouping here clusters on a key set containing doc_id, so the
reader's partitioning serves them all: no exchange before top-k on the
driver read, one doc_id exchange on the Spark read. The anchor trick
turns adjacency into an equi-key aggregation -- no self-join per
adjacent pair, no window over the token stream.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenizer import tokenize


def phrase_search(
    engine,
    phrase: str,
    k: int = 10,
    fields: list[str] | None = None,
) -> DataFrame:
    """Top-k documents containing the exact phrase, ranked by occurrence
    count (desc) then doc_id (asc). Returns (rank, doc_id, documentID,
    n_occurrences)."""
    engine._ensure_fresh()
    s = engine.settings
    fields = fields or s.searchable_fields
    bad = set(fields) - set(s.searchable_fields)
    if bad:
        raise ValueError(f"non-searchable fields: {sorted(bad)}")
    tokens = tokenize(phrase)  # order AND duplicates both matter here
    if not tokens:
        return _empty(engine)
    n = len(tokens)

    # shared positional scan: zero-job empty detection from driver-side
    # df stats, full-word filter, and rare-term (doc, field) semi-join
    # pruning BEFORE the position explode on df-skewed phrases
    decoded = _scan_positions(engine, tokens, fields)
    if decoded is None:
        return _empty(engine)

    qidx = F.broadcast(
        engine.spark.createDataFrame(
            [(t, i) for i, t in enumerate(tokens)], "term string, slot int"
        )
    )
    grouped = (
        # broadcast join: narrow, so the reader's doc_id clustering
        # reaches every grouping below (their key sets contain doc_id)
        decoded.join(qidx, "term")
        .select(
            "doc_id",
            "field",
            "slot",
            F.explode("positions").alias("pos"),
        )
        .withColumn("anchor", F.col("pos") - F.col("slot"))
        .groupBy("doc_id", "field", "anchor")
    )
    if n <= 63:
        # a match needs ALL n slots in the (doc, field, anchor) group; a
        # bit_or of slot bits tests that in ONE aggregation pass and is
        # duplicate-safe (OR is idempotent). count(DISTINCT slot) planned
        # an extra partial-dedup level over the exploded position stream
        # -- the operator's largest frame (150k index, steady: 1.29 ->
        # 1.16s). Phrases longer than a long's bits keep the distinct
        # path.
        anchors = grouped.agg(
            F.bit_or(F.expr("shiftleft(1L, slot)")).alias("_m")
        ).filter(F.col("_m") == F.lit((1 << n) - 1))
    else:
        anchors = grouped.agg(
            F.countDistinct("slot").alias("_ns")
        ).filter(F.col("_ns") == n)
    hits = anchors.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_occurrences")
    )
    return engine.finish_topk(hits, k, "n_occurrences", ())


def _scan_positions(engine, terms: list[str], fields: list[str]):
    """Shared candidate scan for the positional operators: decoded
    (term, field, doc_id, positions) of full-word entries, with zero-job
    empty detection and rare-term (doc, field) semi-join pruning on
    df-skewed term sets. Returns None when some term is unindexed."""
    if not getattr(engine.settings, "store_positions", True):
        raise ValueError(
            "index was built with store_positions=False; phrase/"
            "proximity need stored positions -- rebuild with "
            "store_positions=True"
        )
    meta = engine._with_stats(pd.DataFrame({"term": sorted(set(terms))}))
    dfs = dict(zip(meta["term"], (int(x) for x in meta["df"])))
    if min(dfs.values()) == 0:
        return None
    decoded = engine.decoded_postings(meta, fields, positions=True).filter(
        F.col("fw")
    )
    if len(dfs) > 1 and max(dfs.values()) >= 4 * min(dfs.values()):
        # deliberate SECOND read of the rare term's blocks (bucket-pruned,
        # cheap by definition): deriving the pair set from `decoded`
        # instead would re-decode EVERY term's blocks (Catalyst does not
        # dedupe shared subplans without a persist, and persisting all
        # decoded postings is worse at scale than re-reading the rare
        # ones). Delta-aware through the same reader, so a doc whose
        # rare-term posting lives only in a delta gen still survives the
        # semi-join.
        rare_t = min(dfs, key=lambda t: (dfs[t], t))
        rare_pairs = (
            engine.decoded_postings(
                meta[meta["term"] == rare_t], fields, positions=True
            )
            .filter(F.col("fw"))
            .select("doc_id", "field")
            .distinct()
        )
        decoded = decoded.join(rare_pairs, ["doc_id", "field"], "left_semi")
    return decoded


def proximity_search(
    engine,
    query: str,
    window: int = 8,
    k: int = 10,
    fields: list[str] | None = None,
) -> DataFrame:
    """Unordered windowed co-occurrence: top-k documents where EVERY
    distinct query token occurs within some ``window`` consecutive token
    positions of one field, ranked by the number of distinct qualifying
    window starts (desc) then doc_id. Returns (rank, doc_id, documentID,
    n_windows).

    Same anchor trick as the phrase operator, generalized: an occurrence
    at position p covers window starts [p - window + 1, p], so each
    occurrence explodes into ``window`` anchor rows (bounded blowup,
    documented) and a qualifying window is a (doc, field, anchor) group
    containing all n distinct tokens -- an equi-key aggregation, no
    pairwise position self-join."""
    engine._ensure_fresh()
    if window < 1:
        raise ValueError("window must be >= 1")
    s = engine.settings
    fields = fields or s.searchable_fields
    bad = set(fields) - set(s.searchable_fields)
    if bad:
        raise ValueError(f"non-searchable fields: {sorted(bad)}")
    terms = sorted(set(tokenize(query)))  # unordered: distinct tokens
    if not terms:
        return _empty_prox(engine)
    n = len(terms)
    decoded = _scan_positions(engine, terms, fields)
    if decoded is None:
        return _empty_prox(engine)
    anchors = (
        decoded.select("doc_id", "field", "term",
                       F.explode("positions").alias("pos"))
        .select(
            "doc_id",
            "field",
            "term",
            F.explode(
                F.sequence(
                    F.col("pos") - F.lit(window - 1), F.col("pos")
                )
            ).alias("w"),
        )
        .groupBy("doc_id", "field", "w")
        .agg(F.countDistinct("term").alias("_nt"))
        .filter(F.col("_nt") == n)
    )
    hits = anchors.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_windows")
    )
    return engine.finish_topk(hits, k, "n_windows", ())


def _empty_prox(engine) -> DataFrame:
    return engine.spark.createDataFrame(
        [],
        schema="rank int, doc_id long, documentID string, n_windows long",
    )


def _empty(engine) -> DataFrame:
    return engine.spark.createDataFrame(
        [],
        schema="rank int, doc_id long, documentID string, n_occurrences long",
    )
