"""Rank identity: the Spark engine's top-k (doc ids AND BM25 scores) must
match the pure-Python oracle implementing the reference semantics, over a
query set covering exact terms, camelCase multi-token AND, prefix search,
1- and 2-edit typos (incl. transpositions), head terms, and no-match.
"""

from __future__ import annotations

import math

import pytest

from go_search_engine_spark.build.builder import IndexBuilder
from go_search_engine_spark.config import IndexSettings
from go_search_engine_spark.corpus import generate_corpus
from go_search_engine_spark.oracle.oracle import OracleIndex
from go_search_engine_spark.query.engine import SearchEngine

N_DOCS = 220

QUERIES = [
    ("q_exact_ident", "tokenizer", 10),
    ("q_camel_multi", "HTTPRequestManager", 10),  # -> http request manager
    ("q_typo1_transpose", "tokenzier", 10),
    ("q_typo1_del", "tokenizr", 10),
    ("q_typo2", "levenshtein", 10),
    ("q_multi_and", "deltaEncode varintDecode", 10),
    ("q_head_term", "func", 15),
    ("q_short_no_typo", "err", 10),  # len 3 < min1=4 -> no typos
    ("q_mixed", "mergeSegments buffer", 10),
    ("q_nomatch", "zzzqqqxxx", 10),
    ("q_stacked", "blockMaxWand", 5),
]


@pytest.fixture(scope="module")
def engine_and_oracle(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh_rank"))
    settings = IndexSettings(
        name="rank",
        searchable_fields=["content", "path"],
        fields_without_prefix_search=["content"],
        block_size=32,
        salt_df_threshold=120,
        salt_buckets=4,
    )
    corpus = generate_corpus(spark, N_DOCS, seed=21, words_per_doc=25)
    builder = IndexBuilder(spark, settings, wh)
    builder.build(corpus, num_shards=3)
    engine = SearchEngine(spark, wh, "rank")
    oracle = OracleIndex([r.asDict() for r in corpus.collect()], settings)
    return engine, oracle


@pytest.mark.parametrize("qid,query,k", QUERIES)
def test_rank_identical(engine_and_oracle, qid, query, k):
    engine, oracle = engine_and_oracle
    got = engine.search(query, k=k).collect()
    want = oracle.search(query, k=k)
    assert [r["doc_id"] for r in got] == [h.doc_id for h in want], qid
    assert [r["documentID"] for r in got] == [h.document_id for h in want]
    for g, w in zip(got, want):
        assert math.isclose(g["score"], w.score, rel_tol=1e-9, abs_tol=1e-12)
        assert g["num_typos"] == w.num_typos


@pytest.mark.parametrize("qid,query,k", QUERIES)
def test_rank_identical_spark_read(engine_and_oracle, spark_read, qid, query, k):
    """test_rank_identical on the distributed posting read (scan +
    mapInArrow decode + doc_id exchange) instead of the driver read."""
    test_rank_identical(engine_and_oracle, qid, query, k)


def test_prefix_search_on_path(engine_and_oracle):
    # path field is prefix-indexed: a query prefix of "file"/"pkg" matches
    # via doc-side edge n-grams, nothing query-side (service.go:133)
    engine, oracle = engine_and_oracle
    got = engine.search("fil", k=10, fields=["path"], typo_tolerance=False).collect()
    want = oracle.search("fil", k=10, fields=["path"], typo_tolerance=False)
    assert len(want) > 0
    assert [r["doc_id"] for r in got] == [h.doc_id for h in want]
    for g, w in zip(got, want):
        assert math.isclose(g["score"], w.score, rel_tol=1e-9)


def test_field_restriction_validation(engine_and_oracle):
    engine, _ = engine_and_oracle
    with pytest.raises(ValueError, match="non-searchable"):
        engine.search("tokenizer", fields=["lang"])


def test_exact_beats_typo(engine_and_oracle):
    """Invariant from the reference tests (service_test.go:1912-2024): for
    a term with a planted distance-1 neighbour, docs containing the exact
    term outrank docs containing only the typo'd variant."""
    engine, oracle = engine_and_oracle
    rows = engine.search("tokenizer", k=50).collect()
    by_doc = {r["doc_id"]: r for r in rows}
    exact_scores = [r["score"] for r in rows if r["num_typos"] == 0]
    typo_scores = [r["score"] for r in rows if r["num_typos"] > 0]
    assert exact_scores, "expected exact matches"
    if typo_scores:
        # typo contributions carry the 0.8/0.6 penalty; with this corpus's
        # homogeneous tf/dl the best exact outranks the best typo match
        assert max(exact_scores) > max(typo_scores)


def test_zero_min_word_size_disables_typos(engine_and_oracle):
    """Reference semantics: the `> 0` guard applies to the RESOLVED
    min_word_size (index setting or query override,
    service.go:192-202), so a value of 0 DISABLES candidates at that
    distance tier -- it does not grant typo tolerance to every token.
    A low positive override (1) is what loosens the gate. Engine and
    oracle must agree on both."""
    import math as _math

    engine, oracle = engine_and_oracle
    # 'err' is len 3 < default min1=4: typo-ineligible normally
    strict = engine.search("err", k=10).collect()
    assert not [r for r in strict if r["num_typos"] > 0]

    # 0 disables distance-1 candidates outright: identical to strict
    zero = engine.search("err", k=10, min_word_size_for_1_typo=0).collect()
    assert [r["doc_id"] for r in zero] == [r["doc_id"] for r in strict]
    assert not [r for r in zero if r["num_typos"] > 0]

    # a positive override of 1 makes every token typo-eligible
    loose = engine.search("err", k=10, min_word_size_for_1_typo=1).collect()
    o = oracle.settings
    saved = o.min_word_size_for_1_typo
    o.min_word_size_for_1_typo = 1
    try:
        want = oracle.search("err", k=10)
    finally:
        o.min_word_size_for_1_typo = saved
    assert [r["doc_id"] for r in loose] == [h.doc_id for h in want]
    for g, w in zip(loose, want):
        assert _math.isclose(g["score"], w.score, rel_tol=1e-9)


def test_tier_based_typo_penalty(engine_and_oracle):
    """Reference semantics (service.go:246 vs :316): penalties attach to
    the SCAN TIER, not the true edit distance. When the 1-typo pass is
    gated off (min_word_size_for_1_typo=0) but the 2-typo pass runs, a
    distance-1 term is found by the 2-typo scan and penalized x0.6, not
    x0.8. Engine and oracle must agree with each other AND score exactly
    0.75x the both-tiers score (0.6/0.8)."""
    import math as _math

    engine, oracle = engine_and_oracle
    q = "tokenzier"  # distance-1 neighbour of the indexed 'tokenizer'

    both = engine.search(
        q, k=120, min_word_size_for_1_typo=4, min_word_size_for_2_typos=7
    ).collect()
    only2 = engine.search(
        q, k=120, min_word_size_for_1_typo=0, min_word_size_for_2_typos=7
    ).collect()
    typo_both = [r for r in both if r["num_typos"] == 1]
    typo_only2 = [r for r in only2 if r["num_typos"] == 1]
    assert typo_both and typo_only2
    # a best-distance-1 doc is penalized x0.8 in the both-tiers config
    # and x0.6 in the 2-typo-only config; the per-doc score is the MAX
    # over penalized candidate contributions, so the ratio is exactly
    # 0.75 when the d1 term stays the max and in (0.75, 1) when a d2
    # term takes over -- never higher, never below 0.75
    by_id = {r["doc_id"]: r["score"] for r in typo_both}
    checked = 0
    for r in typo_only2:
        b = by_id.get(r["doc_id"], 0)
        if b > 0:
            assert b * 0.75 - 1e-9 <= r["score"] <= b + 1e-9
            checked += 1
    assert checked > 0

    o = oracle.settings
    saved = (o.min_word_size_for_1_typo, o.min_word_size_for_2_typos)
    o.min_word_size_for_1_typo, o.min_word_size_for_2_typos = 0, 7
    try:
        want = oracle.search(q, k=120)
    finally:
        o.min_word_size_for_1_typo, o.min_word_size_for_2_typos = saved
    assert [r["doc_id"] for r in only2] == [h.doc_id for h in want]
    for g, w in zip(only2, want):
        assert _math.isclose(g["score"], w.score, rel_tol=1e-9)


# --- property-based sweep: rank identity over random query x settings ---

from hypothesis import HealthCheck, given  # noqa: E402
from hypothesis import settings as hsettings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from go_search_engine_spark.corpus import IDENTIFIERS  # noqa: E402
from go_search_engine_spark.functions.tokenizer import tokenize  # noqa: E402


def _word_pool() -> list[str]:
    """Deterministic query-word pool: every subtoken the corpus
    identifiers produce, the raw identifiers (multi-token camelCase),
    1-edit mutations of the longer words (deletion + transposition --
    typo-scan bait), short typo-ineligible words, and no-match noise."""
    pool: set[str] = set()
    for ident in IDENTIFIERS:
        pool.update(tokenize(ident))
        pool.add(ident)
    for w in sorted(pool):
        if len(w) >= 5:
            m = len(w) // 2
            pool.add(w[:m] + w[m + 1:])  # deletion
            pool.add(w[:m] + w[m + 1] + w[m] + w[m + 2:])  # transposition
    pool.update({"err", "zz", "zzzqqqxxx"})
    return sorted(pool)


_POOL = _word_pool()


@hsettings(
    max_examples=18,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    words=st.lists(
        st.sampled_from(_POOL), min_size=1, max_size=3, unique=True
    ),
    min1=st.sampled_from([None, 0, 1, 4, 6]),
    min2=st.sampled_from([None, 0, 5, 8]),
    typo=st.booleans(),
    k=st.sampled_from([5, 20]),
)
def test_property_rank_identity(engine_and_oracle, words, min1, min2, typo, k):
    """Any pool query x any typo-gate override x typo toggle x k: the
    Spark engine and the pure-Python oracle must return the identical
    ranked list -- ids, BM25 scores to 1e-9, and num_typos. Sweeps the
    scan-tier penalty interaction (min1=0 with min2 on), zero-disables
    semantics, per-query overrides, and no-match/short-word edges that
    the fixed-query suite samples only pointwise."""
    engine, oracle = engine_and_oracle
    q = " ".join(words)
    got = engine.search(
        q, k=k, typo_tolerance=typo,
        min_word_size_for_1_typo=min1,
        min_word_size_for_2_typos=min2,
    ).collect()
    o = oracle.settings
    saved = (o.min_word_size_for_1_typo, o.min_word_size_for_2_typos)
    if min1 is not None:
        o.min_word_size_for_1_typo = min1
    if min2 is not None:
        o.min_word_size_for_2_typos = min2
    try:
        want = oracle.search(q, k=k, typo_tolerance=typo)
    finally:
        o.min_word_size_for_1_typo, o.min_word_size_for_2_typos = saved
    assert [r["doc_id"] for r in got] == [h.doc_id for h in want]
    for g, w in zip(got, want):
        assert math.isclose(g["score"], w.score, rel_tol=1e-9, abs_tol=1e-12)
        assert g["num_typos"] == w.num_typos
