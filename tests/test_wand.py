"""Block-max WAND pruning must be rank-identical to the exhaustive engine
(and to the oracle, transitively via test_rank_identity), and must
actually prune work on skewed queries.
"""

from __future__ import annotations

import math

import pytest

from go_search_engine_spark.build.builder import IndexBuilder
from go_search_engine_spark.config import IndexSettings
from go_search_engine_spark.corpus import generate_corpus
from go_search_engine_spark.query.engine import SearchEngine
from go_search_engine_spark.query.wand import wand_topk

QUERIES = [
    ("tokenizer", 10, True),
    ("tokenzier", 10, True),            # typo
    ("deltaEncode varintDecode", 10, True),
    ("mergeSegments buffer", 10, True),
    ("func the", 20, False),            # two head terms
    ("blockMaxWand func", 10, True),    # rare + head (the WAND sweet spot)
    ("zzzqqq", 10, True),               # no match
    ("alpha beta gamma", 10, False),
]


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh_wand"))
    settings = IndexSettings(
        name="wand",
        searchable_fields=["content"],
        fields_without_prefix_search=["content"],
        block_size=16,
        salt_df_threshold=150,
        salt_buckets=4,
    )
    corpus = generate_corpus(spark, 400, seed=33, words_per_doc=30)
    IndexBuilder(spark, settings, wh).build(corpus, num_shards=2)
    return SearchEngine(spark, wh, "wand")


def _same(pruned, exhaustive):
    assert [r["doc_id"] for r in pruned] == [r["doc_id"] for r in exhaustive]
    for p, e in zip(pruned, exhaustive):
        assert math.isclose(p["score"], e["score"], rel_tol=1e-9, abs_tol=1e-12)
        assert p["num_typos"] == e["num_typos"]
        assert p["number_exact_words"] == e["number_exact_words"]


@pytest.mark.parametrize("query,k,typos", QUERIES)
def test_wand_rank_identical(engine, query, k, typos):
    exhaustive = engine.search(query, k=k, typo_tolerance=typos).collect()
    pruned = wand_topk(
        engine, query, k=k, typo_tolerance=typos, prune=True
    ).collect()
    _same(pruned, exhaustive)


def test_wand_auto_falls_back_at_small_scale(engine):
    """Below WAND_MIN_POSTINGS the auto gate must take the single-pass
    exhaustive plan (still rank-identical)."""
    report: dict = {}
    pruned = wand_topk(
        engine, "deltaEncode varintDecode", k=10, report=report
    ).collect()
    assert report["pruned_path"] is False
    assert report["est_postings"] < 500_000
    _same(pruned, engine.search("deltaEncode varintDecode", k=10).collect())


def test_wand_shared_typo_candidate(engine):
    """Two query tokens whose candidate sets OVERLAP (a term within
    distance 1 of both): the shared term must anchor the rare token AND
    still feed the other token's contribution -- exclusion by
    (token, term) pair, not by term (round-1 advice, wand.py)."""
    # corpus vocab: 'tokenizer' with planted d1 neighbours 'tokenzier',
    # 'tokenizr', 'toknizer' -- querying two misspellings makes both
    # tokens share candidate 'tokenizer' (and each other's variants)
    q = "tokenzier tokenizr"
    exhaustive = engine.search(q, k=20, typo_tolerance=True).collect()
    assert exhaustive, "fixture must produce overlapping-candidate matches"
    pruned = wand_topk(engine, q, k=20, typo_tolerance=True, prune=True).collect()
    _same(pruned, exhaustive)


def test_wand_actually_prunes(engine):
    report: dict = {}
    wand_topk(engine, "blockMaxWand func", k=5, typo_tolerance=False,
              report=report, prune=True).collect()
    # rare+head query: theta must exist and phase 2 must shrink below the
    # full rare candidate set
    assert report["theta"] is not None
    assert report["n_phase2_docs"] < report["n_rare_docs"]


@pytest.fixture(scope="module")
def multifield_engine(spark, tmp_path_factory):
    """Multi-field index where some docs contain a term in BOTH fields:
    scoring sums tf across fields, so per-field block bounds alone would
    under-bound and could mis-prune (round-1 advice, wand.py:141)."""
    wh = str(tmp_path_factory.mktemp("wh_wand_mf"))
    settings = IndexSettings(
        name="wand_mf",
        searchable_fields=["title", "body"],
        fields_without_prefix_search=["title", "body"],
        block_size=4,
        term_buckets=8,
    )
    rows = []
    for i in range(120):
        extra = " shared" * (i % 4)  # tf varies; i%4>0 => both fields
        rows.append(
            (
                f"d{i:03d}",
                ("shared title words" if i % 4 else "plain title"),
                f"body text number{i} common shared filler{extra}",
            )
        )
    corpus = spark.createDataFrame(
        rows, "documentID string, title string, body string"
    )
    IndexBuilder(spark, settings, wh).build(corpus, num_shards=2)
    return SearchEngine(spark, wh, "wand_mf")


@pytest.mark.parametrize(
    "query,k",
    [("shared common", 5), ("shared common", 20), ("shared filler", 7)],
)
def test_wand_multifield_rank_identical(multifield_engine, query, k):
    eng = multifield_engine
    exhaustive = eng.search(query, k=k, typo_tolerance=False).collect()
    assert exhaustive
    pruned = wand_topk(
        eng, query, k=k, typo_tolerance=False, prune=True
    ).collect()
    _same(pruned, exhaustive)


def test_wand_anchored_mode_rank_identical(engine, monkeypatch):
    """Auto middle tier: when est_postings clears the cost gate but the
    rare anchor is small, the single-phase anchored plan runs (no theta
    round-trip) and stays rank-identical to exhaustive."""
    import go_search_engine_spark.query.wand as wand_mod

    monkeypatch.setattr(wand_mod, "WAND_MIN_POSTINGS", 1)
    report: dict = {}
    for q, k in [("blockMaxWand func", 10), ("mergeSegments buffer", 10)]:
        report.clear()
        got = wand_topk(engine, q, k=k, typo_tolerance=True,
                        report=report).collect()
        assert report["mode"] == "anchored"
        _same(got, engine.search(q, k=k, typo_tolerance=True).collect())


def test_wand_anchored_vs_two_phase_identical(engine, monkeypatch):
    """All three auto tiers agree on every fixture query."""
    import go_search_engine_spark.query.wand as wand_mod

    monkeypatch.setattr(wand_mod, "WAND_MIN_POSTINGS", 1)
    monkeypatch.setattr(wand_mod, "WAND_SINGLE_PHASE_MAX_RARE", 0)
    report: dict = {}
    got = wand_topk(engine, "blockMaxWand func", k=10, report=report).collect()
    assert report["mode"] == "two_phase"
    _same(got, engine.search("blockMaxWand func", k=10).collect())


# --- property-based sweep: forced 2-phase WAND vs exhaustive ---

from hypothesis import HealthCheck, given  # noqa: E402
from hypothesis import settings as hsettings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from test_rank_identity import _word_pool  # noqa: E402

_POOL = _word_pool()


@hsettings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    words=st.lists(
        st.sampled_from(_POOL), min_size=1, max_size=3, unique=True
    ),
    typos=st.booleans(),
    k=st.sampled_from([3, 10, 50]),
)
def test_property_wand_rank_identical(engine, words, typos, k):
    """Any pool query x typo toggle x k: the forced 2-phase block-max
    tier must return the identical ranked list (ids, scores, typo
    accounting) as the exhaustive scorer. Block-max pruning bugs are
    query-shape-dependent (theta trajectories, ties at the threshold,
    single-block terms), which fixed query lists sample only pointwise."""
    q = " ".join(words)
    exhaustive = engine.search(q, k=k, typo_tolerance=typos).collect()
    pruned = wand_topk(
        engine, q, k=k, typo_tolerance=typos, prune=True
    ).collect()
    _same(pruned, exhaustive)
