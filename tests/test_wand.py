"""The rare-anchored WAND plan must be rank-identical to the exhaustive
engine (and to the oracle, transitively via test_rank_identity) on both
posting reads and with chunk pruning on, and must actually restrict the
scored docs on skewed queries.
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
    exhaustive plan (still rank-identical), and a single-token query
    takes it even under prune=True: its anchor would be the whole
    query."""
    report: dict = {}
    pruned = wand_topk(
        engine, "deltaEncode varintDecode", k=10, report=report
    ).collect()
    assert report["mode"] == "exhaustive"
    assert report["pruned_path"] is False
    assert report["est_postings"] < 500_000
    _same(pruned, engine.search("deltaEncode varintDecode", k=10).collect())
    report.clear()
    single = wand_topk(
        engine, "tokenizer", k=10, report=report, prune=True
    ).collect()
    assert report["mode"] == "exhaustive"
    _same(single, engine.search("tokenizer", k=10).collect())


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
    """Rare+head query: the anchored plan scores only the rare token's
    docs, far fewer than the index holds, and still answers exactly."""
    report: dict = {}
    got = wand_topk(engine, "blockMaxWand func", k=5, typo_tolerance=False,
                    report=report, prune=True).collect()
    assert report["mode"] == "anchored"
    assert 0 < report["n_rare_docs"] < engine.stats["N"]
    _same(got, engine.search("blockMaxWand func", k=5,
                             typo_tolerance=False).collect())


@pytest.mark.parametrize("query,k,typos", QUERIES)
def test_wand_chunk_pruned_rank_identical(engine, monkeypatch, query, k,
                                          typos):
    """The chunk-pruned branch (doc space over 8 chunks) stays
    rank-identical: 16-id chunks cut the 400-doc fixture into 25 chunks,
    so the other tokens' blocks are semi-joined against the rare docs'
    chunks."""
    import go_search_engine_spark.query.wand as wand_mod

    monkeypatch.setattr(wand_mod, "CHUNK_SHIFT", 4)
    assert (engine.stats["max_doc_id"] >> 4) + 1 > 8
    exhaustive = engine.search(query, k=k, typo_tolerance=typos).collect()
    pruned = wand_topk(
        engine, query, k=k, typo_tolerance=typos, prune=True
    ).collect()
    _same(pruned, exhaustive)


@pytest.mark.parametrize("read", ["driver", "spark"])
def test_wand_anchor_both_reads(engine, request, monkeypatch, read):
    """The rare anchor goes through engine.decoded_postings, so it is
    read on the driver when small and by the Spark scan otherwise; both
    give the exhaustive answer."""
    if read == "spark":
        request.getfixturevalue("spark_read")
    on_driver = []
    orig = SearchEngine._block_rows

    def spy(self, cand, fields, positions=False):
        out = orig(self, cand, fields, positions)
        on_driver.append(out[1])
        return out

    monkeypatch.setattr(SearchEngine, "_block_rows", spy)
    report: dict = {}
    got = wand_topk(engine, "blockMaxWand func", k=10, report=report,
                    prune=True).collect()
    assert report["mode"] == "anchored"
    assert on_driver == [read == "driver"]
    _same(got, engine.search("blockMaxWand func", k=10).collect())


@pytest.fixture(scope="module")
def multifield_engine(spark, tmp_path_factory):
    """Multi-field index where some docs contain a term in BOTH fields:
    scoring sums tf across fields before saturation, so each side of the
    anchored plan must carry every queried field's entries of its docs."""
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
    """Auto gate: when est_postings clears WAND_MIN_POSTINGS, the anchored
    plan runs and stays rank-identical to exhaustive."""
    import go_search_engine_spark.query.wand as wand_mod

    monkeypatch.setattr(wand_mod, "WAND_MIN_POSTINGS", 1)
    report: dict = {}
    for q, k in [("blockMaxWand func", 10), ("mergeSegments buffer", 10)]:
        report.clear()
        got = wand_topk(engine, q, k=k, typo_tolerance=True,
                        report=report).collect()
        assert report["mode"] == "anchored"
        _same(got, engine.search(q, k=k, typo_tolerance=True).collect())


# --- property-based sweep: forced anchored WAND vs exhaustive ---

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
    """Any pool query x typo toggle x k: the forced anchored plan must
    return the identical ranked list (ids, scores, typo accounting) as
    the exhaustive scorer. Anchor bugs are query-shape-dependent (which
    token is rarest, candidate terms shared across tokens, single-block
    terms), which fixed query lists sample only pointwise."""
    q = " ".join(words)
    exhaustive = engine.search(q, k=k, typo_tolerance=typos).collect()
    pruned = wand_topk(
        engine, q, k=k, typo_tolerance=typos, prune=True
    ).collect()
    _same(pruned, exhaustive)
