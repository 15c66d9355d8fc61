"""One BM25 scoring definition: every ranked path -- cold, warm (full
and partial), multi-search and each phase of the forced two-phase WAND
-- scores through ``SearchEngine.score_and_intersect``; and an index
whose term_stats lacks the per-field bounds WAND needs is refused at
open instead of scored through a second upper-bound implementation.
"""

from __future__ import annotations

import shutil

import pytest

from go_search_engine_spark.build.builder import IndexBuilder
from go_search_engine_spark.config import IndexSettings
from go_search_engine_spark.corpus import generate_corpus
from go_search_engine_spark.query.engine import SearchEngine
from go_search_engine_spark.query.service import SearchRequest, SearchService
from go_search_engine_spark.query.wand import wand_topk


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh_one_scoring"))
    s = IndexSettings(
        name="one",
        searchable_fields=["content"],
        fields_without_prefix_search=["content"],
        block_size=16,
    )
    corpus = generate_corpus(spark, 150, seed=51, words_per_doc=20)
    IndexBuilder(spark, s, wh).build(corpus, num_shards=2)
    return wh


@pytest.fixture
def calls(monkeypatch):
    """Count SearchEngine.score_and_intersect calls (plan construction,
    so one per scored frame a path builds)."""
    n = [0]
    orig = SearchEngine.score_and_intersect

    def counting(self, matched, n_tokens):
        n[0] += 1
        return orig(self, matched, n_tokens)

    monkeypatch.setattr(SearchEngine, "score_and_intersect", counting)
    return n


def _rows(df):
    return [
        (r["doc_id"], round(r["score"], 10), r["num_typos"],
         r["number_exact_words"])
        for r in df.collect()
    ]


def test_every_path_scores_through_score_and_intersect(spark, idx, calls):
    q = "tokenizer return"
    cold = SearchEngine(spark, idx, "one")
    want = _rows(cold.search(q, k=10, typo_tolerance=False))
    assert want and calls[0] == 1  # cold

    full = SearchEngine(spark, idx, "one")
    full.warm()
    calls[0] = 0
    assert _rows(full.search(q, k=10, typo_tolerance=False)) == want
    assert calls[0] == 1  # full warm

    part = SearchEngine(spark, idx, "one")
    assert part.warm(max_postings=300)["warm_terms"] != "all"
    v = part._vocab().sort_values(["df", "term"], ascending=[False, True])
    hot = str(v["term"].iloc[0])
    calls[0] = 0
    got = _rows(part.search(hot, k=10, typo_tolerance=False))
    assert calls[0] == 1  # partial warm, every candidate term warm
    assert got == _rows(cold.search(hot, k=10, typo_tolerance=False))

    calls[0] = 0
    reqs = {
        "a": SearchRequest(query=q, typo_tolerance=False),
        "b": SearchRequest(query="partition", typo_tolerance=False),
    }
    SearchService(cold).multi_search(reqs, k=5).collect()
    assert calls[0] == 2  # one per named request

    calls[0] = 0
    rep: dict = {}
    pruned = wand_topk(
        cold, q, k=10, typo_tolerance=False, report=rep, prune=True
    )
    assert rep["mode"] == "two_phase"
    # the rare anchor, then phase 1 (and phase 2 when theta leaves docs)
    assert calls[0] >= 2
    assert _rows(pruned) == want


def test_open_without_field_bounds_raises(spark, idx, tmp_path):
    """term_stats without field_bounds (an index from before per-field
    bounds were written) is refused at open with a rebuild hint."""
    dst = tmp_path / "one_nofb"
    shutil.copytree(f"{idx}/one", dst)
    ts = spark.read.parquet(f"{idx}/one/term_stats").drop("field_bounds")
    ts.write.mode("overwrite").parquet(str(dst / "term_stats"))
    with pytest.raises(ValueError, match="field_bounds.*rebuild"):
        SearchEngine(spark, str(tmp_path), "one_nofb")
