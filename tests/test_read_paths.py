"""The two posting reads behind SearchEngine.decoded_postings: a cold
query whose candidate postings are bounded by at most
DRIVER_READ_MAX_ROWS (sum(df) x |fields|) is read and decoded on the
driver and enters the plan as ONE partition -- no blocks scan, no
Python decode stage, no exchange before top-k; a larger one keeps the
pruned Spark scan + mapInArrow decode and exactly one doc_id exchange.
Rank identity on both reads is pinned in test_rank_identity, test_phrase,
test_service_movies and test_delta.
"""

from __future__ import annotations

import pytest

import go_search_engine_spark.query.engine as engine_mod

from go_search_engine_spark.build.builder import IndexBuilder
from go_search_engine_spark.config import IndexSettings
from go_search_engine_spark.corpus import generate_corpus
from go_search_engine_spark.query.engine import SearchEngine
from go_search_engine_spark.query.phrase import phrase_search


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh_read_paths"))
    s = IndexSettings(
        name="rp",
        searchable_fields=["content", "path"],
        fields_without_prefix_search=["content"],
        block_size=16,
    )
    corpus = generate_corpus(spark, 150, seed=61, words_per_doc=20)
    IndexBuilder(spark, s, wh).build(corpus, num_shards=2)
    return wh


def _before_topk(df) -> str:
    """The executed plan's subtree under the top-k (AQE final plan)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    return final[final.index("TakeOrderedAndProject"):]


def _jobs(spark, df) -> int:
    sc = spark.sparkContext
    sc.setJobGroup("read_path_jobs", "job count probe")
    try:
        df.collect()
        return len(sc.statusTracker().getJobIdsForGroup("read_path_jobs"))
    finally:
        sc.setJobGroup(None, None)


def test_small_cold_query_plan_has_no_scan_decode_or_exchange(spark, wh):
    eng = SearchEngine(spark, wh, "rp")
    for df in (
        eng.search("tokenizer return", k=10),
        phrase_search(eng, "func return", k=10),
    ):
        region = _before_topk(df)
        assert "/blocks" not in region  # no blocks Scan parquet
        assert "MapInArrow" not in region
        assert "Exchange hashpartitioning" not in region
        assert "Coalesce 1" in region
    q = "tokenizer return"
    eng.search(q, k=10, typo_tolerance=False).collect()  # compile
    assert _jobs(spark, eng.search(q, k=10, typo_tolerance=False)) <= 3


def test_forced_spark_read_keeps_scan_decode_and_one_exchange(
    spark, wh, spark_read
):
    eng = SearchEngine(spark, wh, "rp")
    for df in (
        eng.search("tokenizer return", k=10),
        phrase_search(eng, "func return", k=10),
    ):
        region = _before_topk(df)
        assert "/blocks" in region and "MapInArrow" in region
        assert region.count("Exchange hashpartitioning") == 1
        assert "Exchange hashpartitioning(doc_id" in region


def test_gate_is_df_bounded_rows(spark, wh, monkeypatch):
    """At a bound exactly equal to DRIVER_READ_MAX_ROWS the driver reads;
    one row over, Spark does. The bound is sum(df) x |fields| over the
    distinct candidate terms, and both reads rank identically."""
    eng = SearchEngine(spark, wh, "rp")
    fields = eng.settings.searchable_fields
    cand = eng.candidate_terms(["tokenizer", "return"], typo_tolerance=True)
    bound = int(cand.drop_duplicates("term")["df"].sum()) * len(fields)
    assert bound > 0 and len(fields) == 2
    got = {}
    for limit, on_driver in ((bound, True), (bound - 1, False)):
        monkeypatch.setattr(engine_mod, "DRIVER_READ_MAX_ROWS", limit)
        assert eng._block_rows(cand, fields)[1] is on_driver
        got[on_driver] = [
            tuple(r) for r in eng.search_from_cand(cand, fields, 10, 2).collect()
        ]
    assert got[True] == got[False] and got[True]


def test_pending_tombstones_take_the_spark_read(
    spark, wh, tmp_path, monkeypatch
):
    """Under pending tombstones the merged ``df`` no longer bounds the
    base block rows: the base blocks keep every deleted posting until a
    compaction. Deleting most of a term's docs in delta mode must not
    send its whole base posting list through the driver, however large
    the driver-read bound."""
    import shutil

    from go_search_engine_spark.build.maintenance import IndexMaintenance

    shutil.copytree(f"{wh}/rp", f"{tmp_path}/rp")
    eng = SearchEngine(spark, str(tmp_path), "rp")
    fields = eng.settings.searchable_fields
    hits = eng.search("tokenizer", k=1000, typo_tolerance=False).collect()
    assert len(hits) >= 4
    victims = [r["documentID"] for r in hits[: len(hits) * 3 // 4]]
    IndexMaintenance(spark, str(tmp_path), "rp").delete_documents(
        victims, mode="delta"
    )
    eng = SearchEngine(spark, str(tmp_path), "rp")
    assert eng._tomb is not None
    cand = eng.candidate_terms(["tokenizer"], typo_tolerance=False)
    bound = int(cand.drop_duplicates("term")["df"].sum()) * len(fields)
    base_rows, on_driver = eng._block_rows(cand, fields)
    assert base_rows.count() > bound  # the merged df undercounts
    monkeypatch.setattr(
        engine_mod, "DRIVER_READ_MAX_ROWS", 10 * base_rows.count()
    )
    assert eng._block_rows(cand, fields)[1] is False
    left = eng.search("tokenizer", k=1000, typo_tolerance=False).collect()
    assert sorted(r["documentID"] for r in left) == sorted(
        r["documentID"] for r in hits[len(victims):]
    )
