"""Fault injection over refresh mode's compaction step.

A refresh-mode upsert is one delta commit followed by
``compact_segments()``. The delta commit is the same code
``mode="delta"`` runs, and tests/test_delta_faults.py crashes every one
of its steps. This sweep crashes every step of the compaction that
follows it: the rewrite (maintenance._refresh -> builder._finalize)
writes every table into a fresh immutable ``tables_gen=R/`` root and
commits by the builder's atomic stats.json replace. A crash anywhere
before that replace must leave the previous table generation live
under the already-committed delta (orphan gen dirs invisible, serving
exactly what the index serves once a clean retry has folded it), and
the retries must converge to a twin that took the same batches cleanly.
The sweep is dynamic: it crashes the 1st, 2nd, ... Nth parquet table
write of the compaction until an injection point falls beyond its last
write (the op then succeeds, proving the whole step was swept), plus the
stats.json.tmp write and the atomic replace itself.
"""

from __future__ import annotations

from pyspark.sql.readwriter import DataFrameWriter

from go_search_engine_spark.build import builder as bld
from go_search_engine_spark.build.builder import IndexBuilder, load_stats
from go_search_engine_spark.build.delta import has_delta
from go_search_engine_spark.build.maintenance import IndexMaintenance
from go_search_engine_spark.corpus import generate_corpus
from test_delta_faults import _Boom, _batch, _settings, _state


def _armed_in_compaction(mp) -> dict:
    """A flag that is set only while compact_segments runs: injection
    points count from the compaction's first step."""
    armed = {"on": False}
    real = IndexMaintenance.compact_segments

    def compact(self, *a, **kw):
        armed["on"] = True
        try:
            return real(self, *a, **kw)
        finally:
            armed["on"] = False

    mp.setattr(IndexMaintenance, "compact_segments", compact)
    return armed


def _inject_parquet_write(mp, fail_at: int):
    armed = _armed_in_compaction(mp)
    real = DataFrameWriter.parquet
    calls = {"n": 0}

    def failing(self, path, **kw):
        if armed["on"]:
            calls["n"] += 1
            if calls["n"] == fail_at:
                raise _Boom(f"injected crash at parquet write #{fail_at}")
        return real(self, path, **kw)

    mp.setattr(DataFrameWriter, "parquet", failing)


def _inject_stats_tmp_write(mp):
    import json as _json

    armed = _armed_in_compaction(mp)
    real = _json.dump

    def failing(obj, fh, **kw):
        if armed["on"] and getattr(fh, "name", "").endswith("stats.json.tmp"):
            raise _Boom("injected crash mid stats.json.tmp write")
        return real(obj, fh, **kw)

    mp.setattr(bld.json, "dump", failing)


def _inject_replace(mp):
    import os as _os

    armed = _armed_in_compaction(mp)
    real = _os.replace

    def failing(src, dst):
        if armed["on"] and str(dst).endswith("stats.json"):
            raise _Boom("injected crash at os.replace commit point")
        return real(src, dst)

    mp.setattr(bld.os, "replace", failing)


def test_crash_at_every_refresh_step_leaves_old_generation_live(
    spark, tmp_path, monkeypatch
):
    wh = str(tmp_path)
    corpus = generate_corpus(spark, 50, seed=88, words_per_doc=10)
    for name in ("ref", "dlt"):
        IndexBuilder(spark, _settings(name), wh).build(corpus, num_shards=1)
    victims = sorted(
        r["documentID"] for r in corpus.select("documentID").collect()
    )
    base = f"{wh}/dlt"
    rounds = {"n": 0}

    def crash_round(label, inject) -> bool:
        """One refresh-mode upsert on 'dlt' under ``inject``; returns
        whether it raised. 'ref' takes the same batch as a plain delta
        commit (checked against 'dlt' once, after the sweep)."""
        i = rounds["n"]
        rounds["n"] += 1
        batch = _batch(spark, [
            (victims[i], f"zzzref updated body {i}"),
            (f"new-{i}", f"zzzref inserted func {i}"),
        ])
        tables_gen = load_stats(base).get("tables_gen")
        raised = False
        with monkeypatch.context() as mp:
            inject(mp)
            try:
                IndexMaintenance(spark, wh, "dlt").upsert_documents(batch)
            except _Boom:
                raised = True
        IndexMaintenance(spark, wh, "ref").upsert_documents(
            batch, mode="delta"
        )
        if raised:
            # the delta commit landed; the crashed compaction left the
            # previous table generation live under it, serving exactly
            # what the folded index serves after a clean retry
            assert has_delta(base), label
            assert load_stats(base).get("tables_gen") == tables_gen, label
            mid = _state(spark, wh, "dlt")
            IndexMaintenance(spark, wh, "dlt").upsert_documents(batch)
            got = _state(spark, wh, "dlt")
            assert mid["_stats"][0] == got["_stats"][0], label  # same N
            for q in list(got):
                if q != "_stats":
                    assert mid[q] == got[q], f"{label}: torn state"
        assert not has_delta(base), label
        return raised

    # every parquet write of the compaction, discovered dynamically
    swept_all_writes = False
    for n in range(1, 12):
        if not crash_round(
            f"write #{n}", lambda mp, n=n: _inject_parquet_write(mp, n)
        ):
            # injection point beyond the compaction's last table write:
            # the op committed normally -- the sweep covered every write
            swept_all_writes = True
            break
    assert swept_all_writes, (
        "11 injection points all raised: compaction makes more table "
        "writes than the sweep covers -- raise the bound"
    )

    for label, inject in (
        ("stats_tmp_write", _inject_stats_tmp_write),
        ("atomic_replace", _inject_replace),
    ):
        assert crash_round(label, inject), f"{label} did not fire"

    # every retry converged: same answers as the twin that took each
    # batch cleanly
    got, want = _state(spark, wh, "dlt"), _state(spark, wh, "ref")
    assert got["_stats"][0] == want["_stats"][0]
    for q in list(got):
        if q != "_stats":
            assert got[q] == want[q], q
