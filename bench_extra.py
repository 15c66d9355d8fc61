#!/usr/bin/env python
"""Round-6 optimization harness (bench.py is FROZEN for measurement; this
file holds the extra instrumentation the optimization round needs):

- per-query steady-state timing with REPS and min (same query set and
  collect() methodology as bench.run_queries, so numbers are comparable),
- Spark job counts per query (statusTracker delta) -- the sequential
  sub-job chains show up here, wall-clock alone cannot separate them,
- .explain("formatted") capture for every headline query into
  plans/r06/<query>_{before,after}.txt,
- optional noop-sink isolation for the operator queries (guide 1.4).

Usage:
  python bench_extra.py plans  <tag>     # capture explains to plans/r06
  python bench_extra.py time   [reps]    # timed sweep + job counts
  python bench_extra.py wand             # anchored WAND deep profile
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)
os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PLANS_DIR = os.path.join(REPO, "plans", "r06")


def timed(fn):
    t0 = time.time()
    out = fn()
    return time.time() - t0, out


def setup():
    from bench import build_index, warmup_session
    from go_search_engine_spark.query.engine import SearchEngine
    from go_search_engine_spark.session import get_spark

    spark = get_spark(app_name="bench_extra", cpus=CPUS,
                      shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    warmup_session(spark, SF_DIR)
    _, (wh, report) = timed(lambda: build_index(spark, SF_DIR))
    engine = SearchEngine(spark, wh, "bench_idx")
    return spark, engine, report


def query_frames(spark, engine):
    """name -> zero-arg fn returning the DataFrame (NOT collected): the
    same queries bench.run_queries times, as frames so we can explain()
    or noop-sink them."""
    from go_search_engine_spark.entry_queries import QUERIES
    from go_search_engine_spark.query.phrase import phrase_search
    from go_search_engine_spark.query.service import (
        SearchRequest,
        SearchService,
    )
    from go_search_engine_spark.query.wand import wand_topk

    svc = SearchService(engine)
    out = {
        "bm25_search_multi": lambda: engine.search(
            "data value table", k=10, typo_tolerance=False),
        "bm25_search_typo": lambda: engine.search(
            "valu tabel", k=10, typo_tolerance=True),
        "bm25_wand_topk": lambda: wand_topk(
            engine, "data value table", k=10, typo_tolerance=False),
        "bm25_wand_forced": lambda: wand_topk(
            engine, "data value table", k=10, typo_tolerance=False,
            prune=True),
        "phrase_search": lambda: phrase_search(
            engine, "value table", k=10),
        "bm25_multi_search_4q": lambda: svc.multi_search(
            {
                "a": SearchRequest(query="data value"),
                "b": SearchRequest(query="valu tabel"),
                "c": SearchRequest(query="key table"),
                "d": SearchRequest(query="spark query"),
            },
            k=10,
        ),
    }
    for name in [
        "tokenize_tf", "bm25_topk", "term_df_idf", "analytics_hourly",
        "events_window_5m", "dedup_exact_groups", "minhash_lsh_pairs",
        "simhash16", "ngram_jaccard_pairs", "embedding_cosine_topk",
        "embedding_near_dup_pairs", "quality_scores",
    ]:
        fn = QUERIES[name]
        out[name] = lambda fn=fn: fn(spark, SF_DIR)
    return out


def _n_jobs(sc) -> int:
    return len(sc.statusTracker().getJobIdsForGroup())


def cmd_plans(tag: str) -> None:
    os.makedirs(PLANS_DIR, exist_ok=True)
    spark, engine, _ = setup()
    frames = query_frames(spark, engine)
    for name, fn in frames.items():
        try:
            df = fn()
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # pragma: no cover - capture harness only
            plan = f"explain failed: {e!r}"
        with open(os.path.join(PLANS_DIR, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{tag}.txt ({len(plan)} chars)")
    spark.stop()


def cmd_time(reps: int = 3) -> None:
    spark, engine, report = setup()
    sc = spark.sparkContext
    frames = query_frames(spark, engine)
    rows = {}
    for name, fn in frames.items():
        samples = []
        jobs = 0
        for _ in range(reps):
            j0 = _n_jobs(sc)
            sec, _out = timed(lambda: fn().collect())
            jobs = _n_jobs(sc) - j0
            samples.append(round(sec, 4))
        rows[name] = {"min": min(samples), "samples": samples, "jobs": jobs}
        print(json.dumps({"query": name, **rows[name]}))
    total = round(sum(r["min"] for r in rows.values()), 3)
    print(json.dumps({
        "sweep_total_min_no_build": total,
        "build_phases": dict(report.phases),
    }))
    spark.stop()


def cmd_wand() -> None:
    """Anchored WAND deep profile, forced and auto (posting gate
    lowered): walls + job counts."""
    from go_search_engine_spark.query.wand import wand_topk

    spark, engine, _ = setup()
    sc = spark.sparkContext
    # steady-state: one throwaway run compiles the plan shapes
    wand_topk(engine, "data value table", k=10, typo_tolerance=False,
              prune=True).collect()
    for mode, kw in (
        ("forced", {"prune": True}),
        ("anchored_minpost", {}),
    ):
        if mode == "anchored_minpost":
            import go_search_engine_spark.query.wand as wm

            saved = wm.WAND_MIN_POSTINGS
            wm.WAND_MIN_POSTINGS = 1
        try:
            for _ in range(3):
                report: dict = {}
                j0 = _n_jobs(sc)
                sec, _ = timed(lambda: wand_topk(
                    engine, "data value table", k=10, typo_tolerance=False,
                    report=None, **kw).collect())
                print(json.dumps({
                    "mode": mode, "sec": round(sec, 4),
                    "jobs": _n_jobs(sc) - j0,
                }))
        finally:
            if mode == "anchored_minpost":
                wm.WAND_MIN_POSTINGS = saved
    spark.stop()


def cmd_warm150() -> None:
    """Round-5 VERDICT asks #5/#6, measured here because bench.py is
    frozen for the round: (a) PARTIAL-warm latency at the 150k-doc index
    (~25% of postings warmed; hot-set queries should route through the
    warm SQL template, cold-term queries keep the pruned scan), and
    (b) rep-level warm timings so the warm-exhaustive p95 tail is
    attributable (single outlier vs fat tail)."""
    import tempfile

    from bench import _cal_sec
    from go_search_engine_spark.query.engine import SearchEngine
    from go_search_engine_spark.query.wand import wand_topk
    from go_search_engine_spark.session import get_spark

    spark = get_spark(app_name="warm150", cpus=CPUS,
                      shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    wh = os.path.join(tempfile.gettempdir(), "gse_latency_wh_v1_150000")
    eng = SearchEngine(spark, wh, "lat150k")
    out: dict = {"cal_start": _cal_sec()}

    def reps(fn, n=12):
        fn()  # plan-compile rep excluded, reported separately
        t0 = time.time(); fn(); compile_rep = round(time.time() - t0, 4)
        xs = []
        for _ in range(n):
            sec, _ = timed(fn)
            xs.append(round(sec, 4))
        return {"first_after_warmup": compile_rep, "reps": xs,
                "p50": sorted(xs)[len(xs) // 2], "max": max(xs)}

    sweep = ["tokenizer buffer stream", "func return err",
             "posting list merge", "index builder", "var channel mutex"]

    # (b) FULL warm, rep-level per query
    info = eng.warm()
    out["full_warm_info"] = {k: info[k] for k in
                            ("warm_terms", "warm_postings",
                             "fraction_in_memory") if k in info}
    out["full_warm"] = {
        q: reps(lambda q=q: eng.search(q, k=10,
                                       typo_tolerance=False).collect(),
                n=8)
        for q in sweep
    }

    # (a) PARTIAL warm: ~25% posting budget
    info = eng.warm(max_postings=5_000_000)
    out["partial_warm_info"] = {k: info[k] for k in
                               ("warm_terms", "warm_postings",
                                "fraction_in_memory")
                               if k in info}
    hot = [q for q in sweep
           if all(eng._is_warm_term(str(t), int(d))
                  for t, d in zip(*(lambda c: (c["term"], c["df"]))(
                      eng.candidate_terms(q.split(), False))))]
    out["hot_queries"] = hot
    out["partial_warm_hot"] = {
        q: reps(lambda q=q: eng.search(q, k=10,
                                       typo_tolerance=False).collect(),
                n=8)
        for q in hot
    }
    cold_qs = [q for q in sweep if q not in hot]
    out["partial_warm_cold"] = {
        q: reps(lambda q=q: eng.search(q, k=10,
                                       typo_tolerance=False).collect(),
                n=8)
        for q in cold_qs
    }
    out["cal_end"] = _cal_sec()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "time"
    if cmd == "plans":
        cmd_plans(sys.argv[2] if len(sys.argv) > 2 else "before")
    elif cmd == "time":
        cmd_time(int(sys.argv[2]) if len(sys.argv) > 2 else 3)
    elif cmd == "wand":
        cmd_wand()
    elif cmd == "warm150":
        cmd_warm150()
    else:
        raise SystemExit(f"unknown command {cmd}")
