#!/usr/bin/env python3
"""The repository benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload search_cold --seed 1 --seconds 14 --trace 0

Run from the repository root. Each run starts one Spark session at
``local[nproc]``, generates the seeded corpus (``perfbench/gen.py``),
runs one small warm-up build and then a fresh ``IndexBuilder.build`` of
the corpus, warms each query shape once, and then, closed loop with one
client:

1. times queries for ``--seconds`` seconds (and at least MIN_ROUNDS
   rounds), in whole rounds of one query per kind (``exact``, ``typo``,
   ``wand``, ``phrase``), through the entry points ``scripts/search.py``
   uses;
2. checks every answer outside the timed spans against the oracle;
3. with ``--trace 1`` only, checks WAND answers against the exhaustive
   search and times seeded document PUT batches through
   ``EngineServer.dispatch`` (the in-process HTTP layer, API default
   mutation mode), each awaited through ``GET /jobs/<id>`` and followed
   by one ``POST /indexes/<i>/search`` for the marker word it wrote,
   whose answer is checked too.

``search_warm`` calls ``engine.warm()`` before the queries;
``search_cold`` does not.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` each query runs twice, untraced and traced in
alternating order, and the last line carries the per-layer metrics plus
the tracing overhead. The line before the last is a full report: host,
versions, sample counts, every latency, tail percentile, error rate and
steal. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from gen import KINDS, Inputs, content_bytes, write_corpus  # noqa: E402
import tracing as tr  # noqa: E402

WORKLOADS = ("search_cold", "search_warm")
N_DOCS = 2500
N_WORDS = 6000
WARMUP_DOCS = 50
MIN_ROUNDS = 3
WARMUP_S = 5.0
BATCH_DOCS = 5
K = 10
INDEX = "bench"
CACHE = os.path.join(ROOT, ".perfbench_cache")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def host_info() -> dict:
    import pandas
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem_kb / 2**20, 1),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
    }


def start_spark(nproc: int, mem_gb: float, scratch: str):
    """One session at local[nproc] with a JVM heap sized to the host
    (a quarter of memory, 1-4 GB); every temp and spill directory is
    under ``scratch``."""
    from go_search_engine_spark.session import get_spark

    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # neither the launcher JVM nor the driver JVM writes an hsperfdata
    # file under /tmp: every write stays in the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    heap = max(1, min(4, int(mem_gb // 4)))
    spark = get_spark(
        app_name="perfbench",
        cpus=nproc,
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.memory": f"{heap}g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(scratch, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(scratch, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def dir_files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def tail(xs: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten samples above it,
    and its value; None below 11 samples."""
    n = len(xs)
    if n < 11:
        return None
    return 100 * (n - 10) // n, sorted(xs)[n - 11]


class Bench:
    def __init__(self, args):
        self.args = args
        self.traced = bool(args.trace)
        self.tracer = tr.Tracer()
        self.attempted = 0
        self.failures: list[str] = []
        self.report: dict = {"workload": args.workload, "seed": args.seed}

    def fail(self, what: str) -> None:
        self.failures.append(what)

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        from go_search_engine_spark.build.builder import IndexBuilder
        from go_search_engine_spark.config import IndexSettings

        t0 = time.perf_counter()
        host = host_info()
        self.report["host"] = host
        self.scratch = os.path.join(CACHE, f"run_{os.getpid()}")
        os.makedirs(self.scratch, exist_ok=True)
        # the JVM starts in another process: generate the inputs meanwhile
        with ThreadPoolExecutor(1) as pool:
            session = pool.submit(start_spark, host["nproc"], host["mem_gb"], self.scratch)
            self.inputs = Inputs(self.args.seed, N_DOCS, N_WORDS)
            corpus_path = write_corpus(self.inputs, CACHE)
            self.spark = spark = session.result()
        self.report["corpus"] = {
            "docs": N_DOCS, "vocab": len(self.inputs.vocab),
            "content_bytes": content_bytes(self.inputs.docs),
        }
        self.wh = os.path.join(self.scratch, "wh")

        def settings(name: str) -> IndexSettings:
            return IndexSettings(
                name=name,
                searchable_fields=["content"],
                fields_without_prefix_search=["content"],
                term_buckets=2 * host["nproc"],
            )

        self.settings = settings
        corpus = spark.read.parquet(corpus_path)
        IndexBuilder(spark, settings("warmup"), self.wh).build(
            corpus.limit(WARMUP_DOCS), num_shards=1
        )
        shutil.rmtree(os.path.join(self.wh, "warmup"), ignore_errors=True)
        gc.collect()
        j0 = tr.total_jobs(spark)
        tb = time.perf_counter()
        rep = IndexBuilder(spark, settings(INDEX), self.wh).build(
            corpus, num_shards=1, resume=False
        )
        self.build_s = time.perf_counter() - tb
        self.report["setup_s"] = {"to_build": tb - t0, "build": self.build_s}
        self.build_report = rep
        self.build_jobs = tr.total_jobs(spark) - j0
        self.index_bytes = sum(s for s, _ in dir_files(os.path.join(self.wh, INDEX)).values())
        self.setup_query_engine()
        self.setup_s = time.perf_counter() - t0

    def setup_query_engine(self) -> None:
        from go_search_engine_spark.query.engine import SearchEngine

        self.engine = SearchEngine(self.spark, self.wh, INDEX)
        if self.args.workload == "search_warm":
            self.report["warm"] = self.engine.warm()
        # whole rounds of one query per kind, for at least WARMUP_S
        # seconds, before the timed reps: first-of-shape queries cost
        # several steady ones, and the warm path keeps speeding up over
        # its first rounds. The timed mix is drawn from another stream.
        t0 = time.perf_counter()
        warmup = self.inputs.queries(100, stream=3)
        for r in range(0, len(warmup), len(KINDS)):
            if r and time.perf_counter() - t0 >= WARMUP_S:
                break
            for kind, q in warmup[r:r + len(KINDS)]:
                self.run_query(kind, q, traced=False)

    # -- queries ---------------------------------------------------------
    def run_query(self, kind: str, q: str, traced: bool):
        """Run one query; returns (rows, seconds, jobs, layer record)."""
        from go_search_engine_spark.query.phrase import phrase_search
        from go_search_engine_spark.query.wand import wand_topk

        eng = self.engine
        if not traced:
            j0 = tr.total_jobs(self.spark)
            t0 = time.perf_counter()
            if kind == "phrase":
                rows = phrase_search(eng, q, k=K).collect()
            elif kind == "wand":
                rows = wand_topk(eng, q, k=K).collect()
            else:
                rows = eng.search(q, k=K, typo_tolerance=kind != "exact").collect()
            dt = time.perf_counter() - t0
            return rows, dt, tr.total_jobs(self.spark) - j0, None

        from go_search_engine_spark.functions.tokenizer import tokenize

        t = self.tracer
        sc = self.spark.sparkContext
        t.request = f"q{len(t.spans)}"
        sc.setJobGroup(t.request, kind)
        layer = {"kind": kind}
        try:
            with t.span("query") as root:
                with t.span("tokenize"):
                    toks = list(dict.fromkeys(tokenize(q)))
                cand = None
                if kind != "phrase":
                    with t.span("candidates"):
                        cand = eng.candidate_terms(toks, typo_tolerance=kind != "exact")
                with t.span("plan"):
                    if kind == "phrase":
                        df = phrase_search(eng, q, k=K)
                    elif kind == "wand":
                        df = wand_topk(eng, q, k=K)
                    else:
                        df = eng.search_from_cand(
                            cand, eng.settings.searchable_fields, K, n_tokens=len(toks)
                        )
                with t.span("execute"):
                    rows = df.collect()
        finally:
            sc._jsc.clearJobGroup()
        dt = root["end"] - root["start"]
        st = t.self_times(t.request)
        layer["tokenize_ms"] = 1e3 * st["tokenize"]
        if cand is not None:
            layer["candidates_ms"] = 1e3 * st["candidates"]
            layer["candidates"] = len(cand)
        # wand_topk recomputes candidates inside the call: plan time is
        # reported net of them
        net = st.get("candidates", 0.0) if kind == "wand" else 0.0
        layer["plan_ms"] = 1e3 * (st["plan"] - net)
        layer["execute_ms"] = 1e3 * st["execute"]
        layer["jobs"] = tr.group_jobs(self.spark, t.request)
        layer.update(tr.plan_metrics(df))
        layer["hits"] = len(rows)
        return rows, dt, layer["jobs"], layer

    def query_phase(self) -> None:
        """Whole rounds of one query per kind until ``--seconds`` pass,
        and at least MIN_ROUNDS rounds: with a round count set by speed
        alone, a slow run would stop after fewer rounds and take its
        median over the slower early ones. Traced runs execute each
        query untraced and traced, alternating which goes first, so the
        two latency sets share their queries."""
        mix = self.inputs.queries(1000, stream=1)
        self.samples: list[tuple[str, float, bool]] = []  # kind, s, traced
        self.q_runs: list[tuple[str, str, list]] = []
        self.layers: list[dict] = []
        self.jobs = {False: 0, True: 0}
        gc.collect()
        deadline = time.perf_counter() + self.args.seconds
        i = 0
        while i < MIN_ROUNDS * len(KINDS) or time.perf_counter() < deadline:
            for kind, q in mix[i:i + len(KINDS)]:
                order = [False, True] if (i // len(KINDS)) % 2 == 0 else [True, False]
                for traced in (order if self.traced else [False]):
                    self.attempted += 1
                    try:
                        rows, dt, jobs, layer = self.run_query(kind, q, traced)
                    except Exception as e:  # a failed query is a failed sample
                        self.fail(f"{kind} {q!r}: {type(e).__name__}: {e}")
                        self.samples.append((kind, float("inf"), traced))
                        continue
                    self.samples.append((kind, dt, traced))
                    self.q_runs.append((kind, q, rows))
                    self.jobs[traced] += jobs
                    if traced:
                        self.layers.append(layer)
            i += len(KINDS)

    def q_lat(self, traced: bool) -> list[float]:
        return [dt for _, dt, t in self.samples if t == traced]

    # -- writes ----------------------------------------------------------
    def put_phase(self) -> None:
        """Seeded PUT batches for ``--seconds / 2`` seconds (at least
        one), each followed by a read-after-write search of the API's
        live engine. Runs after the query checks: it changes the index."""
        from go_search_engine_spark.api.http import EngineServer

        srv = EngineServer(self.spark, self.wh)
        batches = self.inputs.upsert_batches(20, BATCH_DOCS)
        self.put_lat: list[float] = []
        self.raw_lat: list[float] = []
        self.put_layers: list[dict] = []
        base = os.path.join(self.wh, INDEX)
        gc.collect()
        deadline = time.perf_counter() + self.args.seconds / 2
        for b, batch in enumerate(batches):
            if b and time.perf_counter() >= deadline:
                break
            before = dir_files(base)
            j0 = tr.total_jobs(self.spark)
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                job_id = srv.dispatch("PUT", f"/indexes/{INDEX}/documents", batch, {})["job_id"]
                t_put = time.perf_counter() - t0
                while True:
                    job = srv.dispatch("GET", f"/jobs/{job_id}", None, {})
                    if job["status"] in ("completed", "failed"):
                        break
                    time.sleep(0.005)
                dt = time.perf_counter() - t0
            except Exception as e:
                self.fail(f"PUT batch {b}: {type(e).__name__}: {e}")
                self.put_lat.append(float("inf"))
                continue
            if job["status"] != "completed":
                self.fail(f"PUT batch {b}: job {job['error']}")
                self.put_lat.append(float("inf"))
                continue
            self.put_lat.append(dt)
            jobs = tr.total_jobs(self.spark) - j0
            after = dir_files(base)
            written = sum(s for p, (s, m) in after.items() if before.get(p) != (s, m))
            layer = {
                "put_ms": 1e3 * t_put,
                "job_queue_ms": 1e3 * (job["started_at"] - job["created_at"]),
                "commit_ms": 1e3 * (job["completed_at"] - job["started_at"]),
                "jobs": jobs,
                "bytes_written_per_input_byte": written / content_bytes(batch),
            }
            marker = batch[0]["content"].split(" ", 1)[0]
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                res = srv.dispatch(
                    "POST", f"/indexes/{INDEX}/search",
                    {"query": marker, "page_size": 2 * BATCH_DOCS, "typo_tolerance": False}, {},
                )
            except Exception as e:
                self.fail(f"search after batch {b}: {type(e).__name__}: {e}")
                self.raw_lat.append(float("inf"))
                continue
            dt = time.perf_counter() - t0
            self.raw_lat.append(dt)
            layer["search_ms"] = 1e3 * dt
            self.put_layers.append(layer)
            got = sorted(h["documentID"] for h in res["hits"])
            want = sorted(d["documentID"] for d in batch)
            seen_new = all(h["content"].startswith(marker) for h in res["hits"])
            if got != want or res["total"] != len(batch) or not seen_new:
                self.fail(f"read-after-write batch {b}: got {got}, want {want}")

    # -- checks ----------------------------------------------------------
    def check_queries(self) -> None:
        """Oracle top-k for every executed query; in traced runs also
        WAND == exhaustive on the same engine (one more query per WAND
        query). Runs before the PUT phase changes the index."""
        from check import PhraseOracle, bm25_rows, phrase_rows, same_topk
        from go_search_engine_spark.oracle.oracle import OracleIndex

        oracle = OracleIndex(self.inputs.docs, self.settings(INDEX))
        phrases = PhraseOracle(self.inputs.docs, self.inputs.tokens)
        want: dict = {}
        exhaustive: dict = {}
        for kind, q, rows in self.q_runs:
            key = (kind, q)
            if key not in want:
                if kind == "phrase":
                    want[key] = phrases.search(q.split(), K)
                else:
                    want[key] = bm25_rows(
                        {"score": h.score, "documentID": h.document_id}
                        for h in oracle.search(q, k=K, typo_tolerance=kind != "exact")
                    )
            ok = (
                phrase_rows(rows) == want[key] if kind == "phrase"
                else same_topk(bm25_rows(rows), want[key])
            )
            if not ok:
                self.fail(f"{kind} {q!r}: top-{K} differs from the oracle")
            if kind == "wand" and self.traced:
                if q not in exhaustive:
                    exhaustive[q] = bm25_rows(self.engine.search(q, k=K).collect())
                if not same_topk(bm25_rows(rows), exhaustive[q]):
                    self.fail(f"wand {q!r}: differs from exhaustive search")

    # -- metrics ---------------------------------------------------------
    def end_to_end(self) -> dict:
        """The gated metrics of BENCHMARK.json."""
        return {
            "setup_s": (self.setup_s, "s"),
            "search_p50_ms": (1e3 * statistics.median(self.q_lat(False)), "ms"),
            "index_bytes_per_input_byte": (
                self.index_bytes / self.report["corpus"]["content_bytes"], "ratio"
            ),
        }

    def per_layer(self) -> dict:
        out = {}

        def mean(recs, key):
            vals = [x[key] for x in recs if key in x]
            return statistics.fmean(vals) if vals else 0.0

        for suffix, recs in [("", self.layers)] + [
            (f".{k}", [x for x in self.layers if x["kind"] == k]) for k in KINDS
        ]:
            for key, unit in QUERY_LAYER:
                name = f"query.{key}{suffix}"
                if name in SKIP:
                    continue
                if key == "rows_per_hit":
                    hits = sum(x["hits"] for x in recs)
                    val = sum(x["decode_rows"] for x in recs) / hits if hits else 0.0
                else:
                    val = mean(recs, key)
                out[name] = (val, unit)
        r = self.build_report
        for phase in ("prepare_fingerprint", "docs_and_segments",
                      "finalize_term_stats", "finalize_blocks"):
            out[f"build.{phase}_s"] = (r.phases[phase], "s")
        out["build.postings_per_s"] = (r.n_postings / self.build_s, "1/s")
        out["build.jobs"] = (self.build_jobs, "count")
        pl = self.put_layers
        out["api.put_ms"] = (mean(pl, "put_ms"), "ms")
        out["api.job_queue_ms"] = (mean(pl, "job_queue_ms"), "ms")
        out["maint.commit_ms"] = (mean(pl, "commit_ms"), "ms")
        out["maint.jobs"] = (mean(pl, "jobs"), "count")
        out["maint.bytes_written_per_input_byte"] = (
            mean(pl, "bytes_written_per_input_byte"), "ratio")
        out["api.search_ms"] = (mean(pl, "search_ms"), "ms")
        out["trace.overhead_ms"] = (
            1e3 * (statistics.median(self.q_lat(True)) - statistics.median(self.q_lat(False))),
            "ms")
        out["trace.extra_jobs"] = (self.jobs[True] - self.jobs[False], "count")
        return out


# (metric key, unit) of the per-query layer metrics; each is reported
# over all queries and per kind
QUERY_LAYER = [
    ("tokenize_ms", "ms"), ("candidates_ms", "ms"), ("candidates", "count"),
    ("plan_ms", "ms"), ("execute_ms", "ms"), ("jobs", "count"),
    ("scan_bytes", "bytes"), ("scan_rows", "count"), ("decode_ms", "ms"),
    ("decode_rows", "count"), ("shuffle_bytes", "bytes"), ("agg_ms", "ms"),
    ("rows_per_hit", "ratio"),
]
# phrase search takes no candidate table; exhaustive BM25 kinds decode
# nothing on a warm index, so their decode time would be a constant zero
SKIP = {
    "query.candidates_ms.phrase", "query.candidates.phrase",
    "query.decode_ms.exact", "query.decode_ms.typo", "query.decode_ms.wand",
}


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import go_search_engine_spark as pkg
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: {pkg.__file__} is not this checkout's package", file=sys.stderr)
        return 2
    bench = Bench(args)
    cpu0 = tr.cpu_times()
    t_run = time.perf_counter()
    walls = {}

    def phase(name, fn):
        t = time.perf_counter()
        fn()
        walls[name] = time.perf_counter() - t

    try:
        phase("setup", bench.setup)
        phase("queries", bench.query_phase)
        phase("check", bench.check_queries)
        if args.trace:
            phase("puts", bench.put_phase)
    finally:
        if getattr(bench, "spark", None) is not None:
            phase("stop", lambda: stop_spark(bench.spark))
        if getattr(bench, "scratch", None):
            shutil.rmtree(bench.scratch, ignore_errors=True)
    rep = bench.report
    rep["steal_pct"] = tr.steal_pct(cpu0, tr.cpu_times())
    rep["run_s"] = time.perf_counter() - t_run
    rep["phase_s"] = walls
    e2e = bench.end_to_end()
    lat = bench.q_lat(False)
    rep["samples"] = {"search": len(lat)}
    rep["end_to_end"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    rep["end_to_end"]["build_docs_per_s"] = {
        "value": bench.build_report.n_docs / bench.build_s, "unit": "docs/s"}
    rep["latencies_ms"] = {"search": [[k, 1e3 * x] for k, x, t in bench.samples if not t]}
    tl = tail(lat)
    rep["search_tail_ms"] = (
        {"percentile": tl[0], "value": 1e3 * tl[1], "unit": "ms", "samples": len(lat)}
        if tl else {"percentile": None, "samples": len(lat),
                    "note": "fewer than 11 samples"}
    )
    if args.trace:
        for name, xs in (("upsert", bench.put_lat), ("read_after_write", bench.raw_lat)):
            rep["samples"][name] = len(xs)
            rep["latencies_ms"][name] = [1e3 * x for x in xs]
            rep["end_to_end"][f"{name}_p50_ms"] = {
                "value": 1e3 * statistics.median(xs), "unit": "ms"}
    rep["error_rate"] = len(bench.failures) / max(bench.attempted, 1)
    rep["failures"] = bench.failures[:20]
    if args.trace:
        metrics = bench.per_layer()
        os.makedirs(CACHE, exist_ok=True)
        bench.tracer.write(os.path.join(CACHE, f"spans_{args.workload}_s{args.seed}.jsonl"))
    else:
        metrics = e2e
    print(json.dumps(rep))
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if not bench.failures else 1


if __name__ == "__main__":
    raise SystemExit(main())
