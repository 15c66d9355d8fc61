"""Tracing from outside the package: spans, Spark job counts and the
executed plan's SQL operator metrics.

Nothing here runs a Spark job. Spans wrap the benchmark's calls into the
package's public functions; job counts come from the scheduler's job
counter and from per-request job groups; operator metrics are read from
the executed plan after ``collect()`` through py4j.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent,
    request id); spans of one request share its request id."""

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self.request: str | None = None

    @contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request,
            "start": time.perf_counter(),
            "end": None,
        }
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def self_times(self, request: str) -> dict[str, float]:
        """Self time (s) per span name within one request: the span's
        duration minus the union of its children's intervals."""
        spans = [s for s in self.spans if s["request"] == request]
        out: dict[str, float] = {}
        for s in spans:
            kids = sorted(
                (c["start"], c["end"]) for c in spans if c["parent"] == s["id"]
            )
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in kids:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def total_jobs(spark) -> int:
    """Number of Spark jobs submitted so far in this application (the
    DAG scheduler's job id counter; counts jobs from every thread)."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


def group_jobs(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


# -- executed-plan operator metrics -----------------------------------------

def _children(node) -> list:
    name = node.nodeName()
    if name.startswith("AdaptiveSparkPlan"):
        return [node.executedPlan()]
    if name.endswith("QueryStage") or name.startswith("ResultQueryStage"):
        return [node.plan()]
    if name.startswith("ReusedExchange"):
        return []  # metrics belong to the exchange it reuses
    if name.startswith("InMemoryTableScan"):
        return []  # the cached plan ran once, at persist time
    seq = node.children()
    kids = [seq.apply(i) for i in range(seq.size())]
    subs = node.subqueries()
    kids += [subs.apply(i) for i in range(subs.size())]
    return kids


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def _reads_blocks(scan) -> bool:
    """True when a parquet scan reads a ``blocks`` posting table."""
    paths = scan.relation().location().rootPaths()
    for i in range(paths.size()):
        p = paths.apply(i).toString().rstrip("/")
        if p.endswith("/blocks") or "/blocks/" in p:
            return True
    return False


def plan_metrics(df) -> dict[str, float]:
    """Sum the layer metrics over an executed DataFrame's physical plan
    (descending into AQE query stages): block scan bytes and rows,
    Python decode time and rows, shuffle bytes written and aggregation
    time. Reads metrics only; submits no job."""
    acc = {
        "scan_bytes": 0, "scan_rows": 0, "decode_ms": 0.0, "decode_rows": 0,
        "shuffle_bytes": 0, "agg_ms": 0,
    }
    seen = set()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        nid = node.id()
        if nid in seen:
            continue
        seen.add(nid)
        name = node.nodeName()
        m = _metrics(node)
        if name.startswith("Scan parquet") and _reads_blocks(node):
            acc["scan_bytes"] += m.get("filesSize", 0)
            acc["scan_rows"] += m.get("numOutputRows", 0)
        elif name.startswith(("MapInArrow", "MapInPandas", "PythonMapInArrow")):
            # summed over tasks, so it can exceed the query's wall time
            acc["decode_ms"] += m.get("pythonTotalTime", 0)
            acc["decode_rows"] += m.get("pythonNumRowsReceived", 0)
        elif "Exchange" in name:
            acc["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        elif "HashAggregate" in name:
            acc["agg_ms"] += m.get("aggTime", 0)
        stack.extend(_children(node))
    return acc


# -- host telemetry ---------------------------------------------------------

def cpu_times() -> tuple[int, int]:
    """(total jiffies, steal jiffies) from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    total = t1[0] - t0[0]
    return 100.0 * (t1[1] - t0[1]) / total if total > 0 else 0.0
