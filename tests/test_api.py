"""REST API surface + async job manager (reference api/*.go +
internal/jobs/manager.go): full lifecycle driven over real HTTP --
create index, async document add with progress polling, search with
filters/typos, multi-search envelopes, paginated listing, async delete,
settings-reindex job, rename, delete index.
"""

from __future__ import annotations

import json
import time
import urllib.request

import pytest

from go_search_engine_spark.api.jobs import JobManager


def _call(port, method, path, body=None):
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=data, method=method
    )
    try:
        with urllib.request.urlopen(req, timeout=300) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _wait_job(port, job_id, timeout=300):
    deadline = time.time() + timeout
    while time.time() < deadline:
        st, job = _call(port, "GET", f"/jobs/{job_id}")
        assert st == 200
        if job["status"] in ("completed", "failed"):
            return job
        time.sleep(0.1)
    raise TimeoutError(job_id)


@pytest.fixture(scope="module")
def api(spark, tmp_path_factory):
    from go_search_engine_spark.api.http import start_server

    wh = str(tmp_path_factory.mktemp("wh_api"))
    httpd, state = start_server(spark, wh, port=0)
    yield httpd.server_address[1]
    httpd.shutdown()


DOCS = [
    {"documentID": "d1", "title": "The Matrix", "text": "neo fights agents", "year": 1999},
    {"documentID": "d2", "title": "Matrix Reloaded", "text": "neo returns again", "year": 2003},
    {"documentID": "d3", "title": "Inception", "text": "dreams within dreams", "year": 2010},
    {"documentID": "d4", "title": "Speed", "text": "bus cannot slow down", "year": 1994},
]


def test_full_http_lifecycle(api):
    port = api
    st, out = _call(port, "GET", "/health")
    assert (st, out) == (200, {"status": "ok"})

    # create
    st, out = _call(port, "POST", "/indexes", {
        "name": "films",
        "searchable_fields": ["title", "text"],
        "filterable_fields": ["year"],
        "fields_without_prefix_search": ["text"],
    })
    assert st == 200 and out == {"created": "films"}
    st, out = _call(port, "POST", "/indexes", {"name": "films"})
    assert st == 409  # duplicate
    st, out = _call(port, "GET", "/indexes")
    assert out == {"indexes": ["films"], "count": 1}

    # async initial build with live progress
    st, out = _call(port, "PUT", "/indexes/films/documents", DOCS)
    assert st == 200 and "job_id" in out
    job = _wait_job(port, out["job_id"])
    assert job["status"] == "completed", job
    assert job["result"]["built"] and job["result"]["n_docs"] == 4
    assert job["progress"]["current"] == job["progress"]["total"] > 0

    # search: typo + filter + projection
    st, res = _call(port, "POST", "/indexes/films/search", {
        "query": "matrx",
        "filters": {"operator": "AND",
                    "filters": [{"field": "year", "operator": "_gte",
                                 "value": 1999}]},
        "retrievable_fields": ["title"],
    })
    assert st == 200
    got = {h["documentID"] for h in res["hits"]}
    assert got == {"d1", "d2"} and res["total"] == 2
    assert all(h["num_typos"] == 1 for h in res["hits"])

    # invalid field restriction -> 400, not 500
    st, res = _call(port, "POST", "/indexes/films/search",
                    {"query": "neo", "restrict_searchable_fields": ["nope"]})
    assert st == 400 and "non-searchable" in res["error"]

    # multi-search envelopes
    st, res = _call(port, "POST", "/multi-search", {
        "index": "films",
        "queries": {
            "a": {"query": "neo"},
            "b": {"query": "dreams", "page_size": 1},
        },
    })
    assert st == 200
    assert {h["documentID"] for h in res["a"]["hits"]} == {"d1", "d2"}
    assert res["b"]["total"] == 1 and len(res["b"]["hits"]) == 1

    # paginated listing, deterministic by doc_id
    st, res = _call(port, "GET", "/indexes/films/documents?page=2&page_size=2")
    assert res["total"] == 4 and len(res["documents"]) == 2
    assert [d["documentID"] for d in res["documents"]] == ["d3", "d4"]

    # upsert into the built index (same endpoint, now incremental)
    st, out = _call(port, "PUT", "/indexes/films/documents", [
        {"documentID": "d5", "title": "Interstellar",
         "text": "space farmers save humanity", "year": 2014},
    ])
    job = _wait_job(port, out["job_id"])
    assert job["status"] == "completed" and job["result"] == {
        "updated": 0, "inserted": 1}
    st, res = _call(port, "POST", "/indexes/films/search",
                    {"query": "interstellar"})
    assert {h["documentID"] for h in res["hits"]} == {"d5"}

    # async delete one
    st, out = _call(port, "DELETE", "/indexes/films/documents/d4")
    job = _wait_job(port, out["job_id"])
    assert job["result"] == {"deleted": 1}
    st, res = _call(port, "POST", "/indexes/films/search", {"query": "bus"})
    assert res["total"] == 0

    # settings update forcing reindex (prefix flip) -> async job
    st, out = _call(port, "PUT", "/indexes/films/settings",
                    {"fields_without_prefix_search": []})
    assert out.get("reindex") is True
    job = _wait_job(port, out["job_id"])
    assert job["status"] == "completed", job
    st, res = _call(port, "POST", "/indexes/films/search",
                    {"query": "dre", "typo_tolerance": False})
    assert {h["documentID"] for h in res["hits"]} == {"d3"}  # prefix now on

    # job listing
    st, jobs = _call(port, "GET", "/jobs?index=films")
    assert len(jobs) >= 4
    assert all(j["status"] == "completed" for j in jobs)

    # self-rename must 400 fast, not deadlock on the doubled index lock
    st, out = _call(port, "POST", "/indexes/films/rename",
                    {"new_name": "films"})
    assert st == 400

    # rename + delete
    st, out = _call(port, "POST", "/indexes/films/rename",
                    {"new_name": "movies2"})
    assert out == {"renamed": "films", "to": "movies2"}
    st, res = _call(port, "POST", "/indexes/movies2/search", {"query": "neo"})
    assert st == 200 and res["total"] == 2
    st, out = _call(port, "DELETE", "/indexes/movies2")
    assert out == {"deleted": "movies2"}
    st, out = _call(port, "GET", "/indexes")
    assert out == {"indexes": [], "count": 0}
    st, out = _call(port, "GET", "/indexes/movies2")
    assert st == 404


def test_document_validation(api):
    port = api
    _call(port, "POST", "/indexes", {
        "name": "val", "searchable_fields": ["text"],
    })
    st, out = _call(port, "PUT", "/indexes/val/documents",
                    [{"text": "no id"}])
    assert st == 400 and "documentID" in out["error"]
    st, out = _call(port, "PUT", "/indexes/val/documents", [])
    assert st == 400
    st, out = _call(port, "PUT", "/indexes/nope/documents",
                    [{"documentID": "x", "text": "y"}])
    assert st == 404
    _call(port, "DELETE", "/indexes/val")


def test_job_manager_failure_and_progress():
    jm = JobManager()

    def boom(progress):
        progress(1, 3, "step one")
        raise RuntimeError("kaput")

    jid = jm.submit("t", "idx", boom)
    job = jm.wait(jid)
    assert job.status == "failed"
    assert "kaput" in job.error
    # the default payload (unauthenticated endpoints) carries the error
    # string only, like the reference; the full stack is opt-in via the
    # server's debug flag
    assert "traceback" not in job.to_dict()
    assert "boom" in job.to_dict(debug=True)["traceback"]
    assert job.progress_current == 1 and job.progress_total == 3

    def ok(progress):
        for i in range(3):
            progress(i + 1, 3, f"s{i}")
        return {"x": 1}

    jid2 = jm.submit("t", "idx", ok)
    job2 = jm.wait(jid2)
    assert job2.status == "completed" and job2.result == {"x": 1}
    assert [j.id for j in jm.list("idx")] == [jid, jid2]
    job.completed_at = time.time() - 7200
    assert jm.prune(3600) == 1
    assert jm.get(jid) is None


def test_warm_and_compact_endpoints(spark, api):
    port = api
    _call(port, "POST", "/indexes", {
        "name": "ops", "searchable_fields": ["text"],
        "fields_without_prefix_search": ["text"],
    })
    st, out = _call(port, "PUT", "/indexes/ops/documents", [
        {"documentID": f"o{i}", "text": f"ops document number {i} body"}
        for i in range(6)
    ])
    assert _wait_job(port, out["job_id"])["status"] == "completed"

    # warm serving mode over HTTP
    st, warm = _call(port, "POST", "/indexes/ops/warm")
    assert st == 200 and warm["warm_terms"] == "all"
    st, res = _call(port, "POST", "/indexes/ops/search", {"query": "body"})
    assert res["total"] == 6

    # delta upsert through the API (add_documents upserts when built),
    # then ratio-gated and forced compaction jobs
    st, out = _call(port, "POST", "/indexes/ops/compact",
                    {"if_needed": True})
    job = _wait_job(port, out["job_id"])
    assert job["result"] == {"compacted": False}  # no delta pending
    st, out = _call(port, "POST", "/indexes/ops/compact")
    job = _wait_job(port, out["job_id"])
    assert job["status"] == "completed" and job["result"]["compacted"]
    st, res = _call(port, "POST", "/indexes/ops/search", {"query": "body"})
    assert res["total"] == 6  # results unchanged after folding
    _call(port, "DELETE", "/indexes/ops")


def test_one_document_put_commits_a_delta_without_rewriting(spark, tmp_path):
    """A one-document PUT on a built index costs O(batch + vocabulary):
    it lands as one delta generation, creates no tables_gen root and
    creates or rewrites no block file, and the next search already
    returns the document."""
    import glob
    import os

    from go_search_engine_spark.api.http import EngineServer
    from go_search_engine_spark.build.delta import table_path

    srv = EngineServer(spark, str(tmp_path))
    srv.dispatch("POST", "/indexes", {
        "name": "one", "searchable_fields": ["text"],
        "fields_without_prefix_search": ["text"],
    }, {})

    def put(docs):
        job_id = srv.dispatch(
            "PUT", "/indexes/one/documents", docs, {})["job_id"]
        while True:
            job = srv.dispatch("GET", f"/jobs/{job_id}", None, {})
            if job["status"] in ("completed", "failed"):
                return job
            time.sleep(0.05)

    assert put([
        {"documentID": f"b{i}", "text": f"baseline words number {i} body"}
        for i in range(40)
    ])["status"] == "completed"
    base = os.path.join(str(tmp_path), "one")
    blocks_dir = table_path(base, "blocks")

    def block_files():
        return {
            os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, files in os.walk(blocks_dir) for f in files
        }

    roots = glob.glob(os.path.join(base, "tables_gen=*"))
    blocks = block_files()
    assert blocks

    job = put([{"documentID": "solo", "text": "qqsolo fresh document"}])
    assert job["status"] == "completed", job
    assert job["result"] == {"updated": 0, "inserted": 1}
    assert glob.glob(os.path.join(base, "tables_gen=*")) == roots
    assert block_files() == blocks
    assert glob.glob(os.path.join(base, "_delta", "postings", "gen=*"))
    res = srv.dispatch("POST", "/indexes/one/search",
                       {"query": "qqsolo", "typo_tolerance": False}, {})
    assert [h["documentID"] for h in res["hits"]] == ["solo"]


def test_ops_endpoints_and_middleware(api):
    """Round 4 REST parity tail: GET /indexes/{n}/stats, GET
    /indexes/{n}/documents/{id}, GET /analytics, GET /jobs/metrics,
    request-size cap, CORS preflight."""
    port = api
    _call(port, "POST", "/indexes", {
        "name": "ops4", "searchable_fields": ["text"],
        "filterable_fields": ["year"],
        "fields_without_prefix_search": ["text"],
    })
    st, out = _call(port, "PUT", "/indexes/ops4/documents", [
        {"documentID": f"s{i}", "text": f"stats doc {i} shared", "year": 2000 + i}
        for i in range(4)
    ])
    assert _wait_job(port, out["job_id"])["status"] == "completed"

    # index stats
    st, stats = _call(port, "GET", "/indexes/ops4/stats")
    assert st == 200 and stats["name"] == "ops4"
    assert stats["document_count"] == 4
    assert stats["searchable_fields"] == ["text"]
    assert stats["index_stats"]["n_terms"] > 0
    assert stats["typo_settings"]["min_word_size_for_1_typo"] == 4

    # single-document fetch
    st, doc = _call(port, "GET", "/indexes/ops4/documents/s2")
    assert st == 200 and doc["documentID"] == "s2" and doc["year"] == 2002
    st, err = _call(port, "GET", "/indexes/ops4/documents/nope")
    assert st == 404

    # a couple of searches to populate analytics
    _call(port, "POST", "/indexes/ops4/search", {"query": "shared"})
    _call(port, "POST", "/indexes/ops4/search", {"query": "shared"})
    _call(port, "POST", "/indexes/ops4/search", {"query": "doc"})
    st, dash = _call(port, "GET", "/analytics")
    assert st == 200
    assert dash["total_searches"] >= 3
    assert dash["avg_response_time"] > 0
    top = {p["query"]: p["search_count"] for p in dash["popular_searches"]}
    assert top.get("shared", 0) >= 2
    assert any(u["index_name"] == "ops4" for u in dash["index_usage"])
    assert dash["total_documents"] >= 4 and dash["active_indexes"] >= 1

    # shape parity with the reference's api-spec.yaml AnalyticsDashboard
    # schema (model/analytics.go:67-88 json tags are the oracle)
    assert set(dash) == {
        "total_searches", "searches_change_percent", "avg_response_time",
        "response_time_change", "total_documents", "documents_change_count",
        "active_indexes", "indexes_change_count", "search_performance_24h",
        "popular_searches", "index_usage", "response_time_distribution",
        "search_types", "system_health",
    }
    assert dash["response_time_change"] in ("up", "down", "stable")
    # hourly performance: ALWAYS 24 wall-clock-hour entries
    # (service.go:209-231), each with the documented keys
    assert len(dash["search_performance_24h"]) == 24
    assert [h["hour"] for h in dash["search_performance_24h"]] == list(
        range(24)
    )
    assert set(dash["search_performance_24h"][0]) == {
        "hour", "search_count", "avg_response_time",
    }
    assert sum(
        h["search_count"] for h in dash["search_performance_24h"]
    ) == dash["total_searches"]
    for p in dash["popular_searches"]:
        assert set(p) == {"query", "search_count", "trend_change"}
    for u in dash["index_usage"]:
        assert set(u) == {
            "index_name", "document_count", "search_count", "size_mb",
        }
    assert set(dash["response_time_distribution"]) == {
        "bucket_0_25ms", "bucket_25_50ms", "bucket_50_100ms",
        "bucket_100ms_plus", "percentage_0_25", "percentage_25_50",
        "percentage_50_100", "percentage_100_plus",
    }
    d = dash["response_time_distribution"]
    assert (
        d["bucket_0_25ms"] + d["bucket_25_50ms"] + d["bucket_50_100ms"]
        + d["bucket_100ms_plus"]
    ) == dash["total_searches"]
    assert set(dash["search_types"]) == {
        "exact_match", "fuzzy_search", "filtered", "wildcard",
    }
    assert set(dash["system_health"]) == {
        "memory_usage_percent", "cpu_usage_percent",
        "disk_space_percent", "index_health_percent",
    }

    # job metrics
    st, jm = _call(port, "GET", "/jobs/metrics")
    assert st == 200
    assert jm["metrics"]["total_jobs"] >= 1
    assert 0.0 <= jm["success_rate"] <= 1.0
    assert jm["metrics"]["jobs_by_type"].get("add_documents", 0) >= 1

    # request-size cap: oversize Content-Length is rejected before read
    import urllib.request

    from go_search_engine_spark.api.http import MAX_BODY_BYTES

    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/indexes/ops4/search",
        data=b"x", method="POST",
        headers={"Content-Length": str(MAX_BODY_BYTES + 1)},
    )
    try:
        urllib.request.urlopen(req, timeout=30)
        raise AssertionError("oversize body accepted")
    except urllib.error.HTTPError as e:
        assert e.code == 413

    # CORS preflight
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/indexes/ops4/search", method="OPTIONS"
    )
    with urllib.request.urlopen(req, timeout=30) as r:
        assert r.status == 204
        assert r.headers["Access-Control-Allow-Origin"] == "*"
    _call(port, "DELETE", "/indexes/ops4")


def test_concurrent_mutations_serialize(api):
    """Two concurrent upsert jobs against the same index must both land
    (per-index lock serializes the read-compute-commit protocol; without
    it both compute the same generation and one silently clobbers the
    other)."""
    port = api
    _call(port, "POST", "/indexes", {
        "name": "race", "searchable_fields": ["text"],
        "fields_without_prefix_search": ["text"],
    })
    st, out = _call(port, "PUT", "/indexes/race/documents", [
        {"documentID": "base", "text": "baseline corpus payload"}
    ])
    assert _wait_job(port, out["job_id"])["status"] == "completed"

    # fire both mutations without waiting in between
    st1, j1 = _call(port, "PUT", "/indexes/race/documents", [
        {"documentID": "left", "text": "left racer unique alpha"}
    ])
    st2, j2 = _call(port, "PUT", "/indexes/race/documents", [
        {"documentID": "right", "text": "right racer unique bravo"}
    ])
    a = _wait_job(port, j1["job_id"])
    b = _wait_job(port, j2["job_id"])
    assert a["status"] == "completed", a
    assert b["status"] == "completed", b
    # BOTH updates visible: no lost write
    st, res = _call(port, "POST", "/indexes/race/search",
                    {"query": "racer", "typo_tolerance": False})
    assert {h["documentID"] for h in res["hits"]} == {"left", "right"}
    _call(port, "DELETE", "/indexes/race")


def test_reindex_does_not_lose_concurrent_write(api):
    """The settings-reindex corpus snapshot is taken INSIDE the job,
    under the per-index lock: a document write racing the reindex must
    survive regardless of which job wins the lock (an early snapshot in
    the handler thread would erase a write committed between snapshot
    and rebuild)."""
    port = api
    _call(port, "POST", "/indexes", {
        "name": "rrace", "searchable_fields": ["text"],
        "fields_without_prefix_search": ["text"],
    })
    st, out = _call(port, "PUT", "/indexes/rrace/documents", [
        {"documentID": "first", "text": "anchor corpus payload"}
    ])
    assert _wait_job(port, out["job_id"])["status"] == "completed"

    # fire a core-settings reindex and a document write back-to-back
    st1, j1 = _call(port, "PUT", "/indexes/rrace/settings",
                    {"min_word_size_for_1_typo": 5})
    assert j1.get("reindex") is True, j1
    st2, j2 = _call(port, "PUT", "/indexes/rrace/documents", [
        {"documentID": "second", "text": "racer document survives"}
    ])
    a = _wait_job(port, j1["job_id"])
    b = _wait_job(port, j2["job_id"])
    assert a["status"] == "completed", a
    assert b["status"] == "completed", b
    # the racing write is visible after both jobs, and the new settings
    # are the committed ones
    st, res = _call(port, "POST", "/indexes/rrace/search",
                    {"query": "racer", "typo_tolerance": False})
    assert {h["documentID"] for h in res["hits"]} == {"second"}
    st, res = _call(port, "POST", "/indexes/rrace/search",
                    {"query": "anchor", "typo_tolerance": False})
    assert {h["documentID"] for h in res["hits"]} == {"first"}
    st, settings = _call(port, "GET", "/indexes/rrace")
    assert settings["min_word_size_for_1_typo"] == 5
    _call(port, "DELETE", "/indexes/rrace")


def test_two_batches_against_new_index_both_survive(api):
    """The built check happens inside the job, under the index lock: two
    batches queued before the first build completes must BOTH land (a
    request-time built=False snapshot made the second job re-run a full
    build from its own batch only, erasing the first batch)."""
    port = api
    _call(port, "POST", "/indexes", {
        "name": "fresh2", "searchable_fields": ["text"],
        "fields_without_prefix_search": ["text"],
    })
    # no wait between the two PUTs: both hit an index with no stats.json
    st1, j1 = _call(port, "PUT", "/indexes/fresh2/documents", [
        {"documentID": "a1", "text": "batch one alpha payload"}
    ])
    st2, j2 = _call(port, "PUT", "/indexes/fresh2/documents", [
        {"documentID": "b1", "text": "batch two bravo payload"}
    ])
    assert st1 == 200, (st1, j1)
    assert st2 == 200, (st2, j2)
    a = _wait_job(port, j1["job_id"])
    b = _wait_job(port, j2["job_id"])
    assert a["status"] == "completed", a
    assert b["status"] == "completed", b
    st, res = _call(port, "POST", "/indexes/fresh2/search",
                    {"query": "payload", "typo_tolerance": False})
    assert {h["documentID"] for h in res["hits"]} == {"a1", "b1"}
    _call(port, "DELETE", "/indexes/fresh2")


def test_percent_encoded_document_ids(api):
    """Path-like document ids (a code corpus keys documents by file
    path) must round-trip over HTTP via percent-encoding."""
    port = api
    _call(port, "POST", "/indexes", {
        "name": "paths", "searchable_fields": ["text"],
        "fields_without_prefix_search": ["text"],
    })
    st, out = _call(port, "PUT", "/indexes/paths/documents", [
        {"documentID": "src/main.go", "text": "package main entry"},
        {"documentID": "lib/util.go", "text": "package util helpers"},
    ])
    assert _wait_job(port, out["job_id"])["status"] == "completed"
    st, doc = _call(port, "GET", "/indexes/paths/documents/src%2Fmain.go")
    assert st == 200 and doc["documentID"] == "src/main.go"
    st, out = _call(port, "DELETE", "/indexes/paths/documents/src%2Fmain.go")
    job = _wait_job(port, out["job_id"])
    assert job["result"] == {"deleted": 1}
    st, _ = _call(port, "GET", "/indexes/paths/documents/src%2Fmain.go")
    assert st == 404
    _call(port, "DELETE", "/indexes/paths")


def test_core_settings_update_on_unbuilt_index(api):
    """Configure-then-index: a core-settings change on a created-but-
    never-built index commits the manifest (there is nothing to reindex)
    instead of failing with 'corpus required'."""
    port = api
    _call(port, "POST", "/indexes", {
        "name": "unbuilt", "searchable_fields": ["title"],
    })
    st, out = _call(port, "PUT", "/indexes/unbuilt/settings",
                    {"searchable_fields": ["title", "body"]})
    assert st == 200, out
    assert out == {"reindex": False}
    st, settings = _call(port, "GET", "/indexes/unbuilt")
    assert settings["searchable_fields"] == ["title", "body"]
    _call(port, "DELETE", "/indexes/unbuilt")


def test_delete_all_drops_cached_engine(api):
    """After DELETE /indexes/{n}/documents the cached engine must be
    evicted: searches return 404-until-rebuilt, not 500s from a stale
    engine whose stats.json vanished."""
    port = api
    _call(port, "POST", "/indexes", {
        "name": "wipe", "searchable_fields": ["text"],
        "fields_without_prefix_search": ["text"],
    })
    st, out = _call(port, "PUT", "/indexes/wipe/documents", [
        {"documentID": "w1", "text": "soon to vanish"}
    ])
    assert _wait_job(port, out["job_id"])["status"] == "completed"
    st, res = _call(port, "POST", "/indexes/wipe/search", {"query": "vanish"})
    assert st == 200 and res["total"] == 1  # engine now cached
    st, out = _call(port, "DELETE", "/indexes/wipe/documents")
    assert _wait_job(port, out["job_id"])["status"] == "completed"
    st, res = _call(port, "POST", "/indexes/wipe/search", {"query": "vanish"})
    assert st == 404, res  # not 500: stale engine was dropped
    _call(port, "DELETE", "/indexes/wipe")


def test_listing_pagination_validation(api):
    port = api
    _call(port, "POST", "/indexes", {
        "name": "pval", "searchable_fields": ["text"],
        "fields_without_prefix_search": ["text"],
    })
    st, out = _call(port, "PUT", "/indexes/pval/documents", [
        {"documentID": "p1", "text": "one"}
    ])
    assert _wait_job(port, out["job_id"])["status"] == "completed"
    st, out = _call(port, "GET", "/indexes/pval/documents?page_size=-5")
    assert st == 400
    # 0 must be rejected like any size < 1, not silently coerced to 10
    st, out = _call(port, "GET", "/indexes/pval/documents?page_size=0")
    assert st == 400
    st, out = _call(port, "GET", "/indexes/pval/documents?page_size=abc")
    assert st == 400
    st, out = _call(port, "GET", "/indexes/pval/documents?page=zzz")
    assert st == 400
    _call(port, "DELETE", "/indexes/pval")


def test_rename_onto_existing_index_conflicts(api):
    port = api
    for n in ("ren_a", "ren_b"):
        _call(port, "POST", "/indexes", {
            "name": n, "searchable_fields": ["text"],
        })
    st, out = _call(port, "POST", "/indexes/ren_a/rename",
                    {"new_name": "ren_b"})
    assert st == 409, out
    # both indexes still intact
    st, names = _call(port, "GET", "/indexes")
    assert {"ren_a", "ren_b"} <= set(names["indexes"])
    for n in ("ren_a", "ren_b"):
        _call(port, "DELETE", f"/indexes/{n}")


def test_settings_reindex_merges_at_job_time(spark, tmp_path_factory):
    """Regression (round-4 review): the async settings-reindex job must
    merge its body over the settings AS OF JOB TIME, under the index
    lock -- a manifest-only settings commit landing while the reindex is
    queued would otherwise be silently reverted to the request-time
    snapshot by the rebuild's settings write (lost update)."""
    import os

    from go_search_engine_spark.api.http import EngineServer
    from go_search_engine_spark.build.builder import load_settings

    wh = str(tmp_path_factory.mktemp("wh_settings_merge"))
    srv = EngineServer(spark, wh)
    deferred = []
    srv.jobs.submit = lambda job_type, index_name, fn: (
        deferred.append(fn) or f"job-{len(deferred)}"
    )
    noop_progress = lambda *a, **k: None  # noqa: E731

    srv.create_index({
        "name": "mrg", "searchable_fields": ["text"],
        "fields_without_prefix_search": ["text"],
    })
    srv.add_documents("mrg", [{"documentID": "d1", "text": "alpha beta"}])
    deferred.pop()(noop_progress)  # run the initial build now

    out = srv.update_settings("mrg", {"min_word_size_for_1_typo": 6})
    assert out.get("reindex") is True
    reindex_job = deferred.pop()

    # a second PUT lands (and commits, manifest-only) while the reindex
    # job is still queued
    out2 = srv.update_settings(
        "mrg", {"ranking_criteria": [{"field": "year", "order": "desc"}]}
    )
    assert out2 == {"reindex": False}

    reindex_job(noop_progress)  # the queued reindex finally runs

    final = load_settings(os.path.join(wh, "mrg"))
    assert final.min_word_size_for_1_typo == 6  # the reindex body
    assert [(c.field, c.order) for c in final.ranking_criteria] == [
        ("year", "desc")
    ]  # the interleaved commit SURVIVES the reindex


def test_no_prefix_field_must_be_searchable(api):
    """Reference ValidateIndexSettings: a fields_without_prefix_search
    entry not present in searchable_fields is a 400 (at create AND at
    settings update)."""
    port = api
    st, out = _call(port, "POST", "/indexes", {
        "name": "valnp", "searchable_fields": ["title"],
        "fields_without_prefix_search": ["content"],
    })
    assert st == 400 and "fields_without_prefix_search" in out["error"]
    _call(port, "POST", "/indexes", {
        "name": "valnp", "searchable_fields": ["title"],
    })
    st, out = _call(port, "PATCH", "/indexes/valnp/settings",
                    {"fields_without_prefix_search": ["content"]})
    assert st == 400 and "fields_without_prefix_search" in out["error"]
    _call(port, "DELETE", "/indexes/valnp")


def test_document_id_whitespace_rejected(api):
    """Reference api/validation.go ValidateDocumentID: surrounding
    whitespace is a 400, not a silently distinct document."""
    port = api
    _call(port, "POST", "/indexes", {
        "name": "wsid", "searchable_fields": ["text"],
    })
    st, out = _call(port, "PUT", "/indexes/wsid/documents", [
        {"documentID": " padded ", "text": "x"}
    ])
    assert st == 400 and "whitespace" in out["error"]
    _call(port, "DELETE", "/indexes/wsid")


def test_malformed_content_length_gets_400(api):
    """A non-integer Content-Length must get a 400 response, not an
    uncaught ValueError that drops the connection with no reply."""
    import http.client

    conn = http.client.HTTPConnection("127.0.0.1", api, timeout=30)
    try:
        conn.putrequest("PUT", "/indexes/whatever/documents")
        conn.putheader("Content-Type", "application/json")
        conn.putheader("Content-Length", "abc")
        conn.endheaders()
        resp = conn.getresponse()
        assert resp.status == 400
        assert b"Content-Length" in resp.read()
    finally:
        conn.close()


def test_reference_path_aliases(api):
    """A client of the reference must be able to switch without editing
    its URLs: PATCH settings (api/handlers.go:52), POST _search (:68),
    POST _multi_search (:69), GET /indexes/{n}/jobs (:55)."""
    port = api
    _call(port, "POST", "/indexes", {
        "name": "alias", "searchable_fields": ["text"],
        "fields_without_prefix_search": ["text"],
    })
    st, out = _call(port, "PUT", "/indexes/alias/documents", [
        {"documentID": "a1", "text": "neo fights agents"},
        {"documentID": "a2", "text": "dreams within dreams"},
    ])
    assert _wait_job(port, out["job_id"])["status"] == "completed"

    st, res = _call(port, "POST", "/indexes/alias/_search",
                    {"query": "neo", "typo_tolerance": False})
    assert st == 200 and {h["documentID"] for h in res["hits"]} == {"a1"}

    st, res = _call(port, "POST", "/indexes/alias/_multi_search", {
        "queries": {
            "q1": {"query": "neo", "typo_tolerance": False},
            "q2": {"query": "dreams", "typo_tolerance": False},
        }
    })
    assert st == 200, res
    assert {h["documentID"] for h in res["q1"]["hits"]} == {"a1"}
    assert {h["documentID"] for h in res["q2"]["hits"]} == {"a2"}

    # the reference's NAMED-LIST multi-search body shape, with a
    # request-level page_size and a duplicate-name rejection
    st, res = _call(port, "POST", "/indexes/alias/_multi_search", {
        "page_size": 1,
        "queries": [
            {"name": "q1", "query": "neo", "typo_tolerance": False},
            {"name": "q2", "query": "dreams", "typo_tolerance": False},
        ],
    })
    assert st == 200, res
    assert res["q1"]["page_size"] == 1 and res["q2"]["page_size"] == 1
    st, res = _call(port, "POST", "/indexes/alias/_multi_search", {
        "queries": [{"name": "dup", "query": "neo"},
                    {"name": "dup", "query": "neo"}],
    })
    assert st == 400 and "unique" in res["error"]
    st, res = _call(port, "POST", "/indexes/alias/_multi_search", {
        "queries": [{"query": "neo"}],
    })
    assert st == 400 and "name" in res["error"]

    # PATCH is the reference's settings verb; non-core field commits
    # synchronously
    st, out = _call(port, "PATCH", "/indexes/alias/settings",
                    {"ranking_criteria": [{"field": "year", "order": "desc"}]})
    assert st == 200 and out == {"reindex": False}
    st, settings = _call(port, "GET", "/indexes/alias")
    assert settings["ranking_criteria"] == [
        {"field": "year", "order": "desc"}]

    # per-index job listing: only this index's jobs, newest included
    st, jobs = _call(port, "GET", "/indexes/alias/jobs")
    assert st == 200 and jobs and all(
        j["index_name"] == "alias" for j in jobs)
    _call(port, "DELETE", "/indexes/alias")
