"""REST surface over the engine -- the reference's primary UX.

Endpoint parity with the reference's gin router (citations per handler):

  GET    /health
  GET    /indexes                       api/index_handlers.go (list)
  POST   /indexes                       create index (settings body)
  GET    /indexes/{n}                   settings
  DELETE /indexes/{n}                   delete index
  POST   /indexes/{n}/rename            rename
  PUT    /indexes/{n}/settings          update; core diff => async reindex job
  PATCH  /indexes/{n}/settings          alias (the reference's verb,
                                        api/handlers.go:52)
  PUT    /indexes/{n}/documents         async add/upsert job
                                        (api/document_handlers.go:17
                                         AddDocumentsHandler; async jobs
                                         api/async_handlers.go)
  GET    /indexes/{n}/documents         paginated listing
                                        (api/document_handlers.go:161-233;
                                         made deterministic by doc_id order)
  DELETE /indexes/{n}/documents/{id}    async delete one
  DELETE /indexes/{n}/documents         async delete all
  POST   /indexes/{n}/search            search (api/search_handlers.go:49-114)
  POST   /indexes/{n}/_search           alias (the reference's path,
                                        api/handlers.go:68)
  POST   /multi-search                  named queries -> envelopes
                                        (internal/search/multi_search.go:12-81)
  POST   /indexes/{n}/_multi_search     per-index alias (api/handlers.go:69)
  GET    /indexes/{n}/jobs              per-index job listing
                                        (api/handlers.go:55)
  GET    /indexes/{n}/documents/{id}    single doc fetch
                                        (api/document_handlers.go:236)
  GET    /indexes/{n}/stats             index statistics
                                        (api/index_handlers.go:424)
  GET    /analytics                     search-analytics dashboard
                                        (api/analytics_handlers.go:12)
  GET    /jobs/metrics                  aggregate job metrics
                                        (api/job_handlers.go:60)
  GET    /jobs/{id}                     job polling
                                        (internal/jobs/manager.go:113-172)
  GET    /jobs?index={n}                job listing

Middleware parity: request-size cap (413 before the body is read,
api/middleware.go:10) and CORS headers + OPTIONS preflight
(api/middleware.go:19). Every index-mutating operation serializes on a
per-index lock -- the reference's per-index mutex
(internal/indexing/service.go:99-100); Spark schedules tasks but does
not serialize the filesystem commit protocol.

Implementation: stdlib ThreadingHTTPServer (no web framework in the
container; the reference's gin layer is ~2.5k LoC of routing/validation
that collapses onto the library surface here). One SparkSession serves
all requests: Spark's scheduler multiplexes concurrent *read* jobs;
writes serialize on the per-index locks above.
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from ..build import maintenance as mnt
from ..build.builder import IndexBuilder, load_settings
from ..config import IndexSettings
from ..query.engine import SearchEngine
from ..query.filters import FilterCondition, Filters
from ..query.service import SearchRequest, SearchService
from .analytics import AnalyticsService
from .jobs import JobManager

# Request bodies larger than this are rejected with 413 before being read
# (reference api/middleware.go:10-16 RequestSizeLimitMiddleware; its router
# sets 50MB for document endpoints). Prevents a multi-GB PUT from being
# buffered into driver memory.
MAX_BODY_BYTES = 50 * 1024 * 1024


def parse_filters(d: dict | None) -> Filters | None:
    """JSON filter tree -> Filters (services/interfaces.go:70-83 shape)."""
    if not d:
        return None
    if not isinstance(d, dict):
        raise ApiError(400, "'filters' must be a JSON object")
    conds = d.get("filters", [])
    groups = d.get("groups", [])
    if not isinstance(conds, list) or any(
        not isinstance(c, dict) for c in conds
    ):
        raise ApiError(400, "'filters.filters' must be a list of objects")
    if not isinstance(groups, list):
        raise ApiError(400, "'filters.groups' must be a list")
    for c in conds:
        if "field" not in c:
            raise ApiError(400, "every filter condition needs a 'field'")
        try:
            float(c.get("score", 0.0))
        except (TypeError, ValueError):
            raise ApiError(400, "filter condition 'score' must be a number")
    return Filters(
        # reference: a missing/empty expression operator means OR
        # (service.go:749-750)
        operator=d.get("operator", "OR"),
        filters=[
            FilterCondition(
                field=c["field"],
                operator=c.get("operator"),
                value=c.get("value"),
                score=float(c.get("score", 0.0)),
            )
            for c in d.get("filters", [])
        ],
        # an empty group dict parses to an empty Filters (which compiles
        # to "matches, zero score" -- the reference's empty-expression
        # rule, service.go:719-723), never to None inside the tree
        groups=[
            parse_filters(g) or Filters() for g in d.get("groups", [])
        ],
    )


def _opt_str_list(v, field: str):
    if v is None:
        return None
    if not isinstance(v, list) or any(not isinstance(x, str) for x in v):
        raise ApiError(400, f"{field!r} must be a list of strings")
    return v


def _opt_int(v, field: str):
    if v is None:
        return None
    if isinstance(v, bool) or not isinstance(v, int):
        raise ApiError(400, f"{field!r} must be an integer")
    return v


def parse_search_request(body: dict) -> SearchRequest:
    """Field-typed request binding: valid JSON with wrong-typed fields
    (``{"query": 5}``, ``{"page": "x"}``) must be a 400 at the boundary,
    the reference's gin ShouldBindJSON behavior -- never a TypeError 500
    from tokenize()/int() deep in the query path."""
    q = body.get("query", "")
    if not isinstance(q, str):
        raise ApiError(400, "'query' must be a string")
    try:
        page = int(body.get("page", 1))
        page_size = int(body.get("page_size", 10))
    except (TypeError, ValueError):
        raise ApiError(400, "page and page_size must be integers")
    return SearchRequest(
        query=q,
        page=page,
        page_size=page_size,
        filters=parse_filters(body.get("filters")),
        restrict_searchable_fields=_opt_str_list(
            body.get("restrict_searchable_fields"),
            "restrict_searchable_fields",
        ),
        retrievable_fields=_opt_str_list(
            body.get("retrievable_fields"), "retrievable_fields"
        ),
        typo_tolerance=bool(body.get("typo_tolerance", True)),
        min_word_size_for_1_typo=_opt_int(
            body.get("min_word_size_for_1_typo"), "min_word_size_for_1_typo"
        ),
        min_word_size_for_2_typos=_opt_int(
            body.get("min_word_size_for_2_typos"), "min_word_size_for_2_typos"
        ),
        include_field_matches=bool(body.get("include_field_matches", False)),
    )


class ApiError(Exception):
    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status


def _obj(body) -> dict:
    """Body-shape gate for endpoints expecting a JSON object. Valid
    JSON of the wrong top-level type (``123``, ``"x"``, ``[]``) parses
    fine and then crashes ``body.get``/``in body`` deep inside a handler
    as a 500 TypeError; the reference's gin ``ShouldBindJSON`` maps the
    same mistake to 400 at the boundary. ``None`` (no body) maps to
    ``{}`` for endpoints whose fields are all optional."""
    if body is None:
        return {}
    if not isinstance(body, dict):
        raise ApiError(400, "request body must be a JSON object")
    return body


# Index names become filesystem path components under the warehouse, so
# they must never be able to traverse out of it: one path segment, no
# separators, no leading dot (also excludes '.' and '..'). Document ids
# are NOT restricted -- they are data (parquet filter values), never
# joined into a path.
_SAFE_NAME_RE = re.compile(r"^[A-Za-z0-9_][A-Za-z0-9._-]*$")


def check_index_name(name: str) -> str:
    if not isinstance(name, str) or not name or not _SAFE_NAME_RE.match(name):
        raise ApiError(400, f"invalid index name {name!r}")
    return name


def settings_from_body(d: dict) -> IndexSettings:
    """IndexSettings.from_dict with API-boundary typing: wrong-shaped
    values map to 400, not a dataclass TypeError 500. Unknown keys are
    IGNORED (with a server-side warning), matching the reference: gin's
    ShouldBindJSON silently drops unrecognized JSON fields and
    UpdateIndexSettingsHandler binds to a raw map, so reference clients
    sending extra fields must keep working here."""
    import dataclasses

    allowed = {f.name for f in dataclasses.fields(IndexSettings)}
    unknown = sorted(set(d) - allowed)
    if unknown:
        import logging

        logging.getLogger(__name__).warning(
            "ignoring unknown settings keys: %s", unknown
        )
        d = {k: v for k, v in d.items() if k in allowed}
    try:
        return IndexSettings.from_dict(d)
    except (TypeError, ValueError, AttributeError) as e:
        raise ApiError(400, f"invalid settings body: {e}")


def check_settings(settings: IndexSettings) -> IndexSettings:
    """API-boundary settings validation (reference api/validation.go
    ValidateIndexSettings): every no-prefix field must be searchable --
    an unknown field there would silently change nothing."""
    for f in settings.fields_without_prefix_search:
        if f not in settings.searchable_fields:
            raise ApiError(
                400,
                f"Field {f!r} in fields_without_prefix_search is not in "
                "searchable_fields",
            )
    return settings


class _DecodedMatch:
    """Percent-decode captured path segments before they reach handlers.

    Routes match the RAW path (so an encoded ``%2F`` inside a document id
    cannot be confused with a path separator), then each captured segment
    is unquoted -- decoding is what makes path-like document ids
    (``src/main.go`` in a code corpus) reachable over HTTP. Because
    decoding also lets an INDEX-name segment smuggle ``/`` and ``..``
    past the route's ``[^/]+``, every helper that resolves a name under
    the warehouse validates it first (``check_index_name``)."""

    def __init__(self, m):
        self._m = m

    def group(self, i: int):
        g = self._m.group(i)
        return unquote(g) if g is not None else None


class EngineServer:
    """Application state + request dispatch (transport-agnostic, so tests
    can call ``dispatch`` directly and the HTTP handler stays thin)."""

    def __init__(self, spark, warehouse: str, debug: bool = False):
        self.spark = spark
        self.warehouse = warehouse
        # debug=True adds failed jobs' full Python tracebacks to the
        # (unauthenticated, CORS-*) job endpoints; default matches the
        # reference's error-string-only payloads, with stacks logged
        # server-side either way
        self.debug = debug
        self.jobs = JobManager()
        self.analytics = AnalyticsService()
        self._engines: dict[str, SearchEngine] = {}
        self._lock = threading.Lock()
        # Per-index mutation locks: every filesystem-mutating operation
        # (upsert/delete/compact/reindex/rename) holds the index's lock
        # for its full read-compute-commit protocol. Spark serializes
        # *tasks*, not the commit protocol -- two concurrent delta
        # commits would both compute max_committed_gen+1 and clobber
        # each other (the reference serializes identically with
        # per-index mutexes, internal/indexing/service.go:99-100).
        self._index_locks: dict[str, threading.Lock] = {}

    # -- helpers -----------------------------------------------------------
    def _index_lock(self, name: str) -> threading.Lock:
        with self._lock:
            return self._index_locks.setdefault(name, threading.Lock())
    def _engine(self, name: str) -> SearchEngine:
        check_index_name(name)
        with self._lock:
            eng = self._engines.get(name)
        if eng is None:
            try:
                eng = SearchEngine(self.spark, self.warehouse, name)
            except FileNotFoundError:
                raise ApiError(404, f"index {name!r} not found or not built")
            with self._lock:
                # check-then-act hygiene: a concurrent DELETE may have
                # dropped the index between construction and caching --
                # re-caching the stale engine would turn the intended 404
                # into 500s until something else evicts it. setdefault
                # also keeps the FIRST engine when two first-requests
                # race, so at most one instance is ever served.
                if not self._built(name):
                    raise ApiError(404, f"index {name!r} not found or not built")
                eng = self._engines.setdefault(name, eng)
        return eng

    def _drop_engine(self, name: str) -> None:
        with self._lock:
            self._engines.pop(name, None)

    def _settings(self, name: str) -> IndexSettings:
        import os

        check_index_name(name)
        base = os.path.join(self.warehouse, name)
        if not os.path.exists(os.path.join(base, "settings.json")):
            raise ApiError(404, f"index {name!r} not found")
        return load_settings(base)

    def _built(self, name: str) -> bool:
        import os

        check_index_name(name)
        return os.path.exists(
            os.path.join(self.warehouse, name, "stats.json")
        )

    def _docs_df(self, docs: list[dict], name: str):
        if not isinstance(docs, list) or any(
            not isinstance(d, dict) for d in docs
        ):
            # same boundary rule as _obj: valid-JSON-wrong-shape (an
            # object, a string, a list of scalars) must be a 400, not a
            # TypeError 500 from d.get below or a crashed Spark job
            raise ApiError(
                400, "request body must be a JSON array of document objects"
            )
        if not docs:
            raise ApiError(400, "empty document batch")
        for d in docs:
            did = str(d.get("documentID", ""))
            if not did:
                # reference validation: documentID non-empty
                # (internal/indexing/service.go:126-140)
                raise ApiError(400, "every document needs a non-empty documentID")
            if did != did.strip():
                # api/validation.go ValidateDocumentID: surrounding
                # whitespace rejected ('doc ' and 'doc' must not be two
                # distinct documents to a client that trims)
                raise ApiError(
                    400,
                    "documentID cannot have leading or trailing whitespace",
                )
        return self.spark.createDataFrame(docs)

    # -- dispatch ----------------------------------------------------------
    def dispatch(self, method: str, path: str, body, query: dict):
        routes = [
            ("GET", r"^/health$", lambda m: {"status": "ok"}),
            # reference response envelope (api/index_handlers.go:68)
            ("GET", r"^/indexes$", lambda m: (
                lambda names: {"indexes": names, "count": len(names)}
            )(mnt.list_indexes(self.warehouse))),
            ("POST", r"^/indexes$", lambda m: self.create_index(_obj(body))),
            ("GET", r"^/indexes/([^/]+)$",
             lambda m: self._settings(m.group(1)).to_dict()),
            ("DELETE", r"^/indexes/([^/]+)$",
             lambda m: self.delete_index(m.group(1))),
            ("POST", r"^/indexes/([^/]+)/rename$",
             lambda m: self.rename_index(m.group(1), _obj(body))),
            # the reference mounts settings updates as PATCH
            # (api/handlers.go:52); PUT is kept as an alias
            ("PUT", r"^/indexes/([^/]+)/settings$",
             lambda m: self.update_settings(m.group(1), _obj(body))),
            ("PATCH", r"^/indexes/([^/]+)/settings$",
             lambda m: self.update_settings(m.group(1), _obj(body))),
            ("PUT", r"^/indexes/([^/]+)/documents$",
             lambda m: self.add_documents(m.group(1), body)),
            ("GET", r"^/indexes/([^/]+)/documents$",
             lambda m: self.list_documents(m.group(1), query)),
            ("GET", r"^/indexes/([^/]+)/documents/([^/]+)$",
             lambda m: self.get_document(m.group(1), m.group(2))),
            ("GET", r"^/indexes/([^/]+)/stats$",
             lambda m: self.index_stats(m.group(1))),
            ("GET", r"^/analytics$", lambda m: self.get_analytics()),
            ("GET", r"^/jobs/metrics$", lambda m: self.job_metrics()),
            ("DELETE", r"^/indexes/([^/]+)/documents/([^/]+)$",
             lambda m: self.delete_documents(m.group(1), [m.group(2)])),
            ("DELETE", r"^/indexes/([^/]+)/documents$",
             lambda m: self.delete_all(m.group(1))),
            # reference path parity (api/handlers.go:68-69): a client of
            # the reference calls _search/_multi_search; both spellings
            # are served
            ("POST", r"^/indexes/([^/]+)/search$",
             lambda m: self.search(m.group(1), _obj(body))),
            ("POST", r"^/indexes/([^/]+)/_search$",
             lambda m: self.search(m.group(1), _obj(body))),
            ("POST", r"^/indexes/([^/]+)/_multi_search$",
             lambda m: self.multi_search(
                 {**_obj(body), "index": m.group(1)})),
            ("GET", r"^/indexes/([^/]+)/jobs$",
             lambda m: self.list_jobs({**query, "index": [m.group(1)]})),
            ("POST", r"^/indexes/([^/]+)/warm$",
             lambda m: self.warm(m.group(1), _obj(body))),
            ("POST", r"^/indexes/([^/]+)/compact$",
             lambda m: self.compact(m.group(1), _obj(body))),
            ("POST", r"^/multi-search$",
             lambda m: self.multi_search(_obj(body))),
            ("GET", r"^/jobs/([^/]+)$", lambda m: self.get_job(m.group(1))),
            ("GET", r"^/jobs$", lambda m: self.list_jobs(query)),
        ]
        for meth, pat, fn in routes:
            if meth != method:
                continue
            m = re.match(pat, path)
            if m:
                return fn(_DecodedMatch(m))
        raise ApiError(404, f"no route for {method} {path}")

    # -- handlers ----------------------------------------------------------
    def create_index(self, body: dict):
        if not body or not body.get("name"):
            raise ApiError(400, "settings body with 'name' required")
        check_index_name(body["name"])
        settings = check_settings(settings_from_body(body))
        with self._index_lock(settings.name):
            if body["name"] in mnt.list_indexes(self.warehouse):
                raise ApiError(409, f"index {body['name']!r} exists")
            mnt.create_index(self.warehouse, settings)
        return {"created": settings.name}

    def delete_index(self, name: str):
        self._settings(name)
        with self._index_lock(name):
            mnt.delete_index(self.warehouse, name)
            self._drop_engine(name)
        return {"deleted": name}

    def rename_index(self, name: str, body: dict):
        new = (body or {}).get("new_name", "")
        if not new:
            raise ApiError(400, "new_name required")
        check_index_name(new)
        if new == name:
            # also load-bearing: sorted((a, a)) below would acquire the
            # SAME non-reentrant lock twice and deadlock the handler
            # while holding the index lock
            raise ApiError(400, "new_name equals the current name")
        self._settings(name)
        # both ends locked, in name order (no lock-order inversion between
        # two concurrent renames)
        first, second = sorted((name, new))
        with self._index_lock(first), self._index_lock(second):
            try:
                mnt.rename_index(self.warehouse, name, new)
            except FileExistsError as e:
                raise ApiError(409, str(e))
            self._drop_engine(name)
        return {"renamed": name, "to": new}

    def update_settings(self, name: str, body: dict):
        self._settings(name)  # 404 before anything else
        body = dict(body or {})

        def merged() -> tuple[IndexSettings, IndexSettings]:
            """Merge the request body over the CURRENT on-disk settings.

            Called again under the per-index lock before every commit:
            two concurrent PUTs with disjoint fields must compose (the
            second merges over the first's committed state), not
            last-request-wins over a shared pre-lock snapshot -- the
            same re-read-inside-the-job rule add_documents follows.
            """
            old = self._settings(name)
            new = check_settings(
                settings_from_body({**old.to_dict(), **body})
            )
            new.name = name
            return old, new

        old, new = merged()  # advisory: only picks the sync/async path
        needs_reindex = mnt.requires_full_reindex(old, new)
        if not (needs_reindex and self._built(name)):
            # manifest-only path -- but the built flag and the merge
            # base were read OUTSIDE the index lock: a first build may
            # commit stats.json while we wait, and a concurrent
            # settings PUT may land. Both are recomputed under the
            # lock; a reindex-needing race falls through to the async
            # path below instead of dying inside mnt.update_settings
            # ('corpus required')
            with self._index_lock(name):
                old, new = merged()
                if not (mnt.requires_full_reindex(old, new)
                        and self._built(name)):
                    mnt.update_settings(self.spark, self.warehouse, new)
                    self._drop_engine(name)
                    return {"reindex": False}
        # async reindex from the stored docs table (the reference
        # extracts docs from its store and bulk re-adds,
        # bulk_operations.go:427-467)
        import os

        from ..build.delta import read_visible_docs

        def run(progress):
            # the corpus snapshot MUST be taken inside the per-index
            # lock: a mutation committed between an early snapshot
            # and the rebuild would be silently erased by the
            # rebuild's pointer flip (lost update). Inside the lock
            # the snapshot is the full committed state by definition.
            with self._index_lock(name):
                # re-merge the body over the settings AS OF JOB TIME:
                # a settings commit that landed while this job was
                # queued must not be reverted to the request-time
                # snapshot (and a deleted index must fail the job,
                # not be resurrected by the rebuild)
                try:
                    _, new = merged()
                except ApiError as e:
                    # 404: the index was deleted while the job was
                    # queued; 400: an interleaved settings commit made
                    # this body invalid. Either way the job fails loud
                    # instead of resurrecting / committing bad state.
                    raise RuntimeError(f"settings reindex aborted: {e}")
                progress(0, 2, "snapshotting corpus")
                # what a READER sees: base docs plus committed delta
                # rows minus tombstones (a plain table read would
                # silently drop pending NRT upserts)
                corpus = read_visible_docs(
                    self.spark, os.path.join(self.warehouse, name)
                ).drop("doc_id", "doc_len", "content_sha256", "shard")
                corpus = corpus.persist()
                try:
                    # materialize BEFORE the rewrite deletes the files
                    corpus.count()
                    progress(1, 2, "reindexing")
                    mnt.update_settings(
                        self.spark, self.warehouse, new, corpus
                    )
                finally:
                    # a failed rebuild must not pin the whole corpus
                    # in executor storage for the app's lifetime
                    corpus.unpersist()
                progress(2, 2, "done")
                return {"reindexed": True}

        job_id = self.jobs.submit("settings_reindex", name, run)
        return {"job_id": job_id, "reindex": True}

    def add_documents(self, name: str, body):
        self._settings(name)
        df = self._docs_df(body, name)

        def run(progress):
            with self._index_lock(name):
                # Re-read EVERYTHING from disk inside the job, under the
                # lock. (a) The built check: two batches queued against a
                # new index both see built=False at request time, and the
                # second full build would silently erase the first
                # batch's documents; checked here, batch 2 sees batch 1's
                # stats.json and takes the upsert path. (b) The index's
                # existence: a DELETE /indexes/{n} accepted after this
                # request but before this job runs must make the job FAIL
                # -- a request-time settings snapshot would quietly
                # rebuild (resurrect) the deleted index from this batch.
                try:
                    settings = self._settings(name)
                except ApiError:
                    raise RuntimeError(
                        f"index {name!r} was deleted before the job ran"
                    )
                if self._built(name):
                    progress(0, 1, "upserting")
                    # a delta commit costs O(batch + vocabulary), never an
                    # index rewrite; the ratio policy folds the deltas
                    # only once they outweigh one compaction
                    m = mnt.IndexMaintenance(self.spark, self.warehouse, name)
                    rep = m.upsert_documents(df, mode="delta")
                    m.maybe_compact()
                    progress(1, 1, "done")
                    return {"updated": rep["updated"],
                            "inserted": rep["inserted"]}
                builder = IndexBuilder(self.spark, settings, self.warehouse)
                report = builder.build(df, num_shards=4, progress_cb=progress)
                return {
                    "built": True,
                    "n_docs": report.n_docs,
                    "n_postings": report.n_postings,
                }

        job_id = self.jobs.submit("add_documents", name, run)
        return {"job_id": job_id, "count": len(body)}

    def list_documents(self, name: str, query: dict):
        """S5 listing, deterministic by doc_id (the reference's map-order
        listing is nondeterministic, document_handlers.go:161-233)."""
        eng = self._engine(name)
        # revalidate against the on-disk generation: every maintenance
        # commit bumps it, and a stale cached DataFrame would miss the
        # newest delta rows or outlive a GC'd generation's part files
        eng._ensure_fresh()
        try:
            page = max(int(query.get("page", ["1"])[0]), 1)
            size = int(query.get("page_size", ["10"])[0])
        except ValueError:
            raise ApiError(400, "page and page_size must be integers")
        if size < 1:
            raise ApiError(400, "page_size must be >= 1")
        total = eng.docs.count()
        rows = (
            eng.docs.orderBy("doc_id")
            .offset((page - 1) * size)
            .limit(size)
            .collect()
        )
        return {
            "documents": [r.asDict(recursive=True) for r in rows],
            "total": total,
            "page": page,
            "page_size": size,
        }

    def get_document(self, name: str, doc_id: str):
        """Single-document fetch by documentID (reference
        api/document_handlers.go:236 GetDocumentHandler). The equality
        predicate is pushed down to the docs parquet scan."""
        eng = self._engine(name)
        eng._ensure_fresh()
        from pyspark.sql import functions as F

        rows = eng.docs.filter(F.col("documentID") == doc_id).limit(1).collect()
        if not rows:
            raise ApiError(404, f"document {doc_id!r} not found in {name!r}")
        return rows[0].asDict(recursive=True)

    def index_stats(self, name: str):
        """Index statistics (reference api/index_handlers.go:424
        GetIndexStatsHandler), extended with the build-time posting/term
        counts the reference cannot cheaply report."""
        settings = self._settings(name)
        out = {
            "name": settings.name,
            "document_count": 0,
            "searchable_fields": settings.searchable_fields,
            "filterable_fields": settings.filterable_fields,
            "typo_settings": {
                "min_word_size_for_1_typo": settings.min_word_size_for_1_typo,
                "min_word_size_for_2_typos": settings.min_word_size_for_2_typos,
            },
            "field_settings": {
                "fields_without_prefix_search":
                    settings.fields_without_prefix_search,
                "no_typo_tolerance_fields": settings.no_typo_tolerance_fields,
                "distinct_field": settings.distinct_field,
            },
        }
        if self._built(name):
            import os

            from ..build.builder import load_stats

            stats = load_stats(os.path.join(self.warehouse, name))
            out["document_count"] = int(stats.get("N", 0))
            out["index_stats"] = {
                k: stats[k]
                for k in (
                    "n_postings", "n_terms", "n_blocks", "avgdl",
                    "generation", "n_salted_terms",
                )
                if k in stats
            }
        return out

    def get_analytics(self):
        """Dashboard (reference api/analytics_handlers.go:12): in-process
        search events + per-index doc counts from the warehouse."""
        stats = []
        for n in mnt.list_indexes(self.warehouse):
            if self._built(n):
                import os

                from ..build.builder import load_stats

                s = load_stats(os.path.join(self.warehouse, n))
                stats.append({"name": n, "document_count": int(s.get("N", 0))})
            else:
                stats.append({"name": n, "document_count": 0})
        return self.analytics.dashboard(stats)

    def job_metrics(self):
        """Aggregate job metrics (reference api/job_handlers.go:60
        GetJobMetricsHandler: totals, success rate, current workload)."""
        jobs = self.jobs.list()
        done = [j for j in jobs if j.status in ("completed", "failed")]
        completed = [j for j in jobs if j.status == "completed"]
        by_type: dict[str, int] = {}
        for j in jobs:
            by_type[j.type] = by_type.get(j.type, 0) + 1
        durations = [
            j.completed_at - j.started_at
            for j in done
            if j.completed_at and j.started_at
        ]
        return {
            "metrics": {
                "total_jobs": len(jobs),
                "completed_jobs": len(completed),
                "failed_jobs": len([j for j in jobs if j.status == "failed"]),
                "jobs_by_type": by_type,
                "avg_duration_sec": round(
                    sum(durations) / len(durations), 4
                ) if durations else 0.0,
            },
            "success_rate": round(len(completed) / len(done), 4) if done else 1.0,
            "current_workload": len(
                [j for j in jobs if j.status in ("pending", "running")]
            ),
        }

    def delete_documents(self, name: str, ids: list[str]):
        self._settings(name)

        def run(progress):
            with self._index_lock(name):
                progress(0, 1, "deleting")
                # delta commit + ratio policy, as in add_documents
                m = mnt.IndexMaintenance(self.spark, self.warehouse, name)
                n = m.delete_documents(ids, mode="delta")
                m.maybe_compact()
                progress(1, 1, "done")
                return {"deleted": n}

        return {"job_id": self.jobs.submit("delete_documents", name, run)}

    def delete_all(self, name: str):
        self._settings(name)

        def run(progress):
            with self._index_lock(name):
                mnt.IndexMaintenance(
                    self.spark, self.warehouse, name
                ).delete_all()
                # delete_all removes stats.json and the tables; a cached
                # engine would raise on every later request instead of
                # returning the proper 404-until-rebuilt
                self._drop_engine(name)
                progress(1, 1, "done")
                return {"deleted_all": True}

        return {"job_id": self.jobs.submit("delete_all", name, run)}

    def search(self, name: str, body: dict):
        req = parse_search_request(body or {})
        svc = SearchService(self._engine(name))
        try:
            res = svc.search(req)
        except ValueError as e:
            raise ApiError(400, str(e))
        from .analytics import determine_search_type

        self.analytics.record(
            name, req.query, res.took_ms, len(res.hits),
            determine_search_type(req.query, req.filters is not None),
        )
        return {
            "hits": res.hits,
            "total": res.total,
            "page": res.page,
            "page_size": res.page_size,
            "took_ms": res.took_ms,
            "query_id": res.query_id,
        }

    def multi_search(self, body: dict):
        body = body or {}
        name = body.get("index", "")
        queries = body.get("queries", {})
        if not isinstance(queries, (dict, list)):
            raise ApiError(
                400, "'queries' must be a list or object of named queries"
            )
        if isinstance(queries, list):
            # the reference's MultiSearchRequest shape
            # (api/search_handlers.go:30-44): a LIST of named queries,
            # names validated non-empty + unique, request-level
            # page/page_size applied to every query that does not set
            # its own
            named: dict = {}
            for q in queries:
                if q is not None and not isinstance(q, dict):
                    raise ApiError(400, "every query must be a JSON object")
                q = dict(q or {})
                qn = str(q.pop("name", ""))
                if not qn:
                    raise ApiError(
                        400, "All queries must have a non-empty name"
                    )
                if qn in named:
                    raise ApiError(
                        400,
                        f"Query names must be unique: {qn!r} appears "
                        "multiple times",
                    )
                for k in ("page", "page_size"):
                    if k in body and k not in q:
                        q[k] = body[k]
                named[qn] = q
            queries = named
        if not name or not queries:
            raise ApiError(400, "body needs 'index' and 'queries'")
        svc = SearchService(self._engine(name))
        for qn, q in queries.items():
            if not isinstance(q, dict):
                raise ApiError(400, f"query {qn!r} must be a JSON object")
        reqs = {qn: parse_search_request(q) for qn, q in queries.items()}
        try:
            envs = svc.multi_search_envelopes(reqs)
        except ValueError as e:
            raise ApiError(400, str(e))
        for qn, r in envs.items():
            self.analytics.record(
                name, reqs[qn].query, r.took_ms, len(r.hits), "multi_search"
            )
        return {
            qn: {
                "hits": r.hits,
                "total": r.total,
                "page": r.page,
                "page_size": r.page_size,
                "took_ms": r.took_ms,
                "query_id": r.query_id,
            }
            for qn, r in envs.items()
        }

    def warm(self, name: str, body: dict | None):
        """Serving mode for THIS server's engine instance: decode +
        persist hot postings (engine.warm); subsequent searches on the
        index run as one Spark job each. Maintenance commits invalidate
        it via the generation check; POST again to re-warm."""
        eng = self._engine(name)
        kwargs = {}
        if body and "max_postings" in body:
            kwargs["max_postings"] = int(body["max_postings"])
        try:
            return eng.warm(**kwargs)
        except ValueError as e:
            raise ApiError(409, str(e))

    def compact(self, name: str, body: dict | None):
        """Async segment compaction; body {"if_needed": true} applies the
        ratio policy (maybe_compact) instead of always folding."""
        self._settings(name)
        if_needed = bool((body or {}).get("if_needed", False))

        def run(progress):
            with self._index_lock(name):
                progress(0, 1, "compacting")
                m = mnt.IndexMaintenance(self.spark, self.warehouse, name)
                if if_needed:
                    did = m.maybe_compact()
                    progress(1, 1, "done")
                    return {"compacted": did}
                n_files = m.compact_segments()
                progress(1, 1, "done")
                return {"compacted": True, "segment_files": n_files}

        return {"job_id": self.jobs.submit("compact", name, run)}

    def get_job(self, job_id: str):
        job = self.jobs.get(job_id)
        if job is None:
            raise ApiError(404, f"job {job_id!r} not found")
        return job.to_dict(debug=self.debug)

    def list_jobs(self, query: dict):
        index = query.get("index", [None])[0]
        status = query.get("status", [None])[0]
        return [
            j.to_dict(debug=self.debug)
            for j in self.jobs.list(index, status)
        ]


def make_handler(server: EngineServer):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet
            pass

        def _send_cors(self) -> None:
            # CORS (reference api/middleware.go:19-31 CORSMiddleware);
            # one helper so preflight and actual responses can never
            # drift apart
            self.send_header("Access-Control-Allow-Origin", "*")
            self.send_header(
                "Access-Control-Allow-Methods",
                "GET, POST, PUT, DELETE, OPTIONS",
            )
            self.send_header(
                "Access-Control-Allow-Headers", "Content-Type, Authorization"
            )

        def _respond(self, status: int, payload) -> None:
            data = json.dumps(payload, default=str).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self._send_cors()
            self.end_headers()
            self.wfile.write(data)

        def _handle(self, method: str) -> None:
            parsed = urlparse(self.path)
            body = None
            try:
                n = int(self.headers.get("Content-Length") or 0)
            except ValueError:
                # a malformed header must get a 400, not an uncaught
                # ValueError that drops the connection with no response
                self._respond(400, {"error": "invalid Content-Length"})
                return
            if n > MAX_BODY_BYTES:
                # reject BEFORE reading: an unbounded body would be
                # buffered into driver memory (api/middleware.go:10-16)
                self._respond(
                    413,
                    {"error": f"request body exceeds {MAX_BODY_BYTES} bytes"},
                )
                return
            if n:
                try:
                    body = json.loads(self.rfile.read(n))
                except json.JSONDecodeError:
                    self._respond(400, {"error": "invalid JSON body"})
                    return
            try:
                out = server.dispatch(
                    method, parsed.path, body, parse_qs(parsed.query)
                )
                self._respond(200, out)
            except ApiError as e:
                self._respond(e.status, {"error": str(e)})
            except Exception as e:  # surface, never hang the client
                self._respond(500, {"error": f"{type(e).__name__}: {e}"})

        def do_GET(self):
            self._handle("GET")

        def do_POST(self):
            self._handle("POST")

        def do_PUT(self):
            self._handle("PUT")

        def do_DELETE(self):
            self._handle("DELETE")

        def do_PATCH(self):
            self._handle("PATCH")

        def do_OPTIONS(self):  # CORS preflight (middleware.go:25-28)
            self.send_response(204)
            self._send_cors()
            self.end_headers()

    return Handler


def serve(spark, warehouse: str, host: str = "127.0.0.1", port: int = 7700,
          debug: bool = False):
    """Start the REST server (blocking). Returns never; for embedded use
    call ``start_server`` which runs it on a daemon thread."""
    state = EngineServer(spark, warehouse, debug=debug)
    httpd = ThreadingHTTPServer((host, port), make_handler(state))
    httpd.serve_forever()


def start_server(
    spark, warehouse: str, host: str = "127.0.0.1", port: int = 0
) -> tuple[ThreadingHTTPServer, EngineServer]:
    """Start on a daemon thread; port=0 picks a free port. Returns
    (httpd, state); httpd.server_address[1] is the bound port."""
    state = EngineServer(spark, warehouse)
    httpd = ThreadingHTTPServer((host, port), make_handler(state))
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    return httpd, state
