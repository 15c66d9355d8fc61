"""Checkpointed, resumable inverted-index build.

Pipeline (one Spark job graph per stage, all declarative):

  corpus --assign_doc_ids--> docs table (doc_id, documentID, doc_len,
        content_sha256, passthrough columns), hash-sharded by documentID
  per pending shard: docs shard --mapInPandas flatMap--> flat postings
        segment (the resume/checkpoint unit, with lineage + metrics row)
  finalize: segments --groupBy term--> term_stats (df deduped by doc,
        bm25.go:44-57; idf = ln(N/df)) --> head-term salting -->
        repartition(term, salt) + sortWithinPartitions --> block-max
        delta+varint blocks, written partitioned by term bucket.

The reference's equivalent machinery is the bulk worker pool + collector +
flush + whole-index gob snapshot (/root/reference/internal/indexing/
bulk_operations.go:65-339, internal/engine/persistence.go:125-142); here
Spark's shuffle replaces the collector, task scheduling replaces the worker
pool, and incremental per-shard segment commits replace whole-index
re-serialization.

Storage layout (parquet locally; the Iceberg runtime jar is not in this
image -- on a real cluster each ``_write`` becomes ``writeTo(...)`` against
an Iceberg catalog and checkpoints become snapshot metadata):

  {warehouse}/{index}/settings.json
  {warehouse}/{index}/docs/shard=K/
  {warehouse}/{index}/segments/shard=K/        flat postings per shard
  {warehouse}/{index}/term_stats/
  {warehouse}/{index}/blocks/bucket=B/
  {warehouse}/{index}/stats.json               N, avgdl, totals
  {warehouse}/{index}/_checkpoints/            lineage + metrics rows
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import IndexSettings
from ..functions.tokenizer import whitespace_word_count_col
from .blocks import BLOCKS_SCHEMA, make_block_builder
from .flatmap import POSTINGS_SCHEMA, make_flatmap
from .ids import assign_doc_ids

def _norm_field(df: DataFrame, name: str):
    """Searchable-field normalization: array<string> joins with a space
    (reference indexing/service.go:233-241), else the raw string column."""
    from pyspark.sql.types import ArrayType

    col = F.col(name)
    try:
        if isinstance(df.schema[name].dataType, ArrayType):
            return F.array_join(col, " ")
    except KeyError:
        pass
    return col


def derive_doc_columns(df: DataFrame, settings) -> DataFrame:
    """Append the engine-derived ``doc_len`` and ``content_sha256``
    columns.

    Shared by the fresh-build path (``_prepare_docs``) and both upsert
    modes (``IndexMaintenance._normalize_batch``): content_sha256 feeds
    shard resume fingerprints and doc_len feeds BM25 |d|, so the two
    paths MUST derive them identically or upserted documents would
    hash/score differently from built ones.

    BM25 |d|: whitespace word count over searchable fields (reference
    bm25.go:109-158); array<string> fields are joined with a space like
    the reference (indexing/service.go:233-241)."""
    dl = None
    for f_name in settings.searchable_fields:
        c = whitespace_word_count_col(
            F.coalesce(_norm_field(df, f_name), F.lit(""))
        )
        dl = c if dl is None else dl + c
    sha_src = (
        F.col("content")
        if "content" in df.columns
        else F.concat_ws(
            "\x1f",
            *[
                F.coalesce(_norm_field(df, f), F.lit(""))
                for f in settings.searchable_fields
            ],
        )
    )
    return df.withColumn("doc_len", dl.cast("long")).withColumn(
        "content_sha256", F.sha2(sha_src, 256)
    )


# checkpoint lineage row shape (one JSON file per shard commit under
# _checkpoints/ -- a metadata write like an Iceberg snapshot commit):
#   shard, fingerprint, status, n_docs, n_postings, wall_sec,
#   docs_per_sec, postings_per_sec, run_id


@dataclass
class BuildReport:
    n_docs: int = 0
    n_postings: int = 0
    n_terms: int = 0
    n_blocks: int = 0
    n_salted_terms: int = 0
    max_df: int = 0
    avgdl: float = 0.0
    shards_built: int = 0
    shards_skipped: int = 0
    wall_sec: float = 0.0
    docs_per_sec: float = 0.0
    postings_per_sec: float = 0.0
    per_shard: list[dict] = field(default_factory=list)
    # wall seconds per serial phase of build(): prepare+fingerprint,
    # the concurrent docs-write+segment-jobs block, finalize. The
    # finalize share is the scaling-relevant number: it is the part
    # that does not shrink linearly with executors
    phases: dict = field(default_factory=dict)

    def to_dict(self) -> dict:
        return dict(self.__dict__)


class IndexBuilder:
    def __init__(self, spark: SparkSession, settings: IndexSettings, warehouse: str):
        self.spark = spark
        self.settings = settings
        self.base = os.path.join(warehouse, settings.name)
        # generation-addressed table layout (build/delta.py table_path):
        # None = plain {base}/{table} dirs (fresh builds); an int R routes
        # the four table dirs under {base}/tables_gen={R}/ -- set by
        # maintenance._refresh so a live rewrite never rmtrees files an
        # in-flight reader is scanning
        self.tables_gen: int | None = None
        # cached frames pinned for the duration of one build() call
        # (assign_doc_ids' range-partitioned intermediate + the prepared
        # docs frame); released in build()'s finally so a long-lived HTTP
        # server doesn't accrete one cached corpus per add_documents job
        self._stage_caches: list[DataFrame] = []

    # --- paths -----------------------------------------------------------
    def path(self, *parts: str) -> str:
        from .delta import TABLE_DIRS

        if self.tables_gen and parts and parts[0] in TABLE_DIRS:
            return os.path.join(
                self.base, f"tables_gen={self.tables_gen}", *parts
            )
        return os.path.join(self.base, *parts)

    # --- public ----------------------------------------------------------
    def build(
        self,
        corpus: DataFrame,
        id_col: str = "documentID",
        num_shards: int = 8,
        resume: bool = True,
        fail_after_shards: int | None = None,
        progress_cb=None,
        live_rebuild: bool = False,
    ) -> BuildReport:
        """See ``_build_impl``; this wrapper only guarantees the build's
        stage caches are released on every exit path (success, resume
        crash, injected test failure)."""
        try:
            return self._build_impl(
                corpus,
                id_col=id_col,
                num_shards=num_shards,
                resume=resume,
                fail_after_shards=fail_after_shards,
                progress_cb=progress_cb,
                live_rebuild=live_rebuild,
            )
        finally:
            for frame in self._stage_caches:
                try:
                    frame.unpersist()
                except Exception:
                    pass
            self._stage_caches.clear()

    def _build_impl(
        self,
        corpus: DataFrame,
        id_col: str = "documentID",
        num_shards: int = 8,
        resume: bool = True,
        fail_after_shards: int | None = None,
        progress_cb=None,
        live_rebuild: bool = False,
    ) -> BuildReport:
        """Build (or resume) the index from ``corpus``.

        ``fail_after_shards`` is a test hook that raises after N shard
        commits, simulating a mid-build crash for resume tests.
        ``progress_cb(done, total, message)``: live progress for the job
        manager (api/jobs.py), fired at each shard commit + finalize --
        the reference's job progress updates (jobs/manager.go:113-172).

        ``live_rebuild``: zero-downtime full rebuild. Instead of
        rmtree'ing the index root (which yanks files out from under
        concurrent readers AND discards job metrics), the whole build
        lands in a fresh ``tables_gen=R/`` root and becomes visible at
        finalize's atomic stats.json flip -- live engines serve the old
        generation throughout and pick up the rebuild on their next
        query (the settings-reindex path; the reference blocks behind
        its index mutex for the duration, bulk_operations.go:427-467).
        """
        t0 = time.time()
        run_id = uuid.uuid4().hex[:12]
        report = BuildReport()
        os.makedirs(self.base, exist_ok=True)
        from .delta import has_delta

        if resume and live_rebuild:
            raise ValueError("live_rebuild is a full rebuild: resume=False")
        if resume and has_delta(self.base):
            # a resume build reads only the BASE tables; folding it over
            # pending delta segments would silently drop them
            raise RuntimeError(
                "index has pending delta segments (_delta/); run "
                "IndexMaintenance.compact_segments() before a resume "
                "build, or rebuild with resume=False"
            )
        if not resume:
            if live_rebuild:
                try:
                    prev = load_stats(self.base)
                except (FileNotFoundError, ValueError):
                    prev = {}
                self.tables_gen = int(prev.get("tables_gen", 0)) + 1
                # resume state describes the plain-layout shards, not the
                # generation being written now
                shutil.rmtree(self.path("_checkpoints"), ignore_errors=True)
                old_marker = self.path("_docs_complete.json")
                if os.path.exists(old_marker):
                    os.remove(old_marker)
            else:
                shutil.rmtree(self.base, ignore_errors=True)
                os.makedirs(self.base, exist_ok=True)
        # NOTE a resume build always STAGES in the plain layout
        # (self.tables_gen stays None) and flips the pointer back at
        # finalize -- never into the committed tables_gen root, which a
        # mid-resume crash would otherwise corrupt in place under live
        # readers. Safety against resuming a DIFFERENT layout's shards
        # comes from the tables_gen tag on the docs marker and on every
        # checkpoint row (_completed_shards): after a live_rebuild, a
        # plain resume sees only foreign-layout checkpoints, ignores
        # them, and rebuilds every shard.
        if not live_rebuild:
            # live_rebuild must NOT touch the committed settings before
            # the stats.json flip: readers opening mid-rebuild (and any
            # state a crashed rebuild leaves behind) must keep the OLD
            # settings with the OLD tables. The new settings commit
            # atomically inside stats.json at _finalize; the mirror file
            # is rewritten after. Fresh builds (base just recreated, no
            # readers) write the mirror early so the index is
            # discoverable while it builds.
            with open(self.path("settings.json"), "w") as f:
                json.dump(self.settings.to_dict(), f, indent=2)

        docs = self._prepare_docs(corpus, id_col, num_shards)

        # ONE job computes every shard's fingerprint (count + order-
        # insensitive sum of row hashes); the per-shard loop then only
        # pays for work that actually runs
        fp_rows = (
            docs.select(
                "shard",
                # content_sha256 is load-bearing: same documentID set
                # with edited content must CHANGE the fingerprint, or a
                # resume build silently keeps the stale postings (the
                # invariant derive_doc_columns documents)
                F.xxhash64(
                    F.concat_ws(
                        "\x1f",
                        "documentID",
                        F.col("doc_id").cast("string"),
                        "content_sha256",
                    )
                ).cast("decimal(38,0)").alias("h"),
            )
            .groupBy("shard")
            .agg(F.count("*").alias("n"), F.sum("h").alias("s"))
            .collect()
        )
        fps = {
            int(r["shard"]): (f"{r['n']}:{r['s']}", int(r["n"])) for r in fp_rows
        }
        # the fingerprint aggregate materialized the docs cache (the last
        # entry in _stage_caches); the id-assignment intermediates are now
        # redundant copies -- drop them so the build holds ONE cached
        # corpus, not two
        for frame in self._stage_caches[:-1]:
            frame.unpersist()
        del self._stage_caches[:-1]
        report.phases["prepare_fingerprint"] = round(time.time() - t0, 3)

        # docs table: one partitioned write, marker-gated for resume
        marker = self.path("_docs_complete.json")
        total_fp = ":".join(fps[k][0] for k in sorted(fps))
        docs_ok = False
        if resume and os.path.exists(marker):
            try:
                with open(marker) as f:
                    mk = json.load(f)
            except (json.JSONDecodeError, OSError):
                # a crash mid-marker-write leaves a truncated file; an
                # unreadable marker means "docs not verifiably complete",
                # never a dead resume path
                mk = {}
            # the marker must describe THIS build's layout: a docs table
            # written into a tables_gen root by a live_rebuild must not
            # satisfy a later plain-layout resume build (or vice versa)
            docs_ok = (
                mk.get("fingerprint") == total_fp
                and mk.get("tables_gen") == self.tables_gen
            )

        def write_docs() -> None:
            self._write(docs, self.path("docs"), partition_by=["shard"])
            # atomic: the marker asserts a COMPLETE docs table, so it
            # must never exist half-written itself
            tmp = marker + ".tmp"
            with open(tmp, "w") as f:
                json.dump(
                    {"fingerprint": total_fp, "tables_gen": self.tables_gen},
                    f,
                )
            os.replace(tmp, marker)

        # resume hygiene: a shard that vanished from the new corpus (or a
        # shard id beyond a shrunk num_shards) must not leave stale
        # segments behind -- _finalize reads the whole segments/ tree and
        # doc_ids are dense ranks, so stale postings would silently
        # misattribute old postings to new documents
        self._clean_stale_shards(fps, num_shards)

        completed = self._completed_shards() if resume else {}
        flat_map = make_flatmap(self.settings)

        done_lock = threading.Lock()
        done_count = [0]

        def notify_shard_done() -> None:
            if progress_cb is None:
                return
            with done_lock:
                done_count[0] += 1
                d = done_count[0]
            # total = pending shards + 1 finalize step
            progress_cb(d, len(pending) + 1, f"shard {d}/{len(pending)}")

        def build_shard(shard: int, fingerprint: str, n_docs: int) -> dict:
            ts = time.time()
            shard_docs = docs.filter(F.col("shard") == shard)
            seg_in = shard_docs.select(
                "doc_id",
                "doc_len",
                *[
                    _norm_field(shard_docs, f).alias(f)
                    for f in self.settings.searchable_fields
                ],
            )
            segment = seg_in.mapInPandas(flat_map, schema=POSTINGS_SCHEMA)
            obs = Observation(f"seg{shard}_{run_id}")
            segment = segment.observe(obs, F.count(F.lit(1)).alias("n"))
            self._write(segment, self.path("segments", f"shard={shard}"))
            n_post = int(obs.get["n"])  # no second pass over the segment
            wall = time.time() - ts
            ck = {
                "shard": shard,
                "fingerprint": fingerprint,
                "status": "complete",
                "n_docs": n_docs,
                "n_postings": n_post,
                "wall_sec": wall,
                "docs_per_sec": n_docs / wall if wall > 0 else 0.0,
                "postings_per_sec": n_post / wall if wall > 0 else 0.0,
                "run_id": run_id,
                # layout tag: a checkpoint only resumes a build writing
                # the SAME table root (None = plain dirs)
                "tables_gen": self.tables_gen,
            }
            self._append_checkpoint(ck)
            notify_shard_done()
            return ck

        pending: list[tuple[int, str, int]] = []
        for shard in range(num_shards):
            fingerprint, n_docs = fps.get(shard, ("0:None", 0))
            if n_docs == 0:
                continue
            if shard in completed and completed[shard] == fingerprint:
                report.shards_skipped += 1
                continue
            pending.append((shard, fingerprint, n_docs))

        built = 0
        if fail_after_shards is not None:
            # test hook path: deterministic sequential order so "crash
            # after N shards" is well-defined
            if not docs_ok:
                write_docs()
            for shard, fingerprint, n_docs in pending:
                report.per_shard.append(build_shard(shard, fingerprint, n_docs))
                built += 1
                if built >= fail_after_shards:
                    raise RuntimeError(
                        f"injected failure after {built} shard(s) (test hook)"
                    )
        else:
            # independent jobs run CONCURRENTLY: Spark's scheduler
            # interleaves their tasks, so cores stay busy through each
            # job's I/O and commit stalls (each shard commit is still an
            # independent checkpoint -- a failure loses only unfinished
            # shards, exactly as in the sequential path)
            from concurrent.futures import ThreadPoolExecutor

            max_conc = min(4, 1 + len(pending))
            with ThreadPoolExecutor(max_workers=max_conc) as pool:
                futs = []
                if not docs_ok:
                    futs.append(pool.submit(write_docs))
                shard_futs = [
                    pool.submit(build_shard, s, fp, nd) for s, fp, nd in pending
                ]
                for f in futs:
                    f.result()
                for f in shard_futs:
                    report.per_shard.append(f.result())
                    built += 1

        report.shards_built = built
        report.phases["docs_and_segments"] = round(
            time.time() - t0 - report.phases["prepare_fingerprint"], 3
        )
        if progress_cb is not None:
            progress_cb(len(pending), len(pending) + 1, "finalizing")
        t_fin = time.time()
        import glob as _glob

        if not _glob.glob(
            os.path.join(self.path("segments"), "**", "*.parquet"),
            recursive=True,
        ):
            # empty corpus: no shard had rows, so no shard job ever wrote
            # the segments tree -- OR a resume over an existing index
            # removed every stale shard, leaving segments/ as an empty
            # DIRECTORY (so an isdir check is not enough: readers would
            # hit UNABLE_TO_INFER_SCHEMA, the same failure class as
            # PATH_NOT_FOUND). Materialize an empty segments table so
            # finalize (and every later reader) sees a valid empty index.
            self._write(
                self.spark.createDataFrame([], POSTINGS_SCHEMA),
                self.path("segments"),
            )
        self._finalize(report, num_shards=num_shards)
        report.phases["finalize"] = round(time.time() - t_fin, 3)
        if progress_cb is not None:
            progress_cb(len(pending) + 1, len(pending) + 1, "complete")
        report.wall_sec = time.time() - t0
        if report.wall_sec > 0:
            report.docs_per_sec = report.n_docs / report.wall_sec
            report.postings_per_sec = report.n_postings / report.wall_sec
        with open(self.path("metrics.json"), "w") as f:
            json.dump(report.to_dict(), f, indent=2)
        return report

    # --- stages ----------------------------------------------------------
    def _prepare_docs(
        self, corpus: DataFrame, id_col: str, num_shards: int
    ) -> DataFrame:
        df = corpus
        if id_col != "documentID":
            df = df.withColumnRenamed(id_col, "documentID")
        df = derive_doc_columns(df, self.settings)
        # corpus partition count: defaults scale with the session's
        # parallelism, but ``spark.graft.build.docPartitions`` pins it --
        # the N-vs-4N scaling bench must present IDENTICAL work to both
        # legs (task count drives per-task fixed costs: each Python-UDF
        # task's worker setup -- on Python < 3.12 a re-read of every zip
        # on the worker's sys.path unless the session forks workers from
        # worker_daemon -- and parquet writer open/commit; measured 0.58
        # vs 0.83 ms/doc when one leg ran 4x the tasks of the other), and
        # on a real cluster partitioning is sized to the DATA, not to
        # whichever node count today's job landed on
        par = self.spark.sparkContext.defaultParallelism
        pinned = self.spark.conf.get("spark.graft.build.docPartitions", None)
        if pinned:
            out_n = int(pinned)
        else:
            # size to the DATA, not to a constant multiple of the core
            # count: floor = session parallelism (the flatMap's regex
            # work wants every core even on a small corpus), cap = 4x
            # cores, and in between follow the scan's own split count --
            # a 5k-doc single-file corpus at a blind 4*par=128 partitions
            # paid ~4x the task launches of every downstream stage for
            # nothing (measured: build 10.8s -> 6.6s at sf0.1/local[32])
            n_splits = df.rdd.getNumPartitions()
            out_n = max(par, min(4 * par, n_splits), num_shards)
        range_n = max(num_shards, out_n // 4 if pinned else par)
        df = assign_doc_ids(
            df,
            "documentID",
            range_n,
            out_partitions=out_n,
            release_into=self._stage_caches,
        )
        df = df.withColumn(
            "shard", F.pmod(F.xxhash64("documentID"), F.lit(num_shards)).cast("int")
        )
        df = df.persist()
        self._stage_caches.append(df)
        return df

    def _finalize(self, report: BuildReport, num_shards: int = 0) -> None:
        """Stats, then blocks. Sequenced (not concurrent) on purpose: the
        blocks job's head-term salt set IS term_stats' df column filtered
        at salt_df_threshold, so running term_stats first makes the salt
        set an exact, vocab-sized parquet read instead of the third full
        segments scan per build this used to cost (a sampled df estimate
        at scale). One fewer corpus-sized scan beats the few seconds of
        scheduler overlap the concurrent version bought."""
        s = self.settings
        docs = self.spark.read.parquet(self.path("docs"))
        # avgdl derived from an EXACT integer total: the incremental
        # (delta) maintenance path updates total_dl by +- integer deltas,
        # and both paths must yield bit-identical avgdl (a float mean
        # would differ in the last ulp by summation order)
        n_docs, total_dl, max_doc_id = docs.agg(
            F.count("*"), F.sum("doc_len"), F.max("doc_id")
        ).collect()[0]
        total_dl = int(total_dl or 0)
        # recorded in stats.json so delta upserts can allocate ids with
        # zero driver jobs; computed (not N-1) because maintenance can
        # leave doc_id gaps. Coalesces to -1 for an emptied index.
        max_doc_id = int(max_doc_id) if max_doc_id is not None else -1
        avgdl = total_dl / n_docs if n_docs else 0.0
        report.n_docs = int(n_docs)
        report.avgdl = avgdl
        # an emptied index (every document deleted) still needs readable
        # (empty) term_stats/blocks; observations are skipped because a
        # zero-task dynamic-partition write never fires them (toPyRow
        # asserts on the empty metric row)
        empty = int(n_docs) == 0

        def build_term_stats() -> int | None:
            """Returns the head-term (df >= salt_df_threshold) count when
            the write's observation delivered it, else None (caller falls
            back to a count job)."""
            n_heads: int | None = None
            t_ts = time.time()
            f = self.spark.read.parquet(self.path("segments"))
            flat_obs = Observation(f"flat_{uuid.uuid4().hex[:6]}")
            if not empty:
                f = f.observe(flat_obs, F.count(F.lit(1)).alias("n"))
            # df dedups by doc across fields (reference bm25.go:44-57);
            # idf = ln(N/df) (bm25.go:26-41)
            if len(s.searchable_fields) == 1:
                # single searchable field: the flatMap emits exactly one
                # posting row per (doc_id, field, term) (tf is aggregated
                # inside flatmap.py), so df is a plain row count and the
                # per-field WAND bounds come from the SAME groupBy -- one
                # segments scan + one shuffle instead of two scans + two
                # shuffles + a join
                only = s.searchable_fields[0]
                ts = (
                    f.groupBy("term")
                    .agg(
                        F.count(F.lit(1)).alias("df"),
                        F.max("tf").alias("_max_tf"),
                        F.min("dl").alias("_min_dl"),
                    )
                    .withColumn(
                        "field_bounds",
                        F.create_map(
                            F.lit(only),
                            F.struct(
                                F.col("_max_tf").alias("max_tf"),
                                F.col("_min_dl").alias("min_dl"),
                            ),
                        ),
                    )
                    .drop("_max_tf", "_min_dl")
                )
            else:
                ts = f.groupBy("term").agg(
                    F.countDistinct("doc_id").alias("df")
                )
                # per-(term, field) (max_tf, min_dl): BM25 is monotone
                # increasing in tf / decreasing in dl, so these bound
                # every posting of the pair -- the WAND upper bound
                # becomes a driver-side lookup (query/wand.py) instead
                # of a per-query block-metadata job
                fb = (
                    f.groupBy("term", "field")
                    .agg(F.max("tf").alias("max_tf"), F.min("dl").alias("min_dl"))
                    .groupBy("term")
                    .agg(
                        F.map_from_entries(
                            F.sort_array(
                                F.collect_list(
                                    F.struct("field", F.struct("max_tf", "min_dl"))
                                )
                            )
                        ).alias("field_bounds")
                    )
                )
                ts = ts.join(fb, "term")
            ts = (
                ts.withColumn(
                    "idf", F.log(F.lit(float(n_docs)) / F.col("df"))
                )
                .withColumn("term_len", F.length("term"))
                .withColumn(
                    "bucket",
                    F.pmod(F.xxhash64("term"), F.lit(s.term_buckets)).cast("int"),
                )
                # one canonical column order regardless of which branch
                # built the frame (readers go by name; this keeps the
                # parquet footprint stable across single/multi-field)
                .select("term", "df", "idf", "term_len", "bucket", "field_bounds")
            )
            ts_obs = Observation(f"ts_{uuid.uuid4().hex[:6]}")
            if not empty:
                ts = ts.observe(
                    ts_obs,
                    F.count(F.lit(1)).alias("n"),
                    F.max("df").alias("max_df"),
                    # head-term count observed on the SAME write: the
                    # separate finalize_head_terms count job this replaces
                    # was a whole extra job + term_stats scan per build
                    F.sum(
                        F.when(
                            F.col("df") >= s.salt_df_threshold, 1
                        ).otherwise(0)
                    ).alias("n_heads"),
                )
            self._write(ts, self.path("term_stats"))
            if empty:
                report.n_postings = report.n_terms = report.max_df = 0
            else:
                try:
                    report.n_postings = int(flat_obs.get["n"])
                    report.n_terms = int(ts_obs.get["n"])
                    report.max_df = int(ts_obs.get["max_df"] or 0)
                    n_heads = int(ts_obs.get["n_heads"] or 0)
                except Exception:
                    # zero-task write: N>0 docs whose searchable fields
                    # are all empty produce segments with 0 rows, and a
                    # zero-task job never posts observed metrics (same
                    # fallback rule as the delta commit's observations).
                    # n_postings is RECOUNTED from the written segments,
                    # never hardcoded 0: it lands in stats.json and feeds
                    # maybe_compact's ratio and warm sizing, so an
                    # observation lost for any other reason (the
                    # AQE-coalesce class maintenance.py recounts for)
                    # must not record 0 for a non-empty index
                    report.n_postings = int(
                        self.spark.read.parquet(
                            self.path("segments")
                        ).count()
                    )
                    row = (
                        self.spark.read.parquet(self.path("term_stats"))
                        .agg(
                            F.count(F.lit(1)).alias("n"),
                            F.max("df").alias("max_df"),
                        ).collect()[0]
                    )
                    report.n_terms = int(row["n"])
                    report.max_df = int(row["max_df"] or 0)
            report.phases["finalize_term_stats"] = round(time.time() - t_ts, 3)
            return n_heads

        def build_blocks() -> None:
            t_blk = time.time()
            # The block encoder wants 128k-row Arrow batches (posting rows
            # are tens of bytes; the 10k default makes the stage IPC-
            # framing bound, ~20% measured), but
            # arrow.maxRecordsPerBatch is a SESSION conf: flipping it on
            # self.spark would leak to every job sharing the session --
            # a concurrent build's doc-flatMap (API server: one session,
            # per-index jobs on threads) reading 131072 would balloon its
            # KB-sized rows into ~0.25 GB batches per task. So this job
            # runs on a cloned session (same SparkContext, independent
            # SQLConf): the override is visible ONLY to this plan.
            # Work-shape confs are copied explicitly -- newSession()
            # inherits context-conf defaults but not runtime overrides,
            # and the scaling bench's fairness pins must reach this job.
            s2 = self.spark.newSession()
            for key in (
                "spark.sql.shuffle.partitions",
                "spark.sql.adaptive.enabled",
                "spark.sql.adaptive.coalescePartitions.enabled",
                "spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "spark.sql.adaptive.advisoryPartitionSizeInBytes",
                "spark.sql.adaptive.skewJoin.enabled",
                "spark.sql.files.maxPartitionBytes",
                "spark.sql.session.timeZone",
            ):
                try:
                    s2.conf.set(key, self.spark.conf.get(key))
                except Exception:
                    pass  # unset on the source session: keep s2's default
            s2.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", "131072"
            )
            # explicit projection: the segments read carries the `shard`
            # partition-discovery column, which would otherwise ride the
            # (term, salt) shuffle AND the Arrow boundary for nothing
            # (column pruning cannot reach through mapInArrow)
            f = s2.read.parquet(self.path("segments")).select(
                "doc_id", "field", "term", "tf", "positions",
                "is_full_word", "dl",
            )
            # explicit head-term salting: terms above the df threshold
            # shuffle into salt_buckets sub-lists so no single reducer
            # owns a hot term. Membership comes from a BROADCAST join
            # against the (vocab-sized) term_stats just written -- never
            # a collected list baked into the plan as an isin literal:
            # at web scale the head set is thousands of terms, and a
            # multi-MB In-list in the plan is exactly the driver-memory/
            # plan-size flaw the warm path's semi-join fix removed.
            if n_salted:
                heads = (
                    s2.read.parquet(self.path("term_stats"))
                    .filter(F.col("df") >= s.salt_df_threshold)
                    .select("term", F.lit(True).alias("_is_head"))
                )
                salt = F.when(
                    F.col("_is_head").isNotNull(),
                    F.pmod(F.xxhash64("doc_id"), F.lit(s.salt_buckets)).cast("int"),
                ).otherwise(F.lit(0))
                f = f.join(F.broadcast(heads), "term", "left").withColumn(
                    "salt", salt.cast("int")
                ).drop("_is_head")
            else:
                f = f.withColumn("salt", F.lit(0).cast("int"))
            salted = f.withColumn(
                "bucket",
                F.pmod(F.xxhash64("term"), F.lit(s.term_buckets)).cast("int"),
            )
            shuffle_n = int(s2.conf.get("spark.sql.shuffle.partitions"))
            blocks = (
                salted.repartition(shuffle_n, "term", "salt")
                .sortWithinPartitions("term", "field", "salt", "doc_id")
                .mapInArrow(make_block_builder(s), schema=BLOCKS_SCHEMA)
            )
            blk_obs = Observation(f"blk_{uuid.uuid4().hex[:6]}")
            if not empty:
                blocks = blocks.observe(blk_obs, F.count(F.lit(1)).alias("n"))
            self._write(blocks, self.path("blocks"), partition_by=["bucket"])
            if empty:
                report.n_blocks = 0
            else:
                try:
                    report.n_blocks = int(blk_obs.get["n"])
                except Exception:
                    # zero-task write (no postings): same fallback rule
                    report.n_blocks = 0
            report.phases["finalize_blocks"] = round(time.time() - t_blk, 3)

        n_heads = build_term_stats()
        n_salted = 0
        if not empty:
            # terms to salt: df >= salt_df_threshold, from the term_stats
            # just written (vocab-sized, no corpus scan; df there is
            # countDistinct(doc_id), the reference's df semantics).
            # Deterministic -- no sampling noise in the set. The COUNT
            # normally arrives free on the term_stats write's observation
            # (n_heads above); the count job remains only as the fallback
            # for observation-losing writes. The terms themselves reach
            # the blocks job via a broadcast join in build_blocks, so
            # driver state stays O(1) however many terms cross the
            # threshold.
            if n_heads is not None:
                n_salted = n_heads
            else:
                t_head = time.time()
                n_salted = (
                    self.spark.read.parquet(self.path("term_stats"))
                    .filter(F.col("df") >= s.salt_df_threshold)
                    .count()
                )
                report.phases["finalize_head_terms"] = round(
                    time.time() - t_head, 3
                )
        report.n_salted_terms = int(n_salted)
        build_blocks()

        # monotonically increasing index generation: every finalize (build,
        # delete, upsert, compact, reindex) bumps it, so a LIVE SearchEngine
        # can detect that its driver vocab cache and DataFrame handles are
        # stale -- the Spark analogue of the reference's typo-cache
        # invalidation on index update (typo_finder.go:54-76)
        try:
            prev_stats = load_stats(self.base)
        except (FileNotFoundError, ValueError):
            prev_stats = {}
        generation = int(prev_stats.get("generation", 0)) + 1
        delta_floor_fwd = max(
            int(prev_stats.get("delta_gen", 0)),
            int(prev_stats.get("delta_floor", 0)),
        )
        # atomic replace: stats.json is the commit point readers key their
        # cache coherence on -- a half-written file must never be visible
        tmp_stats = self.path("stats.json.tmp")
        with open(tmp_stats, "w") as f:
            json.dump(
                {
                    "generation": generation,
                    # the ACTIVE settings commit atomically with the
                    # table pointers (load_settings prefers this copy):
                    # a reader can never see new settings with old
                    # tables or vice versa, and a crashed live_rebuild
                    # leaves both on the old generation
                    "settings": self.settings.to_dict(),
                    "N": report.n_docs,
                    "avgdl": avgdl,
                    "total_dl": total_dl,
                    "n_postings": report.n_postings,
                    "n_terms": report.n_terms,
                    "n_blocks": report.n_blocks,
                    "n_salted_terms": report.n_salted_terms,
                    "max_df": report.max_df,
                    "max_doc_id": max_doc_id,
                    # the shard-hash modulus: maintenance ops must reuse it
                    # (max(docs.shard)+1 under-counts when high shards got
                    # no documents)
                    "num_shards": num_shards,
                    # generation-addressed table layout pointer (None when
                    # this finalize wrote the plain dirs of a fresh build)
                    **({"tables_gen": self.tables_gen}
                       if self.tables_gen else {}),
                    # monotone delta-generation floor: a compaction folds
                    # delta_gen G and the NEXT delta commit must take
                    # G+1, never reuse gens whose _delta dirs are still
                    # retained as reader grace (delta.py delta_floor)
                    **({"delta_floor": delta_floor_fwd}
                       if delta_floor_fwd else {}),
                },
                f,
                indent=2,
            )
        os.replace(tmp_stats, self.path("stats.json"))
        # keep the human-readable settings mirror in sync, post-commit
        # (readers already resolve settings from stats.json)
        with open(self.path("settings.json"), "w") as f:
            json.dump(self.settings.to_dict(), f, indent=2)
        # GC AFTER the commit point: delete table directories of
        # generations older than the one just superseded -- the previous
        # generation stays one commit as a grace window for in-flight
        # readers (same discipline as the delta path's term_stats GC)
        self._gc_generations(prev_stats, {"tables_gen": self.tables_gen})

    def _gc_generations(self, prev_stats: dict, new_stats: dict) -> None:
        """Best-effort, post-commit removal of superseded generation
        roots (``tables_gen=*``, ``term_stats_gen=*``, plain table dirs,
        folded ``_delta`` generations), keeping the roots active under
        either ``prev_stats`` (reader grace window) or ``new_stats``."""
        import glob as _glob

        from .delta import DELTA_DIR, TABLE_DIRS, generation_roots

        keep = generation_roots(self.base, prev_stats) | generation_roots(
            self.base, new_stats
        )
        # a folded (committed-away) _delta/ dir is retired state too: it
        # was retained one commit as reader grace by compact_segments
        if int(prev_stats.get("delta_gen", 0)) > 0 or int(
            new_stats.get("delta_gen", 0)
        ) > 0:
            keep.add(os.path.join(self.base, DELTA_DIR))
        cands = _glob.glob(os.path.join(self.base, "tables_gen=*"))
        cands += _glob.glob(os.path.join(self.base, "term_stats_gen=*"))
        # delta gens at or below prev_stats' floor were folded one
        # compaction ago: no reader of either snapshot can see them
        floor = int(prev_stats.get("delta_floor", 0))
        cands += [
            d for d in _glob.glob(os.path.join(self.base, DELTA_DIR, "*", "gen=*"))
            if int(d.rsplit("=", 1)[1]) <= floor
        ]
        cands += [os.path.join(self.base, n) for n in TABLE_DIRS]
        cands += [os.path.join(self.base, DELTA_DIR)]
        for d in cands:
            if os.path.isdir(d) and d not in keep:
                shutil.rmtree(d, ignore_errors=True)

    # --- io helpers --------------------------------------------------------
    def _write(
        self, df: DataFrame, path: str, partition_by: list[str] | None = None
    ) -> None:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        if partition_by:
            import glob as _glob

            if not _glob.glob(
                os.path.join(path, "**", "*.parquet"), recursive=True
            ):
                # a dynamic-partition write of an EMPTY frame emits no data
                # files, leaving a directory whose schema cannot be
                # inferred (e.g. docs after delete_documents removed every
                # document); rewrite as a schema-bearing empty unpartitioned
                # file so readers see an empty table, not an AnalysisException
                df.limit(0).write.mode("overwrite").parquet(path)

    def _clean_stale_shards(self, fps: dict, num_shards: int) -> list[int]:
        """Delete segment dirs + checkpoints of shards absent from the
        current corpus (no rows, or id >= num_shards from an earlier
        build with more shards). Returns the removed shard ids."""
        live = {s for s, (_fp, n) in fps.items() if n > 0 and s < num_shards}
        removed: list[int] = []
        seg_root = self.path("segments")
        if os.path.isdir(seg_root):
            for name in os.listdir(seg_root):
                if not name.startswith("shard="):
                    # maintenance _refresh rewrites segments as
                    # UNPARTITIONED root-level part files; once the build
                    # writes shard= subdirs again those root files are
                    # invisible to partition discovery but never deleted --
                    # remove them so resume-after-maintenance doesn't
                    # depend on that discovery quirk (or leak disk)
                    p = os.path.join(seg_root, name)
                    if os.path.isfile(p):
                        os.remove(p)
                    continue
                try:
                    sid = int(name.split("=", 1)[1])
                except ValueError:
                    continue
                if sid not in live:
                    shutil.rmtree(os.path.join(seg_root, name), ignore_errors=True)
                    removed.append(sid)
        ck = self.path("_checkpoints")
        if os.path.isdir(ck):
            for name in os.listdir(ck):
                if not (name.startswith("shard_") and name.endswith(".json")):
                    continue
                try:
                    sid = int(name[len("shard_"):-len(".json")])
                except ValueError:
                    continue
                if sid not in live:
                    os.remove(os.path.join(ck, name))
        return removed

    def _append_checkpoint(self, row: dict) -> None:
        """One JSON lineage file per shard commit -- a driver-side metadata
        write (like an Iceberg snapshot commit), NOT a Spark job. Latest
        write per shard wins on resume."""
        d = self.path("_checkpoints")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"shard_{row['shard']:05d}.json"), "w") as f:
            json.dump(row, f, indent=2)

    def _completed_shards(self) -> dict[int, str]:
        d = self.path("_checkpoints")
        if not os.path.isdir(d):
            return {}
        out: dict[int, str] = {}
        for name in os.listdir(d):
            if not name.endswith(".json"):
                continue
            try:
                with open(os.path.join(d, name)) as f:
                    row = json.load(f)
            except Exception:
                continue
            if row.get("status") != "complete":
                continue
            # a checkpoint describes shards written under ONE table
            # layout; one from an orphaned (never-committed) live_rebuild
            # root, or from before a layout flip, must not satisfy this
            # build (missing key = legacy plain-layout row)
            if row.get("tables_gen") != self.tables_gen:
                continue
            out[int(row["shard"])] = row["fingerprint"]
        return out


def load_stats(base: str) -> dict:
    with open(os.path.join(base, "stats.json")) as f:
        return json.load(f)


def load_settings(base: str) -> IndexSettings:
    """The ACTIVE settings: the copy committed inside stats.json when the
    index is built (atomic with the table pointers -- new settings are
    never visible with old tables or vice versa), else the settings.json
    manifest (index created but not yet built, or pre-settings-in-stats
    indexes)."""
    try:
        emb = load_stats(base).get("settings")
        if emb is not None:
            return IndexSettings.from_dict(emb)
    except (FileNotFoundError, ValueError):
        pass
    with open(os.path.join(base, "settings.json")) as f:
        return IndexSettings.from_dict(json.load(f))


def commit_settings(base: str, settings: IndexSettings) -> None:
    """Atomically commit a settings change on a BUILT index without a
    reindex (non-core diffs, renames): the new settings land in
    stats.json -- the single commit point -- with a generation bump so
    live engines reload their cached settings; the human-readable
    settings.json mirror is rewritten after."""
    stats = load_stats(base)
    stats["settings"] = settings.to_dict()
    stats["generation"] = int(stats.get("generation", 0)) + 1
    tmp = os.path.join(base, "stats.json.tmp")
    with open(tmp, "w") as f:
        json.dump(stats, f, indent=2)
    os.replace(tmp, os.path.join(base, "stats.json"))
    with open(os.path.join(base, "settings.json"), "w") as f:
        json.dump(settings.to_dict(), f, indent=2)
