"""Index lifecycle + document maintenance operators.

Reference equivalents:
- T11 delete document: strips the doc's entries from every posting list
  and drops empty terms (/root/reference/internal/indexing/
  service.go:344-427). Here: one delta commit of tombstones plus the
  exact vocab-sized term_stats rewrite (build/delta.py) -- the batch
  expression of the same mutation, the shape an Iceberg MERGE/DELETE
  commit has.
- T13 update document: delete-then-add (service.go:166-215) => here
  upsert = tombstones for the old rows + delta docs/postings for the new
  ones, in the same single delta commit.
- Every document mutation commits through that one protocol
  (``_delta_commit``). ``mode="refresh"`` is the delta commit followed by
  ``compact_segments()``, which folds the pending deltas into a fresh
  base generation.
- T12 delete all / T14 bulk reindex: clear + rebuild
  (service.go:324-340, bulk_operations.go:427-467) => builder re-run with
  resume=False.
- O1/O2/O3 create/delete/rename index (internal/engine/
  index_management.go:15-114) => warehouse directory/manifest ops
  (Iceberg: CREATE/DROP/ALTER TABLE).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import IndexSettings
from .builder import IndexBuilder, load_settings


# --- O1/O2/O3: index lifecycle --------------------------------------------

def create_index(warehouse: str, settings: IndexSettings) -> str:
    base = os.path.join(warehouse, settings.name)
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, "settings.json"), "w") as f:
        json.dump(settings.to_dict(), f, indent=2)
    return base


def delete_index(warehouse: str, name: str) -> None:
    shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)


def rename_index(warehouse: str, old: str, new: str) -> None:
    src = os.path.join(warehouse, old)
    dst = os.path.join(warehouse, new)
    if os.path.exists(dst):
        # surface a conflict instead of os.rename's platform-dependent
        # OSError (ENOTEMPTY on a populated index dir); the HTTP layer
        # maps this to 409
        raise FileExistsError(f"index {new!r} already exists")
    os.rename(src, dst)
    settings = load_settings(dst)
    settings.name = new
    try:
        # built index: the name change must land in the committed copy
        # inside stats.json (load_settings prefers it), with a
        # generation bump so live engines reload
        from .builder import commit_settings

        commit_settings(dst, settings)
    except FileNotFoundError:
        with open(os.path.join(dst, "settings.json"), "w") as f:
            json.dump(settings.to_dict(), f, indent=2)


def list_indexes(warehouse: str) -> list[str]:
    """S4: index discovery -- directories holding a settings manifest."""
    if not os.path.isdir(warehouse):
        return []
    return sorted(
        d
        for d in os.listdir(warehouse)
        if os.path.exists(os.path.join(warehouse, d, "settings.json"))
    )


# --- O5: settings update with reindex detection ----------------------------

CORE_SETTINGS = {
    "searchable_fields",
    "filterable_fields",
    "min_word_size_for_1_typo",
    "min_word_size_for_2_typos",
    "fields_without_prefix_search",
    "block_size",
    "term_buckets",
    "store_positions",
}


def requires_full_reindex(old: IndexSettings, new: IndexSettings) -> bool:
    """Core-setting diff => rebuild; else metadata-only commit (reference
    settings_management.go:119-138 -- note the reference docs claim typo
    thresholds are search-time-only but the code forces reindex; code
    wins, mirrored here)."""
    a, b = old.to_dict(), new.to_dict()
    return any(a.get(k) != b.get(k) for k in CORE_SETTINGS)


def update_settings(
    spark: SparkSession,
    warehouse: str,
    new_settings: IndexSettings,
    corpus: DataFrame | None = None,
    id_col: str = "documentID",
) -> bool:
    """Apply a settings update; returns True if a full reindex ran."""
    base = os.path.join(warehouse, new_settings.name)
    old = load_settings(base)
    built = os.path.exists(os.path.join(base, "stats.json"))
    if requires_full_reindex(old, new_settings) and built:
        if corpus is None:
            raise ValueError("core settings changed: corpus required for reindex")
        # zero-downtime: the rebuild lands in a fresh tables_gen root and
        # flips atomically -- live engines keep serving the old settings'
        # index until the commit, then reload (builder.build live_rebuild)
        IndexBuilder(spark, new_settings, warehouse).build(
            corpus, id_col=id_col, resume=False, live_rebuild=True
        )
        return True
    try:
        # non-core diff on a built index: commit atomically via
        # stats.json (generation bump => live engines pick it up)
        from .builder import commit_settings

        commit_settings(base, new_settings)
    except FileNotFoundError:
        # created-but-never-built index: the manifest is the only state
        with open(os.path.join(base, "settings.json"), "w") as f:
            json.dump(new_settings.to_dict(), f, indent=2)
    return False


# --- T11/T13: document-level maintenance ------------------------------------

def _metrics(obs, frame: DataFrame, *aggs) -> dict:
    """An Observation's metrics. A zero-task write (an empty frame, or an
    AQE-coalesced empty side) never posts them; one agg job stands in."""
    try:
        return obs.get
    except Exception:
        return frame.agg(*aggs).collect()[0].asDict()


def _write_observed(frame: DataFrame, path: str, *aggs, cols=None) -> dict:
    """Write ``frame`` (its ``cols`` if given) with ``aggs`` observed on
    the write itself -- zero extra Spark jobs -- and return them."""
    obs = Observation()
    out = frame.observe(obs, *aggs)
    (out.select(*cols) if cols else out).write.mode("overwrite").parquet(path)
    return _metrics(obs, frame, *aggs)


def _check_mode(mode: str) -> None:
    if mode not in ("refresh", "delta"):
        # a typo ('Delta', 'incremental') must fail loudly, not silently
        # pick one of the two behaviours
        raise ValueError(f"mode must be 'refresh' or 'delta', got {mode!r}")


class IndexMaintenance:
    def __init__(self, spark: SparkSession, warehouse: str, name: str):
        self.spark = spark
        self.warehouse = warehouse
        self.base = os.path.join(warehouse, name)
        self.settings = load_settings(self.base)
        self.builder = IndexBuilder(self.spark, self.settings, warehouse)

    def _refresh(self, docs: DataFrame, segments: DataFrame) -> None:
        """Compaction's rewrite step: write docs + segments, then recompute
        stats/blocks via the builder's finalize (the sorted-merge).

        The rewrite goes into a FRESH generation root
        (``tables_gen={R}/``, build/delta.py table_path) and becomes
        visible only at finalize's atomic stats.json pointer flip; the
        previous generation's files are retained one commit as a grace
        window. A LIVE engine mid-query therefore keeps reading its
        (complete, immutable) old generation and picks up the new one at
        its next generation check -- queries concurrent with a compaction
        see either the pre- or post-rewrite index, never a mix, a
        deleted-file error, or a lock (the reference holds a full
        per-index mutex across its rewrite, service.go:99-100)."""
        from .builder import BuildReport, load_stats

        # resolve BEFORE the rewrite: the fallback reads the OLD docs
        # table, which is about to be replaced (and may become empty)
        num_shards = self._num_shards()
        try:
            prev_gen = int(load_stats(self.base).get("tables_gen", 0))
        except FileNotFoundError:
            prev_gen = 0
        self.builder.tables_gen = prev_gen + 1
        # builder._write preserves schema when the frame is empty (a
        # delete of every document must leave a readable empty table);
        # the new generation dir is invisible until the stats.json flip,
        # so no tmp-dir dance is needed
        self.builder._write(
            docs, self.builder.path("docs"), partition_by=["shard"]
        )
        segments.write.mode("overwrite").parquet(
            self.builder.path("segments")
        )
        # the rewritten tables no longer correspond to any build's shard
        # fingerprints: invalidate resume state so the next
        # build(resume=True) re-verifies shard contents instead of
        # silently skipping (e.g. never re-adding deleted documents)
        shutil.rmtree(os.path.join(self.base, "_checkpoints"), ignore_errors=True)
        marker = os.path.join(self.base, "_docs_complete.json")
        if os.path.exists(marker):
            os.remove(marker)
        self.builder._finalize(BuildReport(), num_shards=num_shards)

    def _num_shards(self) -> int:
        """The build's shard-hash modulus from stats.json; fallback for
        stats written before the field existed: max(docs.shard)+1 (an
        under-count only when the highest shards got no documents)."""
        from .builder import load_stats

        try:
            n = int(load_stats(self.base).get("num_shards", 0))
        except FileNotFoundError:
            n = 0
        if n > 0:
            return n
        from .delta import table_path

        docs = self.spark.read.parquet(table_path(self.base, "docs"))
        m = docs.agg(F.max("shard")).collect()[0][0]
        return int(m) + 1 if m is not None else 1

    def delete_documents(
        self, document_ids: list[str], mode: str = "refresh"
    ) -> int:
        """T11: remove docs + their postings; empty terms disappear from
        term_stats (the reference's empty-term cleanup,
        service.go:407-416). Commits one tombstone-only delta generation
        -- O(deleted docs + vocab) work (build/delta.py).
        ``mode="refresh"`` then folds every pending delta with
        compact_segments(); a delete that matched nothing commits
        nothing and writes nothing in either mode."""
        _check_mode(mode)
        from .delta import next_delta_gen, read_visible_docs

        docs = read_visible_docs(self.spark, self.base)
        old_rows = docs.join(
            self._ids_frame(document_ids), "documentID", "left_semi"
        ).persist()
        try:
            n = old_rows.count()
            if n == 0:
                return 0
            self._delta_commit(old_rows, None, next_delta_gen(self.base))
        finally:
            old_rows.unpersist()
        if mode == "refresh":
            self.compact_segments()
        return n

    def _normalize_batch(self, new_corpus: DataFrame, id_col: str) -> DataFrame:
        """Rename the id column and derive doc_len + content_sha256 via
        the builder's shared derivation (an upsert MUST match the
        fresh-build path byte-for-byte: the sha feeds resume fingerprints
        and doc_len feeds BM25 |d|)."""
        from .builder import derive_doc_columns

        nc = new_corpus
        if id_col != "documentID":
            nc = nc.withColumnRenamed(id_col, "documentID")
        # read-modify-write batches (rows read back from the docs table)
        # legitimately carry the engine-derived columns; keep them and the
        # internal doc_id joins/aggs downstream hit AMBIGUOUS_REFERENCE.
        # They are all recomputed by the commit path, so drop, not trust.
        nc = nc.drop("doc_id", "doc_len", "content_sha256", "shard")
        return derive_doc_columns(nc, self.settings)

    def upsert_documents(
        self,
        new_corpus: DataFrame,
        id_col: str = "documentID",
        mode: str = "refresh",
    ) -> dict:
        """T13: document-level update/insert WITHOUT a full rebuild,
        matching the reference's delete-then-add update path
        (/root/reference/internal/indexing/service.go:166-215):

        - existing documentIDs keep their internal doc_id (the reference
          reuses the internal ID on update, service.go:150-163);
        - new documentIDs get ids above the current maximum (NextID++);
        - the updated docs' previous rows are tombstoned and the batch's
          docs + postings are appended as one delta generation, with
          exact vocab-sized df/N/avgdl arithmetic (build/delta.py) --
          untouched documents' postings are never re-derived.

        ``mode="delta"`` returns {"updated", "inserted", "gen",
        "delta_postings", "tombstoned"}. ``mode="refresh"`` runs the same
        commit, then folds every pending delta with compact_segments(),
        and returns {"updated", "inserted"}.
        """
        _check_mode(mode)
        from .builder import load_stats
        from .delta import next_delta_gen, read_visible_docs
        from .ids import assign_doc_ids

        docs = read_visible_docs(self.spark, self.base)
        self._validate_batch_columns(new_corpus, id_col, docs)
        nc = self._normalize_batch(new_corpus, id_col)
        num_shards = self._num_shards()

        joined = nc.join(
            docs.select("documentID", "doc_id"), "documentID", "left"
        ).persist()
        # every persist is released in finally -- the NRT path runs MANY
        # commits on a long-lived server, so a single failed commit
        # leaking a pinned batch-sized cache compounds fast
        upserted = None
        old_rows = None
        id_caches: list[DataFrame] = []
        try:
            # ONE validation job for all batch-level counts (the NRT
            # path's whole point is many small commits -- driver actions
            # are the per-commit constant, VERDICT r3 #5)
            row = joined.agg(
                F.count(F.when(F.col("doc_id").isNotNull(), 1)).alias("n_upd"),
                F.count(F.when(F.col("doc_id").isNull(), 1)).alias("n_ins"),
                F.countDistinct("documentID").alias("n_dist"),
            ).collect()[0]
            n_upd, n_ins = int(row["n_upd"]), int(row["n_ins"])
            if n_upd + n_ins != int(row["n_dist"]):
                # additive duplicates would double postings / fork insert
                # ids; the reference's update path is strictly
                # one-doc-at-a-time
                raise ValueError(
                    "upsert batch contains duplicate documentIDs; dedupe it "
                    "(e.g. dropDuplicates(['documentID'])) before upserting"
                )
            # max doc_id from stats.json (maintained by every commit path)
            # -- zero jobs. Stale-high is safe (ids only need to not
            # collide); an emptied index records -1.
            stats_now = load_stats(self.base)
            if "max_doc_id" not in stats_now:
                raise ValueError(
                    f"index at {self.base} predates the stats.json "
                    "max_doc_id field; rebuild it with the current builder"
                )
            max_id = int(stats_now["max_doc_id"])
            inserts = joined.filter(F.col("doc_id").isNull()).drop("doc_id")
            if n_ins > 0:
                # dense ids appended after the current maximum via the
                # builder's range-partition + offset composition
                # (build/ids.py) -- no single-partition global window, so
                # a bulk insert parallelizes like a fresh build (the
                # reference pre-allocates contiguous NextID ranges per
                # batch, bulk_operations.go:168-202)
                par = self.spark.sparkContext.defaultParallelism
                news = assign_doc_ids(
                    inserts, "documentID", max(1, par), release_into=id_caches
                ).withColumn(
                    "doc_id", (F.col("doc_id") + F.lit(max_id + 1)).cast("long")
                )
            else:  # skip assign_doc_ids' per-partition count job entirely
                news = inserts.withColumn("doc_id", F.lit(None).cast("long"))
            upserted = (
                joined.filter(F.col("doc_id").isNotNull())
                .unionByName(news)
                .withColumn(
                    "shard",
                    F.pmod(F.xxhash64("documentID"), F.lit(num_shards)).cast(
                        "int"
                    ),
                )
                .select(*docs.columns)
                .persist()
            )
            # rows LEAVING: the previous versions of the updated documents
            old_rows = docs.join(
                F.broadcast(
                    joined.filter(F.col("doc_id").isNotNull()).select(
                        "documentID"
                    )
                ),
                "documentID",
                "left_semi",
            ).persist()
            gen = next_delta_gen(self.base)
            extra = self._delta_commit(
                old_rows,
                upserted,
                gen,
                old_empty=(n_upd == 0),
                new_max_id=max_id + n_ins if n_ins > 0 else None,
            )
        finally:
            joined.unpersist()
            if upserted is not None:
                upserted.unpersist()
            if old_rows is not None:
                old_rows.unpersist()
            for frame in id_caches:
                frame.unpersist()
        if mode == "refresh":
            self.compact_segments()
            return {"updated": n_upd, "inserted": n_ins}
        return {"updated": n_upd, "inserted": n_ins, "gen": gen, **extra}

    def _validate_batch_columns(
        self, new_corpus: DataFrame, id_col: str, docs: DataFrame
    ) -> None:
        """The docs table is TYPED (unlike the reference's schema-free
        doc maps): an upsert batch must carry every passthrough column or
        the final projection dies with an unresolved-column error
        mid-plan -- validate upfront with an actionable message."""
        cols = set(new_corpus.columns)
        if id_col != "documentID":
            cols = (cols - {id_col}) | {"documentID"}
        derived = {"doc_id", "doc_len", "content_sha256", "shard"}
        missing = set(docs.columns) - cols - derived
        if missing:
            raise ValueError(
                "upsert batch lacks columns present in the docs table: "
                f"{sorted(missing)} (the index schema is fixed at build; "
                "supply every non-derived column)"
            )

    # --- the delta (LSM/NRT) commit: see build/delta.py ---------------------

    def _flat_postings(self, rows: DataFrame) -> DataFrame:
        from .builder import _norm_field
        from .flatmap import POSTINGS_SCHEMA, make_flatmap

        s = self.settings
        flat_in = rows.select(
            "doc_id",
            "doc_len",
            *[_norm_field(rows, f).alias(f) for f in s.searchable_fields],
        )
        return flat_in.mapInPandas(make_flatmap(s), schema=POSTINGS_SCHEMA)

    def _ids_frame(self, document_ids: list[str]) -> DataFrame:
        """Broadcast frame of the target documentIDs for semi/anti joins.
        An ``isin`` literal embeds one expression per id in the plan --
        a multi-MB plan and driver-memory pressure on a 10^5-id bulk
        delete, the exact flaw the warm path's semi-join fix removed."""
        return F.broadcast(
            self.spark.createDataFrame(
                [(str(i),) for i in document_ids], "documentID string"
            )
        )

    def _delta_commit(
        self,
        old_rows: DataFrame,
        new_docs: DataFrame | None,
        gen: int,
        *,
        old_empty: bool = False,
        new_max_id: int | None = None,
    ) -> dict:
        """Write one delta generation: delta postings/docs + tombstones,
        exact vocab-sized stats rewrite, stats.json as the atomic commit
        point (build/delta.py module docstring has the full protocol).

        Driver-action budget: every count/sum this commit needs rides an
        ``Observation`` on a write the commit performs anyway -- a
        100-doc upsert runs the validation agg + 4 writes and nothing
        else (pinned by tests/test_delta.py's job counter). term_stats is
        written generation-addressed (``term_stats_gen={gen}``) and made
        visible by the stats.json pointer flip, so no crash window ever
        exposes a missing or ahead-of-stats term_stats."""
        from .builder import load_stats
        from .delta import delta_path, term_stats_path
        from .flatmap import POSTINGS_SCHEMA

        s = self.settings
        stats = load_stats(self.base)
        prev_ts_path = term_stats_path(self.base, stats)
        spark = self.spark

        old_flat = (
            None if old_empty else self._flat_postings(old_rows).persist()
        )
        if new_docs is not None:
            new_flat = self._flat_postings(new_docs).persist()
        else:
            new_flat = spark.createDataFrame([], schema=POSTINGS_SCHEMA)
        # every step below runs under one finally: a failed commit
        # (disk full mid-write, unreadable prev term_stats) must not
        # pin two batch-sized cached frames for the app's lifetime --
        # the NRT path's whole point is MANY commits on a long-lived
        # server
        try:

            # --- delta writes; counts ride them as observed metrics ---------
            n_rows = F.count(F.lit(1)).alias("n")
            dl_sum = F.coalesce(F.sum("doc_len"), F.lit(0)).alias("dl")
            post_path = delta_path(self.base, "postings", f"gen={gen}")
            tomb_path = delta_path(self.base, "tombstones", f"gen={gen}")
            if new_docs is not None:
                new_post = _write_observed(new_flat, post_path, n_rows)["n"]
                m = _write_observed(
                    new_docs, delta_path(self.base, "docs", f"gen={gen}"),
                    n_rows, dl_sum,
                )
                new_n, new_dl = m["n"], m["dl"]
            else:
                new_flat.write.mode("overwrite").parquet(post_path)
                new_post, new_n, new_dl = 0, 0, 0
            if old_empty:
                old_rows.select("doc_id").write.mode("overwrite").parquet(
                    tomb_path
                )
                old_n, old_dl = 0, 0
            else:
                m = _write_observed(
                    old_rows, tomb_path, n_rows, dl_sum, cols=["doc_id"]
                )
                old_n, old_dl = m["n"], m["dl"]

            n2 = int(stats["N"]) + new_n - old_n
            total_dl = int(
                stats.get("total_dl", round(stats["avgdl"] * stats["N"]))
            ) + new_dl - old_dl

            # exact per-term df arithmetic: docs leaving/joining each term.
            # old_flat's posting count is observed inside the term_stats job
            # (its only consumer) rather than via a standalone count.
            obs_of = Observation()
            if old_flat is not None:
                leave = (
                    old_flat.observe(obs_of, n_rows)
                    .select("term", "doc_id").distinct()
                    .groupBy("term").agg(F.count("*").alias("_leave"))
                )
            else:
                leave = spark.createDataFrame([], "term string, _leave long")
            joinc = (
                new_flat.select("term", "doc_id").distinct()
                .groupBy("term").agg(F.count("*").alias("_join"))
            )
            # per-(term, field) bounds of the NEW postings (monotone merge
            # below keeps old bounds too: sound, possibly loose after deletes)
            nb = (
                new_flat.groupBy("term", "field")
                .agg(F.max("tf").alias("max_tf"), F.min("dl").alias("min_dl"))
                .groupBy("term")
                .agg(
                    F.map_from_entries(
                        F.sort_array(
                            F.collect_list(
                                F.struct("field", F.struct("max_tf", "min_dl"))
                            )
                        )
                    ).alias("_fb_new")
                )
            )
            ts = spark.read.parquet(prev_ts_path).withColumnRenamed(
                "field_bounds", "_fb_old"
            ).drop("idf", "term_len", "bucket")
            merged = (
                ts.join(leave, "term", "full")
                .join(joinc, "term", "full")
                .join(nb, "term", "full")
            )
            df2 = (
                F.coalesce(F.col("df"), F.lit(0))
                - F.coalesce(F.col("_leave"), F.lit(0))
                + F.coalesce(F.col("_join"), F.lit(0))
            )
            fb = (
                F.when(F.col("_fb_old").isNull(), F.col("_fb_new"))
                .when(F.col("_fb_new").isNull(), F.col("_fb_old"))
                .otherwise(
                    F.map_zip_with(
                        "_fb_old",
                        "_fb_new",
                        lambda k, a, b: F.when(a.isNull(), b)
                        .when(b.isNull(), a)
                        .otherwise(
                            F.struct(
                                F.greatest(a["max_tf"], b["max_tf"]).alias("max_tf"),
                                F.least(a["min_dl"], b["min_dl"]).alias("min_dl"),
                            )
                        ),
                    )
                )
            )
            new_ts = (
                merged.withColumn("df", df2)
                .filter(F.col("df") > 0)  # empty-term cleanup
                .withColumn("idf", F.log(F.lit(float(n2)) / F.col("df")))
                .withColumn("term_len", F.length("term"))
                .withColumn(
                    "bucket",
                    F.pmod(F.xxhash64("term"), F.lit(s.term_buckets)).cast("int"),
                )
                .withColumn("field_bounds", fb)
                .select("term", "df", "idf", "term_len", "bucket", "field_bounds")
            )

            # --- term_stats: write the NEW generation dir; the stats.json
            # pointer flip below is what makes it visible (no rmtree+rename
            # window in which term_stats is missing or ahead of stats)
            new_ts_path = os.path.join(self.base, f"term_stats_gen={gen}")
            n_terms = _write_observed(new_ts, new_ts_path, n_rows)["n"]
            # obs_of rode the term_stats write job
            old_post = (
                0 if old_flat is None else _metrics(obs_of, old_flat, n_rows)["n"]
            )
            stats.update(
                {
                    "N": n2,
                    "avgdl": total_dl / n2 if n2 else 0.0,
                    "total_dl": total_dl,
                    "n_postings": int(stats.get("n_postings", 0))
                    + new_post - old_post,
                    "n_terms": n_terms,
                    "generation": int(stats.get("generation", 0)) + 1,
                    "delta_gen": gen,
                    "term_stats_gen": gen,
                    # cumulative LIVE delta volume (rows written to _delta,
                    # including rows later shadowed by newer gens): the
                    # signal maybe_compact's ratio policy reads
                    "delta_postings": int(stats.get("delta_postings", 0))
                    + new_post,
                    "tombstoned_docs": int(stats.get("tombstoned_docs", 0))
                    + old_n,
                }
            )
            if new_max_id is not None:
                stats["max_doc_id"] = max(
                    int(stats["max_doc_id"]), int(new_max_id)
                )
            # atomic replace: this is THE commit point (readers ignore gen
            # dirs above delta_gen and resolve term_stats via term_stats_gen)
            tmp_stats = os.path.join(self.base, "stats.json.tmp")
            with open(tmp_stats, "w") as f:
                json.dump(stats, f, indent=2)
            os.replace(tmp_stats, os.path.join(self.base, "stats.json"))
            # GC AFTER the commit point: keep the new dir plus the previous
            # one (grace window for readers mid-query on the old pointer)
            self._gc_term_stats(keep={new_ts_path, prev_ts_path})
            return {"delta_postings": new_post, "tombstoned": old_n}
        finally:
            if old_flat is not None:
                old_flat.unpersist()
            if new_docs is not None:
                new_flat.unpersist()

    def _gc_term_stats(self, keep: set[str]) -> None:
        """Remove term_stats directories (legacy + generation-addressed)
        not in ``keep``. Best-effort, post-commit only."""
        import glob

        cands = glob.glob(os.path.join(self.base, "term_stats_gen=*"))
        legacy = os.path.join(self.base, "term_stats")
        if os.path.isdir(legacy):
            cands.append(legacy)
        for d in cands:
            if d not in keep:
                shutil.rmtree(d, ignore_errors=True)

    def maybe_compact(
        self,
        max_delta_fraction: float = 0.10,
        max_tombstone_fraction: float = 0.10,
        target_partitions: int | None = None,
    ) -> bool:
        """Ratio-triggered compaction policy (the LSM knob a serving
        deployment runs after each delta commit or on a timer): fold the
        deltas when the cumulative delta postings exceed
        ``max_delta_fraction`` of the table, or tombstoned docs exceed
        ``max_tombstone_fraction`` of N -- past that point the per-query
        delta-union + visibility filter and the WAND exhaustive fallback
        start costing more than one amortized compaction. Returns whether
        it compacted."""
        from .builder import load_stats
        from .delta import has_delta

        if not has_delta(self.base):
            return False
        stats = load_stats(self.base)
        n_post = max(1, int(stats.get("n_postings", 0)))
        n_docs = max(1, int(stats.get("N", 0)))
        frac_post = int(stats.get("delta_postings", 0)) / n_post
        frac_tomb = int(stats.get("tombstoned_docs", 0)) / n_docs
        if frac_post <= max_delta_fraction and frac_tomb <= max_tombstone_fraction:
            return False
        self.compact_segments(target_partitions)
        return True

    def compact_segments(self, target_partitions: int | None = None) -> int:
        """Fold pending deltas into a fresh base generation and rewrite
        the segments table into a bounded number of files.

        Every upsert/delete appends one delta generation (small files, a
        per-query delta union and visibility filter, and WAND serving the
        exhaustive plan). Compaction is the engine's analogue of an
        LSM/Lucene segment merge: visible base + delta postings merge
        into one repartition-by-(term) rewrite, tombstoned rows drop, and
        stats/blocks are refreshed from the compacted table -- the
        anchored WAND plan serves again afterwards. Returns the file count
        after compaction."""
        import glob

        from .delta import (
            apply_visibility,
            has_delta,
            max_committed_gen,
            read_delta_postings,
            read_tombstones,
            read_visible_docs,
            table_path,
        )

        segments = self.spark.read.parquet(table_path(self.base, "segments"))
        if "shard" in segments.columns:
            segments = segments.drop("shard")
        folding = has_delta(self.base)
        if folding:
            max_gen = max_committed_gen(self.base)
            tomb = read_tombstones(self.spark, self.base, max_gen)
            delta = read_delta_postings(self.spark, self.base, max_gen)
            allseg = segments.withColumn("gen", F.lit(0)).unionByName(
                delta.select(*segments.columns, "gen")
            )
            segments = apply_visibility(allseg, "gen", tomb).drop("gen")
            docs = read_visible_docs(self.spark, self.base)
        else:
            docs = self.spark.read.parquet(table_path(self.base, "docs"))
        if target_partitions is None:
            target_partitions = int(
                self.spark.conf.get("spark.sql.shuffle.partitions")
            )
        # repartition on term: co-locates each term's postings so the
        # finalize's blocks job shuffles less
        compacted = segments.repartition(target_partitions, "term")
        self._refresh(docs, compacted)
        # the folded _delta/ generations are NOT deleted here: stats.json
        # no longer carries delta_gen (so readers ignore them), and
        # in-flight readers of the pre-fold generation may still be
        # scanning their files -- the next compaction's generation GC
        # removes them (same one-commit grace as the tables_gen roots).
        # _refresh's finalize already GC'd superseded generations; count
        # files in the NEW segments dir
        return len(
            glob.glob(os.path.join(table_path(self.base, "segments"),
                                   "*.parquet"))
        )

    def delete_all(self) -> None:
        """T12: clear everything; next build starts fresh."""
        import glob

        from .delta import DELTA_DIR

        for sub in ("docs", "segments", "term_stats", "blocks",
                    "_checkpoints", DELTA_DIR):
            shutil.rmtree(os.path.join(self.base, sub), ignore_errors=True)
        for d in glob.glob(os.path.join(self.base, "tables_gen=*")):
            shutil.rmtree(d, ignore_errors=True)
        self._gc_term_stats(keep=set())
        for f in ("stats.json", "metrics.json", "_docs_complete.json"):
            p = os.path.join(self.base, f)
            if os.path.exists(p):
                os.remove(p)
