"""Incremental (LSM/NRT-style) index maintenance: delta segments,
tombstones, generation-based visibility.

Every document mutation (`IndexMaintenance.upsert_documents` /
`delete_documents`) commits here: it appends immutable delta files and
touches only vocab-sized state, instead of the O(index) rewrite per
write the reference pays with its whole-index gob snapshot
(internal/engine/async_operations.go:192-199) -- at 100 TB a
100-document upsert must not re-encode a 100 TB block table.
``mode="refresh"`` is this commit followed by ``compact_segments()``,
which folds the deltas into a fresh base generation. Layout:

  {index}/_delta/postings/gen=G/    flat POSTINGS_SCHEMA rows (new/updated
                                    docs' postings; tiny, unencoded)
  {index}/_delta/docs/gen=G/        new/updated document rows
  {index}/_delta/tombstones/gen=G/  doc_ids whose older rows died at G

Visibility rule: a row written at generation g (base tables: g = 0) for
doc d is visible iff g >= T(d), where T(d) is the max tombstone
generation for d (0 if none). An update at G writes a tombstone at G
plus new rows at G: the new rows survive (G >= G), every older row dies.

Commit protocol: delta dirs first, then a generation-addressed
``term_stats_gen=G`` directory, stats.json LAST -- stats.json carries
``delta_gen`` AND the ``term_stats_gen`` pointer; readers ignore gen
dirs above ``delta_gen`` and resolve term_stats through the pointer, so
a crash anywhere mid-commit leaves only invisible orphans (stats.json
is the atomic commit point, the same role an Iceberg snapshot commit
plays). Generation numbers are MONOTONE for the index's whole life:
a compaction that folds deltas records the folded high-water mark as
``delta_floor`` (carried forward by every finalize), new commits take
``max(delta_gen, delta_floor) + 1``, and readers only see
``delta_floor < gen <= delta_gen`` -- so the folded ``_delta`` dirs
retained as reader grace can never be resurrected or overwritten by a
later commit. The previous term_stats directory is retained one commit as a
grace window for in-flight readers; older ones are garbage-collected
after the commit point.

Exact-stats arithmetic (what keeps delta results bit-identical to the
compacted index): df' = df - |docs leaving the term| + |docs joining
it| (from re-tokenizing the old rows + the new batch), idf recomputed for EVERY
term from the new N (term_stats is vocab-sized -- rewriting it is cheap
relative to the corpus), total_dl +- integer deltas => avgdl exact,
field_bounds merged monotonically (sound, possibly loose after deletes
-- queries read only their field count).

Queries under pending deltas: candidate-term postings = pruned base
block scan ∪ delta-postings scan (term-filtered; delta files are small
by design), both visibility-filtered. Positional operators
(phrase/proximity/highlight) stay live under pending deltas too: delta
postings carry the same varint position records as the base blocks, so
``SearchEngine.decoded_postings`` (query/engine.py) unions the
visibility-filtered delta rows into the decoded stream -- no NRT feature
gap.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DELTA_DIR = "_delta"

# the four index tables whose directories are generation-addressed by
# compaction and live rebuilds (see table_path)
TABLE_DIRS = ("docs", "segments", "term_stats", "blocks")


def delta_path(base: str, *parts: str) -> str:
    return os.path.join(base, DELTA_DIR, *parts)


def has_delta(base: str, stats: dict | None = None) -> bool:
    """Pending delta segments exist iff the COMMITTED ``delta_gen``
    pointer says so -- never by directory existence: compaction retains
    the folded ``_delta/`` directory one commit as a grace window for
    in-flight readers (same discipline as the tables_gen roots), and
    a crashed first commit leaves orphan dirs with no pointer.

    Pass ``stats`` (one loaded snapshot) when resolving several pointers
    for the same open -- per-call disk reads can tear across a
    concurrent commit (engine._open_frames threads its snapshot)."""
    if stats is None:
        stats = _load_stats_or_empty(base)
    return int(stats.get("delta_gen", 0)) > 0


def _load_stats_or_empty(base: str) -> dict:
    from .builder import load_stats

    try:
        return load_stats(base)
    except FileNotFoundError:
        return {}


def table_path(base: str, name: str, stats: dict | None = None) -> str:
    """Resolve the ACTIVE directory of an index table.

    Three layouts, committed by the atomic stats.json pointer flip:

    - fresh build: plain ``{base}/{name}`` (no pointer keys);
    - compaction or live rebuild: ALL FOUR tables rewritten under
      ``{base}/tables_gen={R}/{name}`` with ``stats["tables_gen"] = R``
      -- the previous generation's directories are retained one commit
      as a grace window for in-flight readers, so a LIVE engine mid-query never loses its
      files to an rmtree (the reference takes a full index lock for
      every rewrite, service.go:99-100; immutable generations + a
      pointer flip are the lock-free equivalent, and the same shape an
      Iceberg snapshot commit has on object storage);
    - delta commit: only term_stats is rewritten, at top-level
      ``term_stats_gen=G`` with the ``term_stats_gen`` pointer (that
      namespace never collides with ``tables_gen=R/`` directories).

    A crash anywhere mid-commit leaves every pointer on the old,
    complete directories -- never a missing-or-ahead table window."""
    if stats is None:
        stats = _load_stats_or_empty(base)
    if name == "term_stats":
        g = stats.get("term_stats_gen")
        if g is not None:
            return os.path.join(base, f"term_stats_gen={int(g)}")
    r = stats.get("tables_gen")
    if r:
        return os.path.join(base, f"tables_gen={int(r)}", name)
    return os.path.join(base, name)


def term_stats_path(base: str, stats: dict | None = None) -> str:
    """Resolve the ACTIVE term_stats directory (see table_path)."""
    return table_path(base, "term_stats", stats)


def generation_roots(base: str, stats: dict) -> set[str]:
    """The TOP-LEVEL directories holding the active tables under
    ``stats`` -- the unit a generation GC must keep or delete whole."""
    roots = set()
    for name in TABLE_DIRS:
        p = table_path(base, name, stats)
        rel = os.path.relpath(p, base)
        roots.add(os.path.join(base, rel.split(os.sep)[0]))
    return roots


def max_committed_gen(base: str, stats: dict | None = None) -> int:
    """The committed delta generation from stats.json (0 = none). Gen
    dirs above it are uncommitted orphans from a crashed commit."""
    if stats is None:
        stats = _load_stats_or_empty(base)
    return int(stats.get("delta_gen", 0))


def delta_floor(base: str, stats: dict | None = None) -> int:
    """Highest delta generation ever FOLDED by a compaction (0 = none).

    Generation numbers are monotone across the index's whole life and
    never reused: a new delta commit takes ``max(delta_gen, delta_floor)
    + 1``, and readers only see ``delta_floor < gen <= delta_gen``.
    Without the floor, the first delta commit after a compaction would
    re-take gen=1 while the folded ``_delta/*/gen=1`` directories are
    still retained as the readers' grace window -- a delta DELETE (which
    writes no docs dir) would then resurrect the stale pre-fold docs
    rows at its own generation: folded docs would surface twice and the
    deleted victim would stay visible. Monotone gens also mean a commit
    never overwrites a directory an in-flight graced reader is scanning.
    ``_finalize`` carries the floor forward through every compaction and
    rebuild (build/builder.py)."""
    if stats is None:
        stats = _load_stats_or_empty(base)
    return int(stats.get("delta_floor", 0))


def next_delta_gen(base: str) -> int:
    """The generation a NEW delta commit must write (monotone; see
    delta_floor)."""
    stats = _load_stats_or_empty(base)
    return max(
        int(stats.get("delta_gen", 0)), int(stats.get("delta_floor", 0))
    ) + 1


def _read_gens(
    spark: SparkSession, base: str, table: str, max_gen: int,
    stats: dict | None,
) -> DataFrame | None:
    """One delta table's committed, unfolded generations (with the
    ``gen`` partition column): exactly the dirs ``delta_floor < gen <=
    max_gen`` that exist (a delete writes no docs dir), or None. Reading
    them by name instead of listing the table root keeps a reader clear
    of the folded generations a compaction's GC is removing."""
    root = delta_path(base, table)
    paths = [
        p for g in range(delta_floor(base, stats) + 1, max_gen + 1)
        if os.path.isdir(p := os.path.join(root, f"gen={g}"))
    ]
    if not paths:
        return None
    return spark.read.option("basePath", root).parquet(*paths)


def read_tombstones(
    spark: SparkSession, base: str, max_gen: int,
    stats: dict | None = None,
) -> DataFrame | None:
    """(doc_id, tgen = max tombstone generation), committed gens only
    (gens at or below the compaction floor are folded state)."""
    t = _read_gens(spark, base, "tombstones", max_gen, stats)
    if t is None:
        return None
    return t.groupBy("doc_id").agg(F.max("gen").alias("tgen"))


def apply_visibility(
    rows: DataFrame, gen_col: str, tomb: DataFrame | None
) -> DataFrame:
    """Filter to visible rows: gen >= T(doc_id). ``rows`` must carry
    ``doc_id`` and ``gen_col``; the tombstone side is broadcast (it is
    bounded by the docs mutated since the last compaction)."""
    if tomb is None:
        return rows
    return (
        rows.join(F.broadcast(tomb), "doc_id", "left")
        .filter(F.col("tgen").isNull() | (F.col(gen_col) >= F.col("tgen")))
        .drop("tgen")
    )


def read_delta_postings(
    spark: SparkSession, base: str, max_gen: int,
    stats: dict | None = None,
) -> DataFrame:
    """Flat delta postings (POSTINGS_SCHEMA + gen partition column),
    committed gens only (above the compaction floor); NOT yet
    visibility-filtered. Every delta commit writes a postings dir."""
    return _read_gens(spark, base, "postings", max_gen, stats)


def read_visible_docs(
    spark: SparkSession, base: str, stats: dict | None = None
) -> DataFrame:
    """The docs table as a reader must see it: base rows (gen 0) plus
    committed delta rows, visibility-filtered. Falls back to the plain
    base table when no delta state exists. Every pointer resolves from
    ONE stats snapshot (loaded here if not passed) so a commit landing
    mid-call cannot mix generations."""
    if stats is None:
        stats = _load_stats_or_empty(base)
    docs = spark.read.parquet(table_path(base, "docs", stats))
    if not has_delta(base, stats):
        return docs
    max_gen = max_committed_gen(base, stats)
    cols = docs.columns
    allrows = docs.withColumn("gen", F.lit(0))
    ddocs = _read_gens(spark, base, "docs", max_gen, stats)
    if ddocs is not None:
        allrows = allrows.unionByName(ddocs.select(*cols, "gen"))
    tomb = read_tombstones(spark, base, max_gen, stats)
    return apply_visibility(allrows, "gen", tomb).drop("gen")
