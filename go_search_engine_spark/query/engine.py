"""BM25 top-k query engine over the built index.

One declarative DataFrame DAG per query, mirroring the reference's search
pipeline (/root/reference/internal/search/service.go:76-674, mapped in
SURVEY.md section 3.1):

  query --tokenize(driver)--> candidate terms (exact + typo scan over the
  vocab, deterministic cap) --> posting read (term-bucket partition
  pruning + term pushdown, Arrow-batched block decode; see below) -->
  exact-skip / best-distance-wins (window) --> per-token max penalized
  BM25 --> AND intersection (groupBy doc having token-count == n; rows
  are per-(token, doc) so a plain count is the distinct count) -->
  total-order top-k (score desc, doc_id asc) --> join docs.

Two read paths, one decoder (SearchEngine.decoded_postings): the
candidate table's df bounds a query's posting rows by sum(df) x |fields|.
- At most DRIVER_READ_MAX_ROWS (10k, under the crossover measured on
  the 150k-doc scaling index) and no tombstones pending: the driver reads
  the pruned block rows with pyarrow, decodes them, and hands Spark ONE
  partition. A single partition satisfies every doc_id clustering, so the
  plan has no block scan, no Python tasks and no exchange before top-k
  (the reference likewise walks in-memory candidate postings,
  service.go:328-438). This read happens at plan construction.
- Above the bound: a pruned Spark block scan feeds the same decoder
  through mapInArrow, and ONE hash exchange on doc_id satisfies the
  whole score pipeline.

Scale notes:
- the vocabulary typo scan is a distributed mapInPandas over term_stats
  with a length-band pushdown filter (the reference scans the whole vocab
  single-threaded, typo_finder.go:79-124);
- candidate terms are bounded (n_tokens x MAX_TYPO_CANDIDATES), so
  collecting them to the driver and broadcasting is O(KB); postings reach
  the driver only below the driver-read bound;
- the blocks scan prunes partitions via the term-bucket directory key and
  pushes ``term IN (...)`` to parquet row-group stats (the driver read
  applies the same pruning);
- shuffles: candidate-sized only -- at most the one doc_id exchange, then
  TakeOrdered(k) and a k-row broadcast into the docs join.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from functools import reduce

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..build.builder import load_settings, load_stats
from ..config import (
    BM25_B,
    BM25_K1,
    MAX_TYPO_CANDIDATES,
    TYPO_PENALTY_1,
    TYPO_PENALTY_2,
)
from ..functions.codec import decode_position_records, varint_decode
from ..functions.edit_distance import damerau_levenshtein_batch
from ..functions.tokenizer import tokenize

DECODED_SCHEMA = (
    "term string, field string, doc_id long, tf double, dl long, fw boolean"
)
POS_DECODED_SCHEMA = (
    "term string, field string, doc_id long, fw boolean, positions array<int>"
)
# decoder input columns and output schema, keyed by ``positions``
_DECODE_COLS = {
    False: ("term", "field", "n", "doc_ids", "tfs", "dls", "fws"),
    True: ("term", "field", "n", "doc_ids", "fws", "positions"),
}
_DECODED = {False: DECODED_SCHEMA, True: POS_DECODED_SCHEMA}
# The driver read's gate (SearchEngine._block_rows): a query whose
# candidate postings, bounded by sum(df) x |fields|, number at most this
# many rows is read and decoded on the driver into one partition. That
# saves the scan+decode stage and the doc_id exchange, but runs all the
# scoring downstream in one task, so it loses on large queries. Measured
# on a 4-core host over the 150k-doc scaling index (bench.py
# latency_150k), medians of 5 interleaved runs, driver vs Spark read:
# 4.3k rows 442 vs 747 ms, 17.7k 532 vs 832 ms, 36k 871 vs 1,025 ms,
# 105k 1,798 vs 1,260 ms, 383k 5,411 vs 2,608 ms. The bound sits well
# under that crossover; more cores speed up only the Spark read, which
# moves the crossover down.
DRIVER_READ_MAX_ROWS = 10_000


def decode_blocks_arrow(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """mapInArrow: block rows -> flat (term, field, doc_id[, tf, dl], fw
    [, positions]) -- tf/dl when the input carries the ``tfs``/``dls``
    streams, positions when it carries ``positions`` (decode_blocks and
    SearchEngine._block_rows project one or the other).

    Mirror of the build-side whole-batch Arrow encoder
    (build/blocks.py:_encode_batch). Each binary cell is a
    self-terminating varint stream, so a column's concatenated Arrow
    data buffer decodes in ONE vectorized varint_decode call per batch;
    per-block segmentation falls out of the ``n`` column with numpy
    boundary arithmetic, and the term/field strings are replicated with
    Arrow ``take`` (no Python string objects).
    """
    from ..build.blocks import _binary_parts

    for batch in batches:
        nb = batch.num_rows
        if nb == 0:
            continue
        names = batch.schema.names
        col = lambda name: batch.column(batch.schema.get_field_index(name))
        counts = col("n").to_numpy(zero_copy_only=False).astype(np.int64)
        # the current encoder never writes n == 0 rows, but a future
        # writer doing so would make vstart index one past the decoded
        # delta array (cs[vstart] IndexError) -- fail loud instead
        assert (counts > 0).all(), "block row with n <= 0"
        total = int(counts.sum())
        vstart = np.zeros(nb, dtype=np.int64)
        np.cumsum(counts[:-1], out=vstart[1:])
        row_in_block = (
            np.arange(total, dtype=np.int64) - np.repeat(vstart, counts)
        )

        def stream(name: str) -> np.ndarray:
            offs, data = _binary_parts(col(name))
            return varint_decode(data[offs[0]:offs[-1]])

        deltas = stream("doc_ids")
        # segmented cumsum: each block's delta chain restarts at vstart.
        # Stays uint64 throughout -- the global cumsum may wrap, but the
        # (cs - base) difference is exact under mod-2^64 arithmetic.
        cs = np.cumsum(deltas, dtype=np.uint64)
        base = np.repeat(cs[vstart] - deltas[vstart], counts)
        rep = pa.array(np.repeat(np.arange(nb, dtype=np.int64), counts))
        out = {
            "term": col("term").take(rep),
            "field": col("field").take(rep),
            "doc_id": pa.array((cs - base).astype(np.int64), pa.int64()),
        }
        if "tfs" in names:
            out["tf"] = pa.array(stream("tfs").astype(np.float64))
            out["dl"] = pa.array(stream("dls").astype(np.int64))
        fw_offs, fw_data = _binary_parts(col("fws"))
        bits = np.unpackbits(fw_data[fw_offs[0]:fw_offs[-1]])
        fw_idx = (
            np.repeat((fw_offs[:-1] - fw_offs[0]) * 8, counts) + row_in_block
        )
        out["fw"] = pa.array(bits[fw_idx].astype(bool), pa.bool_())
        if "positions" in names:
            out["positions"] = _block_positions(
                col("positions"), counts, vstart
            )
        yield pa.RecordBatch.from_arrays(list(out.values()), names=list(out))


def _block_positions(
    arr: pa.Array, counts: np.ndarray, vstart: np.ndarray
) -> pa.Array:
    """Per-posting position lists (list<int32>) of a batch's block
    ``positions`` cells. A cell holds its block's ``n`` records
    [count, first, deltas...] back to back (build/flatmap.py), so the
    whole column decodes with ONE varint_decode over its data buffer;
    record starts are walked in a loop bounded by the block size,
    vectorized across blocks, and the positions come out of a segmented
    cumsum (as in codec.decode_position_records)."""
    from ..build.blocks import _binary_parts

    offs, data = _binary_parts(arr)
    b = data[offs[0]:offs[-1]]
    vals = varint_decode(b).astype(np.int64)
    # value index at a byte boundary = terminator bytes before it
    ends = np.concatenate(([0], np.cumsum((b & 0x80) == 0)))
    cell = ends[offs - offs[0]]
    rec = np.empty(int(counts.sum()), dtype=np.int64)
    cur = cell[:-1].copy()
    for j in range(int(counts.max())):
        live = np.nonzero(counts > j)[0]
        rec[vstart[live] + j] = cur[live]
        cur[live] += 1 + vals[cur[live]]
    if not np.array_equal(cur, cell[1:]):
        raise ValueError("corrupt position block: records != block n")
    cnt = vals[rec]
    keep = np.ones(vals.size, dtype=bool)
    keep[rec] = False
    cs = np.cumsum(vals[keep])
    lo = np.concatenate(([0], np.cumsum(cnt)))
    before = np.concatenate(([0], cs))[lo[:-1]]
    pos = (cs - np.repeat(before, cnt)).astype(np.int32)
    return pa.ListArray.from_arrays(
        pa.array(lo, pa.int32()), pa.array(pos, pa.int32())
    )


def decode_blocks(blk: DataFrame, positions: bool = False) -> DataFrame:
    """Block rows -> flat decoded postings via the module-level Arrow
    decoder, with tf/dl (scoring) or positions (positional operators).
    Projects BEFORE the decode UDF: column pruning cannot reach through
    mapInArrow, and the unused stream is the bulk of a block row's
    bytes. Module attribute lookup at call time keeps the decode UDF
    monkeypatchable for the decode-count tests."""
    import go_search_engine_spark.query.engine as _self

    return blk.select(*_DECODE_COLS[positions]).mapInArrow(
        _self.decode_blocks_arrow, schema=_DECODED[positions]
    )


_POS_UDF = None


def _decode_pos_record(col):
    """One varint position record ([count, first, deltas...]) per cell ->
    int[], null -> []. Arrow UDF over the column's data and offset
    buffers (``decode_position_records``), created lazily (the DDL return
    type is parsed against the ACTIVE session, so no module-import-time
    registration); only ever applied to delta rows."""
    global _POS_UDF
    if _POS_UDF is None:

        @F.arrow_udf("array<int>")
        def decode_records(bufs: pa.Array) -> pa.Array:
            bufs = pc.fill_null(bufs, b"").cast(pa.large_binary())
            _, offs, data = bufs.buffers()
            offs = np.frombuffer(offs, dtype=np.int64)[
                bufs.offset : bufs.offset + len(bufs) + 1
            ]
            lo, pos = decode_position_records(data or b"", offs)
            return pa.ListArray.from_arrays(
                pa.array(lo, pa.int32()), pa.array(pos)
            )

        _POS_UDF = decode_records
    return _POS_UDF(col)


def _esc(s: str) -> str:
    """Escape a term for embedding in a SQL string literal. Terms are
    tokenizer output ([a-z0-9]+ and prefixes), so this is belt and
    braces."""
    return str(s).replace("\\", "\\\\").replace("'", "\\'")


def _cand_entries(cand: pd.DataFrame) -> str:
    """The candidate table as one SQL array-of-named_struct literal for
    the literal candidate attach (SearchEngine.attach_cand): one
    expression string instead of ~5 py4j round trips per candidate row.
    repr(float) round-trips exactly."""
    return ",".join(
        "named_struct('term','%s','token','%s','distance',%d,"
        "'penalty',CAST(%r AS DOUBLE),'idf',CAST(%r AS DOUBLE))"
        % (_esc(m), _esc(t), int(d), float(p), float(i))
        for t, m, d, p, i in zip(
            cand["token"], cand["term"], cand["distance"],
            cand["penalty"], cand["idf"],
        )
    )


class SearchEngine:
    """``vocab_cache_max``: when the index's vocabulary is at most this
    many terms, (term, df, idf, term_len) is pulled to the driver ONCE and
    typo scans + candidate stats run driver-side in numpy with ZERO Spark
    jobs per query -- the Spark analogue of the reference's in-memory
    vocabulary (typo_finder.go:10-76). Above the cap (billion-term
    corpora) the distributed scan path is used; both paths produce
    byte-identical candidate tables (tests/test_rank_identity.py)."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        name: str,
        vocab_cache_max: int = 1_000_000,
    ):
        self.spark = spark
        self.base = os.path.join(warehouse, name)
        self._vocab_cache_max = vocab_cache_max
        self._open_frames()

    def _open_frames(self) -> None:
        """(Re)load settings, stats, and the table handles; clears the
        driver vocab cache. Called at open and on generation change."""
        # freshness signature captured BEFORE the loads: a commit landing
        # mid-reload then leaves sig older than the file, so the next
        # _ensure_fresh reloads again (one harmless extra reload) -- the
        # after-the-loads order would record the NEW file's sig against
        # the OLD loaded snapshot and never notice the commit
        st = os.stat(os.path.join(self.base, "stats.json"))
        self._stats_sig = (st.st_mtime_ns, st.st_size)
        self.settings = load_settings(self.base)
        self.stats = load_stats(self.base)
        from ..build.delta import table_path

        # every table resolves through the stats.json pointers
        # (build/delta.py table_path): compactions and rebuilds commit
        # immutable tables_gen=R directories with one-commit grace, so a
        # query in flight across a concurrent rewrite keeps its complete
        # old-generation files
        self.blocks = self.spark.read.parquet(
            table_path(self.base, "blocks", self.stats)
        )
        if "fws" not in self.blocks.columns:
            # format v2 (adds the full-word bitmask per block); a v1 index
            # decodes wrongly everywhere, so fail loud at open
            raise ValueError(
                f"index at {self.base} predates the fws block column "
                "(format v2); rebuild it with the current builder"
            )
        from ..build.delta import term_stats_path

        # resolved through the stats.json pointer: delta commits write
        # generation-addressed term_stats dirs (build/delta.py protocol)
        self.term_stats = self.spark.read.parquet(
            term_stats_path(self.base, self.stats)
        )
        if "field_bounds" not in self.term_stats.columns:
            # per-(term, field) (max_tf, min_dl) bounds: WAND's upper
            # bound and the warm budget's posting-row estimate read them
            raise ValueError(
                f"index at {self.base} predates the term_stats "
                "field_bounds column; rebuild it with the current builder"
            )
        # pending delta state (LSM/NRT maintenance, build/delta.py): the
        # docs view is visibility-filtered, candidate scans union the
        # delta postings, WAND serves the exhaustive plan, positional
        # operators union visibility-filtered delta position records
        from ..build import delta as _delta_mod

        # every pointer below resolves from the ONE self.stats snapshot
        # loaded above -- per-call stats.json re-reads can tear across a
        # commit landing mid-reload (e.g. blocks from generation R but
        # docs from R+1), violating the pre-or-post-commit invariant
        self._delta = _delta_mod.has_delta(self.base, self.stats)
        if self._delta:
            self._delta_max_gen = _delta_mod.max_committed_gen(
                self.base, self.stats
            )
            self._tomb = _delta_mod.read_tombstones(
                self.spark, self.base, self._delta_max_gen, self.stats
            )
            self._delta_post = _delta_mod.read_delta_postings(
                self.spark, self.base, self._delta_max_gen, self.stats
            )
            self.docs = _delta_mod.read_visible_docs(
                self.spark, self.base, self.stats
            )
        else:
            self._tomb = None
            self._delta_post = None
            self.docs = self.spark.read.parquet(
                table_path(self.base, "docs", self.stats)
            )
        self._vocab_pd: pd.DataFrame | None = None
        # driver-side Arrow view of this generation's blocks (see
        # _block_rows), built on first use
        self._blocks_ds = None
        self._generation = int(self.stats.get("generation", 0))
        # warm serving mode state (see warm()); dropped on reload so a
        # maintenance rewrite can never serve stale decoded postings
        self._drop_warm_state()
        self._expr_cache: dict | None = None  # per-generation Column cache

    def _drop_warm_state(self) -> None:
        """Unpersist and reset ALL warm serving state (decoded postings,
        slim docs side, membership boundary). Called
        on every reload AND at the top of warm() -- re-warming the same
        generation must not leak the previous persisted frames, and a
        re-warm that skips the docs_slim branch must not keep serving
        the stale one."""
        old_warm = getattr(self, "_warm_decoded", None)
        if old_warm is not None:
            old_warm.unpersist()
        old_docs = getattr(self, "_docs_slim", None)
        if old_docs is not None:
            old_docs.unpersist()
        self._warm_decoded: DataFrame | None = None
        # partial-warm membership boundary (df*, term*): a term is warm
        # iff (df, term) ranks at-or-before it under (df desc, term asc).
        # O(1) driver state -- NEVER a materialized warm-term set (a 200k
        # literal IN-list in every decode plan was the round-3 scale flaw)
        self._warm_boundary: tuple[int, str] | None = None
        self._warm_all = False
        self._docs_slim: DataFrame | None = None

    def _ensure_fresh(self) -> None:
        """Generation check before serving from cached driver state: every
        maintenance rewrite bumps ``generation`` in stats.json
        (builder._finalize), so a LIVE engine reloads its frames + vocab
        cache instead of serving stale stats or scanning deleted files --
        the reference invalidates its typo cache the same way on every
        index update (typo_finder.go:54-76). Fast path: one stat() call
        (mtime+size signature); stats.json is only re-read when that
        changes."""
        p = os.path.join(self.base, "stats.json")
        try:
            st = os.stat(p)
        except FileNotFoundError:
            raise RuntimeError(
                f"index at {self.base} was deleted under a live engine"
            ) from None
        sig = (st.st_mtime_ns, st.st_size)
        if sig == self._stats_sig:
            return
        if int(load_stats(self.base).get("generation", 0)) != self._generation:
            self._open_frames()
        else:
            self._stats_sig = sig

    # ------------------------------------------------------------------
    def _vocab(self) -> pd.DataFrame | None:
        """Driver-side vocabulary cache, or None when too large."""
        if self.stats.get("n_terms", 1 << 62) > self._vocab_cache_max:
            return None
        if self._vocab_pd is None:
            self._vocab_pd = (
                self.term_stats.select(
                    "term", "df", "idf", "term_len", "field_bounds"
                )
                .toPandas()
                .sort_values("term", ignore_index=True)
            )
        return self._vocab_pd

    def term_field_ub(
        self, terms: list[str], fields: list[str]
    ) -> dict[str, float]:
        """Per-term BM25 tf-part upper bound SUMMED over the queried
        fields, from the build-time per-(term, field) (max_tf, min_dl)
        bounds in term_stats -- driver-side, zero jobs when the vocab is
        cached, one tiny ``term IN`` collect otherwise. The per-field SUM
        is required for soundness: scoring sums tf across fields before
        BM25 saturation, and sat(tf_a + tf_b) <= bound_a + bound_b
        (concave, sat(0) = 0)."""
        vocab = self._vocab()
        tset = set(terms)
        if vocab is not None:
            sub = vocab[vocab["term"].isin(tset)]
            pairs = zip(sub["term"], sub["field_bounds"])
        else:
            rows = (
                self.term_stats.filter(F.col("term").isin(sorted(tset)))
                .select("term", "field_bounds")
                .collect()
            )
            pairs = ((r["term"], r["field_bounds"]) for r in rows)
        avgdl = float(self.stats["avgdl"])
        out: dict[str, float] = {}
        for term, fb in pairs:
            tot = 0.0
            for f_name, b in (fb or {}).items():
                if f_name in fields:
                    mtf, mdl = float(b["max_tf"]), float(b["min_dl"])
                    tot += (
                        mtf
                        * (BM25_K1 + 1.0)
                        / (
                            mtf
                            + BM25_K1
                            * (1.0 - BM25_B + BM25_B * mdl / avgdl)
                        )
                    )
            if tot > 0.0:
                out[term] = tot
        return out

    def _token_gates(
        self,
        tokens: list[str],
        typo_tolerance: bool,
        min_word_size_for_1_typo: int | None = None,
        min_word_size_for_2_typos: int | None = None,
    ):
        """Max typo distance per token (reference Q7 gates,
        service.go:176-226; defaults config/settings.go:141-153).
        Per-query overrides mirror query.MinWordSizeFor1Typo/2Typos
        (service.go:191-200)."""
        s = self.settings
        min1 = (
            min_word_size_for_1_typo
            if min_word_size_for_1_typo is not None
            else s.min_word_size_for_1_typo
        )
        min2 = (
            min_word_size_for_2_typos
            if min_word_size_for_2_typos is not None
            else s.min_word_size_for_2_typos
        )
        gates = {}
        # the `> 0` guard applies to the RESOLVED value (index setting
        # or query override, service.go:192-202): a threshold of 0
        # DISABLES candidates at that distance. Membership in
        # non_typo_tolerant_words is case-insensitive
        # (strings.EqualFold, service.go:179-183); query tokens are
        # already lowercased by the tokenizer
        ntw = {w.lower() for w in s.non_typo_tolerant_words}
        for tok in tokens:
            maxd = 0
            t1 = min1 > 0 and len(tok) >= min1
            t2 = min2 > 0 and len(tok) >= min2
            if typo_tolerance and tok not in ntw:
                if t2:
                    maxd = 2
                elif t1:
                    maxd = 1
            # the reference penalizes by SCAN TIER, not true distance:
            # its 1-typo pass applies x0.8 and its 2-typo pass x0.6 to
            # everything it finds (service.go:246 / :316), and the
            # best-distance dedup only protects terms the 1-typo pass
            # actually found -- so when that pass is gated off (min1=0,
            # or min2 <= len < min1) a distance-1 term is found by the
            # 2-typo pass and penalized x0.6. ``pen1`` is the penalty a
            # distance-1 candidate gets for this token.
            pen1 = TYPO_PENALTY_1 if t1 else TYPO_PENALTY_2
            gates[tok] = (maxd, pen1)
        return gates

    def _guard_keep(self, terms: pd.Series) -> pd.Series:
        """Candidate guard mask (service.go:204-228, both
        case-insensitive; index terms are already lowercase): a candidate
        EQUAL to a non-typo-tolerant word is rejected at any length
        (strings.EqualFold), and a >=3-char candidate that is a prefix
        of one is rejected (strings.HasPrefix over lowered strings).
        The settings list is lowered ONCE per call -- the mask runs over
        every typo candidate of a query, so per-candidate re-lowering
        was O(candidates x words) of pure waste on the driver fast
        path."""
        words = [w.lower() for w in self.settings.non_typo_tolerant_words]
        wset = set(words)

        def ok(term: str) -> bool:
            if term in wset:
                return False
            if len(term) < 3:
                return True
            return not any(w.startswith(term) for w in words)

        return terms.map(ok)

    def typo_scan(self, eligible: list[tuple[str, int]]) -> pd.DataFrame:
        """(token, term, distance) typo candidates for the given
        (token, max_distance) pairs -- ONE pass over the vocabulary for
        ANY number of tokens (multi-search batches all its queries'
        tokens through a single call). Driver-side numpy when the vocab
        is cached; otherwise one distributed mapInPandas job."""
        self._ensure_fresh()
        if not eligible:
            return pd.DataFrame(columns=["token", "term", "distance"])
        vocab = self._vocab()
        if vocab is not None:
            terms = vocab["term"].to_numpy(dtype=object)
            tlen = vocab["term_len"].to_numpy()
            out = []
            for tok, maxd in eligible:
                band = np.abs(tlen - len(tok)) <= maxd
                cand_t = terms[band]
                if len(cand_t) == 0:
                    continue
                dist = damerau_levenshtein_batch(tok, cand_t, maxd)
                m = (dist > 0) & (dist <= maxd)
                if m.any():
                    out.append(
                        pd.DataFrame(
                            {
                                "token": tok,
                                "term": cand_t[m],
                                "distance": dist[m].astype("int32"),
                            }
                        )
                    )
            cands = (
                pd.concat(out, ignore_index=True)
                if out
                else pd.DataFrame(columns=["token", "term", "distance"])
            )
            if len(cands) and self.settings.non_typo_tolerant_words:
                cands = cands[self._guard_keep(cands["term"])]
            # deterministic replacement of the 500/50ms wall-clock cutoff
            cands = (
                cands.sort_values(["token", "distance", "term"])
                .groupby("token", sort=False)
                .head(MAX_TYPO_CANDIDATES)
                .reset_index(drop=True)
            )
            return cands
        return self._typo_scan_distributed(eligible)

    def _typo_scan_distributed(
        self, eligible: list[tuple[str, int]]
    ) -> pd.DataFrame:
        non_typo = list(self.settings.non_typo_tolerant_words)
        # length-band pushdown: only vocab terms within +-maxd of some
        # eligible token length ever reach the distance UDF
        band = reduce(
            lambda a, b: a | b,
            [(F.abs(F.col("term_len") - len(t)) <= d) for t, d in eligible],
        )
        vocab = self.term_stats.select("term").filter(band)

        def dist_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                terms = pdf["term"].to_numpy(dtype=object)
                if len(terms) == 0:
                    continue
                out = []
                for tok, maxd in eligible:
                    dist = damerau_levenshtein_batch(tok, terms, maxd)
                    m = (dist > 0) & (dist <= maxd)
                    if m.any():
                        out.append(
                            pd.DataFrame(
                                {
                                    "token": tok,
                                    "term": terms[m],
                                    "distance": dist[m].astype("int32"),
                                }
                            )
                        )
                if out:
                    yield pd.concat(out, ignore_index=True)

        cands = vocab.mapInPandas(
            dist_fn, schema="token string, term string, distance int"
        )
        # candidate guard (service.go:204-228): case-insensitive
        # equality at any length + >=3-char prefix rejection (index
        # terms are already lowercase, so lower only the settings side)
        if non_typo:
            guard = reduce(
                lambda a, b: a | b,
                [
                    (F.col("term") == F.lit(w.lower()))
                    | (
                        (F.length("term") >= 3)
                        & F.lit(w.lower()).startswith(F.col("term"))
                    )
                    for w in non_typo
                ],
            )
            cands = cands.filter(~guard)
        w = Window.partitionBy("token").orderBy("distance", "term")
        cands = (
            cands.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= MAX_TYPO_CANDIDATES)
            .drop("rn")
        )
        return cands.toPandas()

    def candidate_terms(
        self,
        tokens: list[str],
        typo_tolerance: bool = True,
        min_word_size_for_1_typo: int | None = None,
        min_word_size_for_2_typos: int | None = None,
    ) -> pd.DataFrame:
        """(token, term, distance, penalty, df, idf) candidate table;
        bounded by n_tokens x (1 + MAX_TYPO_CANDIDATES). Zero Spark jobs
        when the vocab is driver-cached."""
        self._ensure_fresh()
        gates = self._token_gates(
            tokens,
            typo_tolerance,
            min_word_size_for_1_typo,
            min_word_size_for_2_typos,
        )
        eligible = [(t, d) for t, (d, _) in gates.items() if d > 0]
        rows = [(t, t, 0, 1.0) for t in tokens]
        typos = self.typo_scan(eligible)
        for r in typos.itertuples():
            pen = (
                gates[r.token][1] if r.distance == 1 else TYPO_PENALTY_2
            )
            rows.append((r.token, r.term, int(r.distance), pen))
        cand = pd.DataFrame(rows, columns=["token", "term", "distance", "penalty"])
        return self._with_stats(cand)

    def _with_stats(self, cand: pd.DataFrame) -> pd.DataFrame:
        """Attach df/idf to a candidate table (driver cache or one tiny
        filtered collect over term_stats)."""
        vocab = self._vocab()
        terms = sorted(set(cand["term"]))
        if vocab is not None:
            sub = vocab[vocab["term"].isin(terms)][["term", "df", "idf"]]
        else:
            sub = (
                self.term_stats.filter(F.col("term").isin(terms))
                .select("term", "df", "idf")
                .toPandas()
            )
        out = cand.merge(sub, on="term", how="left")
        out["df"] = out["df"].fillna(0).astype("int64")
        out["idf"] = out["idf"].fillna(0.0).astype("float64")
        return out

    # ------------------------------------------------------------------
    def warm(
        self,
        max_postings: int = 20_000_000,
        docs_map_max: int = 50_000_000,
    ) -> dict:
        """Opt-in SERVING MODE: decode hot posting blocks ONCE into a
        persisted executor-side frame so queries skip the scan + Arrow
        decode stage, and persist the slim (doc_id, documentID) join side.

        Budgeted, never unbounded: when the whole index fits
        ``max_postings`` every term is warmed; otherwise the highest-df
        terms are warmed up to the budget (the classic hot-set cache --
        head terms dominate query traffic) and cold terms keep the normal
        pruned scan+decode path, unioned per query. The docs map is only
        persisted when N <= ``docs_map_max``. A maintenance rewrite
        (generation bump) drops all warm state on the next query.

        Returns {"warm_terms": n|"all", "warm_postings": n, "docs_slim":
        bool} plus storage telemetry measured from the block manager after
        materialization -- ``bytes_in_memory``, ``bytes_on_disk``,
        ``fraction_in_memory``, ``cached_partitions`` -- so a serving
        operator can size ``max_postings`` against executor memory (a
        ``fraction_in_memory`` < 1.0 means the warm set spilled and the
        budget is too big for the heap).
        """
        self._ensure_fresh()
        # a re-warm (e.g. re-tuning max_postings) must not leak the
        # previous persisted warm frames or keep a stale docs_slim
        self._drop_warm_state()
        n_post = int(self.stats.get("n_postings", 0))
        info: dict = {}
        pre_storage = set(self._storage_info())
        if self._delta and n_post > max_postings:
            # a partial warm set under pending deltas would mix a clean
            # (visibility-applied) warm frame with a cold path that must
            # re-apply visibility -- refuse instead of risking stale rows
            raise ValueError(
                "index has pending delta segments and exceeds the warm "
                "budget; compact_segments() first or raise max_postings"
            )
        if n_post <= max_postings:
            blk = self.blocks
            self._warm_boundary = None
            self._warm_all = True
            info["warm_terms"] = "all"
        else:
            # hot-set selection by cumulative df under the (df desc, term
            # asc) total order. The driver keeps only the BOUNDARY tuple
            # (last term inside the budget): membership is a pure
            # comparison, and the decode filter is a semi-join against
            # the boundary-filtered term_stats -- no giant IN-list in the
            # plan, no 200k-row collect (round-3 VERDICT #3)
            vocab = self._vocab()
            if vocab is not None:  # driver cache: zero jobs
                v = vocab.sort_values(["df", "term"], ascending=[False, True])
                # budget in POSTING ROWS, the unit of max_postings and of
                # the full-warm gate above: the decoded frame has one row
                # per (term, field, doc), so a term's cost is df x the
                # number of fields it appears in (a conservative upper
                # bound -- not every doc matches in every field), not df
                # alone. Single-field indexes are unchanged.
                rows_est = v["df"] * v["field_bounds"].map(
                    lambda fb: max(1, len(fb or {}))
                )
                cum = rows_est.cumsum()
                k = int((cum <= max_postings).sum())
                boundary = (
                    (int(v["df"].iloc[k - 1]), str(v["term"].iloc[k - 1]))
                    if k > 0 else None
                )
                n_chosen = k
            else:  # big vocab: distributed selection, 3 tiny collects
                boundary, n_chosen = self._warm_boundary_distributed(
                    max_postings
                )
            if boundary is None:
                raise ValueError(
                    "warm budget is below the largest term's df; raise "
                    "max_postings"
                )
            self._warm_boundary = boundary
            self._warm_all = False
            blk = self.blocks.join(
                self._warm_chosen_terms(), "term", "left_semi"
            )
            info["warm_terms"] = n_chosen
        decoded = decode_blocks(blk)
        if self._delta:
            # fold pending deltas INTO the warm frame (visibility applied
            # once, at warm time); the generation check re-warms after the
            # next maintenance commit
            from ..build.delta import apply_visibility

            dp = self._delta_post.select(
                "term", "field", "doc_id", "tf", "dl",
                F.col("is_full_word").alias("fw"), "gen",
            )
            decoded = apply_visibility(
                decoded.withColumn("gen", F.lit(0)).unionByName(dp),
                "gen",
                self._tomb,
            ).drop("gen")
        decoded = (
            decoded
            # persist HASH-PARTITIONED BY doc_id: every aggregation and
            # window in score_and_intersect clusters on key sets that
            # CONTAIN doc_id, so a doc_id partitioning satisfies all of
            # them -- the whole score+intersect pipeline becomes
            # partition-local (ZERO query-time exchanges before top-k).
            # Partition count sized to the WARMED data (~100k postings per
            # partition): per-task launch overhead dominates sub-ms task
            # bodies, so defaulting to shuffle.partitions would pay ~32
            # task launches per stage to scan a few MB of memory. On a
            # partial warm the warmed subset is budget-bounded -- sizing
            # by the full index's n_post would re-pay the task-launch
            # overhead the cap exists to avoid
            .repartition(
                max(4, min(
                    self.spark.sparkContext.defaultParallelism,
                    min(n_post, max_postings) // 100_000 + 1,
                )),
                "doc_id",
            )
            .persist()
        )
        info["warm_postings"] = decoded.count()  # materialize
        self._warm_decoded = decoded
        n_parts = decoded.rdd.getNumPartitions()
        if int(self.stats.get("N", 0)) <= docs_map_max:
            # CO-PARTITIONED with the warm frame (same key, same partition
            # count): the final documentID join then satisfies both sides'
            # distribution -- no exchange, no per-query broadcast job
            self._docs_slim = (
                self.docs.select("doc_id", "documentID")
                .repartition(n_parts, "doc_id")
                .persist()
            )
            self._docs_slim.count()
            info["docs_slim"] = True
        else:
            info["docs_slim"] = False
        mem = disk = parts = 0
        for rid, (m, d, p) in self._storage_info().items():
            if rid not in pre_storage:
                mem, disk, parts = mem + m, disk + d, parts + p
        info["bytes_in_memory"] = mem
        info["bytes_on_disk"] = disk
        info["cached_partitions"] = parts
        total = mem + disk
        info["fraction_in_memory"] = round(mem / total, 4) if total else 1.0
        return info

    def _storage_info(self) -> dict[int, tuple[int, int, int]]:
        """Block-manager storage per cached RDD: {rdd_id: (bytes_in_memory,
        bytes_on_disk, cached_partitions)}. Driver-side metadata lookup,
        zero Spark jobs."""
        out: dict[int, tuple[int, int, int]] = {}
        for i in self.spark.sparkContext._jsc.sc().getRDDStorageInfo():
            out[int(i.id())] = (
                int(i.memSize()), int(i.diskSize()),
                int(i.numCachedPartitions()),
            )
        return out

    def _warm_chosen_terms(self) -> DataFrame:
        """The warm hot-set as a FRAME (term_stats filtered by the
        boundary predicate) for semi-joins -- plan size O(1) regardless
        of how many terms are warm."""
        dstar, tstar = self._warm_boundary
        return self.term_stats.filter(
            (F.col("df") > F.lit(dstar))
            | ((F.col("df") == F.lit(dstar)) & (F.col("term") <= F.lit(tstar)))
        ).select("term")

    def _is_warm_term(self, term: str, df: int) -> bool:
        """Exact membership in the warm hot-set from the boundary tuple
        alone (the candidate table already carries each term's df)."""
        if self._warm_all:
            return True
        if self._warm_boundary is None:
            return False
        dstar, tstar = self._warm_boundary
        return df > dstar or (df == dstar and term <= tstar)

    def _warm_boundary_distributed(
        self, budget: int
    ) -> tuple[tuple[int, str] | None, int]:
        """Budget selection WITHOUT collecting the vocabulary: range-
        partition term_stats by (df desc, term), per-partition df sums ->
        prefix offsets (one tiny collect), within-partition cumulative
        sums (parallel windows, no single-reducer global window), then
        collect ONLY the boundary row. Returns ((df*, term*), n_chosen)."""
        from pyspark.sql import Window

        # same posting-row budget unit as the driver path: df x fields
        # present (see warm()); F.size on a NULL map is -1, greatest
        # clamps it
        rows_col = (
            F.col("df") * F.greatest(F.lit(1), F.size("field_bounds"))
        ).alias("rows_est")
        ts = self.term_stats.select("term", "df", rows_col)
        npart = max(1, self.spark.sparkContext.defaultParallelism)
        parted = ts.repartitionByRange(
            npart, F.col("df").desc(), F.col("term").asc()
        ).withColumn("_pid", F.spark_partition_id()).persist()
        try:
            psums = (
                parted.groupBy("_pid")
                .agg(F.sum("rows_est").alias("s"), F.count("*").alias("c"))
                .orderBy("_pid")
                .collect()
            )
            rows, off, coff = [], 0, 0
            for r in psums:
                rows.append((int(r["_pid"]), off, coff))
                off += int(r["s"])
                coff += int(r["c"])
            offs = F.broadcast(
                self.spark.createDataFrame(
                    rows, "_pid int, _off long, _coff long"
                )
            )
            w = Window.partitionBy("_pid").orderBy(
                F.col("df").desc(), F.col("term").asc()
            )
            withcum = (
                parted.join(offs, "_pid")
                .withColumn("cum", F.sum("rows_est").over(w) + F.col("_off"))
                .withColumn("rk", F.row_number().over(w) + F.col("_coff"))
            )
            hit = (
                withcum.filter(F.col("cum") <= budget)
                .orderBy(F.col("rk").desc())
                .limit(1)
                .select("df", "term", "rk")
                .collect()
            )
            if not hit:
                return None, 0
            r = hit[0]
            return (int(r["df"]), str(r["term"])), int(r["rk"])
        finally:
            parted.unpersist()

    def _term_buckets(self, terms: list[str]) -> list[int]:
        """Bucket of each candidate term via the pure-Python XXH64 replica
        of Spark's xxhash64 (bit-identical, tests/test_xxhash.py) -- exact
        partition pruning with zero Spark jobs."""
        from ..functions.xxhash import term_bucket

        nb = self.settings.term_buckets
        return sorted({term_bucket(t, nb) for t in terms})

    def candidate_blocks(self, cand: pd.DataFrame, fields: list[str]) -> DataFrame:
        """Block rows of the candidate terms: bucket partition pruning
        (zero-job xxhash64 replica) + ``term IN`` row-group pushdown."""
        terms = sorted(set(cand["term"]))
        buckets = self._term_buckets(terms)
        return self.blocks.filter(
            F.col("bucket").isin(buckets)
            & F.col("term").isin(terms)
            & F.col("field").isin(fields)
        )

    def cand_frame(self, cand: pd.DataFrame) -> DataFrame:
        """Broadcast-able Spark frame of the candidate table (df/idf come
        from the candidate table itself -- no term_stats join per query).
        Built from plain tuples: for a few-hundred-row table the Arrow
        pandas conversion costs more in per-query latency than it saves."""
        rows = [
            (str(t), str(m), int(d), float(p), float(i))
            for t, m, d, p, i in zip(
                cand["token"], cand["term"], cand["distance"],
                cand["penalty"], cand["idf"],
            )
        ]
        return F.broadcast(
            self.spark.createDataFrame(
                rows,
                schema="token string, term string, distance int, "
                "penalty double, idf double",
            )
        )

    # literal candidate-attach cap: the inline(filter(array-literal))
    # attach is O(len(cand)) PER DECODED ROW (interpreted higher-order
    # function), so on scanned postings it only beats the broadcast hash
    # join for small candidate tables -- exactly the non-typo case.
    # Typo-heavy queries (up to 500 candidates/token) keep the
    # O(1)-per-row join unless the rows come from the warm frame.
    CAND_LITERAL_MAX = 64

    def attach_cand(self, decoded: DataFrame, cand: pd.DataFrame) -> DataFrame:
        """Attach candidate meta (token, distance, penalty, idf) to decoded
        postings by term: inner-join semantics (a term matching n (token,
        term) pairs fans out n times, no match -> dropped). The candidate
        table is injected as an array literal + inline(filter(...)) -- no
        per-query BroadcastExchange sub-job, no driver->JVM
        createDataFrame -- when it has at most CAND_LITERAL_MAX rows, or
        in warm serving mode, where the postings are an in-memory frame
        and the broadcast job would be most of the query; otherwise the
        broadcast join. An empty table takes the join form (an empty
        array literal fails analysis)."""
        if not len(cand) or (
            len(cand) > self.CAND_LITERAL_MAX and self._warm_decoded is None
        ):
            return decoded.join(self.cand_frame(cand), "term")
        # the struct's ``term`` replaces the posting's: ONE select
        return decoded.select(
            "field", "doc_id", "tf", "dl", "fw",
            F.expr(
                f"inline(filter(array({_cand_entries(cand)}), "
                "s -> s.term = term))"
            ),
        )

    def _blocks_dataset(self):
        """pyarrow dataset over this generation's blocks table (hive
        ``bucket`` partitions), listed once per generation."""
        if self._blocks_ds is None:
            from ..build.delta import table_path

            self._blocks_ds = ds.dataset(
                table_path(self.base, "blocks", self.stats),
                format="parquet",
                partitioning="hive",
            )
        return self._blocks_ds

    def _block_rows(
        self, cand: pd.DataFrame, fields: list[str], positions: bool = False
    ) -> tuple[DataFrame, bool]:
        """Decoded base-block postings of the candidate terms, and whether
        they were read on the driver.

        The candidate table's ``df`` bounds the rows: a (term, field)
        pair holds at most df postings, so a query decodes at most
        sum(df) x |fields| rows. At most DRIVER_READ_MAX_ROWS, the blocks
        are read and decoded right here (pyarrow dataset with the Spark
        path's pruning: bucket partitions, ``term IN``, ``field IN``) and
        handed to Spark as one partition -- no scan+decode stage, no
        Python tasks. Over the bound: the pruned Spark block scan feeding
        the mapInArrow decoder. Both paths run the same decoder.

        Pending tombstones void the bound: ``df`` is the delta-merged
        count, but the base blocks keep every tombstoned posting until a
        compaction folds it, so a term whose docs were mostly deleted
        would pass the gate with its whole base posting list. Those
        queries take the Spark read."""
        terms = sorted(set(cand["term"]))
        per_term = cand.drop_duplicates("term")["df"]
        if (
            self._tomb is not None
            or int(per_term.sum()) * len(fields) > DRIVER_READ_MAX_ROWS
        ):
            blk = self.candidate_blocks(cand, fields)
            return decode_blocks(blk, positions), False
        blk = self._blocks_dataset().to_table(
            columns=list(_DECODE_COLS[positions]),
            filter=ds.field("bucket").isin(self._term_buckets(terms))
            & ds.field("term").isin(terms)
            & ds.field("field").isin(list(fields)),
        )
        batches = list(decode_blocks_arrow(blk.to_batches()))
        if not batches:
            return self.spark.createDataFrame([], schema=_DECODED[positions]), True
        return self.spark.createDataFrame(
            pa.Table.from_batches(batches), schema=_DECODED[positions]
        ), True

    def decoded_postings(
        self, cand: pd.DataFrame, fields: list[str], positions: bool = False
    ) -> DataFrame:
        """THE posting reader of the ranked and positional operators:
        (term, field, doc_id, tf, dl, fw) -- or (term, field, doc_id, fw,
        positions) -- of the candidate table's terms in ``fields``,
        pending deltas applied, CLUSTERED BY doc_id. Every aggregation
        and window downstream (score_and_intersect, the phrase/proximity
        anchor groupings) clusters on a key set containing doc_id, so
        callers never repartition.

        A driver read (_block_rows) arrives as one partition:
        ``coalesce(1)`` makes it SinglePartition, which satisfies every
        clustering, so the plan has no exchange before top-k. A Spark read
        is hash-partitioned by doc_id: one exchange, placed before the
        candidate attach so the attach's interpreted filter(array) runs
        at full parallelism instead of in the scan's few splits.

        Pending deltas: the base blocks still hold replaced docs'
        postings (hidden by tombstones) and the new postings live only in
        the flat delta files -- the candidate terms' delta rows are
        unioned on top and generation visibility applied
        (build/delta.py)."""
        decoded, on_driver = self._block_rows(cand, fields, positions)
        if self._delta:
            from ..build.delta import apply_visibility

            terms = sorted(set(cand["term"]))
            cols = (
                [_decode_pos_record(F.col("positions")).alias("positions")]
                if positions else ["tf", "dl"]
            )
            dp = self._delta_post.filter(
                F.col("term").isin(terms) & F.col("field").isin(fields)
            ).select(
                "term", "field", "doc_id", *cols,
                F.col("is_full_word").alias("fw"), "gen",
            )
            decoded = apply_visibility(
                decoded.withColumn("gen", F.lit(0)).unionByName(dp),
                "gen",
                self._tomb,
            ).drop("gen")
        if on_driver:
            return decoded.coalesce(1)
        return decoded.repartition(F.col("doc_id"))

    def scan_candidates(
        self, cand: pd.DataFrame, fields: list[str]
    ) -> DataFrame:
        """Decoded postings of candidate terms joined with candidate meta:
        (token, term, distance, penalty, idf, field, doc_id, tf, dl, fw).

        Cold mode reads through decoded_postings, so the frame arrives
        clustered by doc_id: one partition for a driver read, one
        doc_id exchange for a Spark read. Warm serving mode: terms
        covered by the persisted decoded frame are filtered from it (no
        scan, no decode); cold terms are read by _block_rows and unioned
        (the union loses the warm frame's partitioning either way)."""
        if self._warm_decoded is None:
            return self.attach_cand(self.decoded_postings(cand, fields), cand)
        terms = sorted(set(cand["term"]))
        dfmap = {str(t): int(d) for t, d in zip(cand["term"], cand["df"])}
        warm = [t for t in terms if self._is_warm_term(t, dfmap[t])]
        cold = sorted(set(terms) - set(warm))
        parts = []
        if warm:
            parts.append(
                self._warm_decoded.filter(
                    F.col("term").isin(warm) & F.col("field").isin(fields)
                )
            )
        if cold:
            parts.append(
                self._block_rows(cand[cand["term"].isin(cold)], fields)[0]
            )
        decoded = (
            reduce(DataFrame.unionByName, parts) if parts
            else self.spark.createDataFrame([], schema=DECODED_SCHEMA)
        )
        return self.attach_cand(decoded, cand)

    # ------------------------------------------------------------------
    def search(
        self,
        query: str,
        k: int = 10,
        fields: list[str] | None = None,
        typo_tolerance: bool = True,
        min_word_size_for_1_typo: int | None = None,
        min_word_size_for_2_typos: int | None = None,
    ) -> DataFrame:
        """Top-k BM25 search; returns (rank, doc_id, documentID, score,
        num_typos, number_exact_words) rank-identical to the oracle.
        Per-query ``min_word_size_for_*`` override the index's typo gates
        (reference Q7, service.go:191-200)."""
        self._ensure_fresh()
        s = self.settings
        fields = fields or s.searchable_fields
        bad = set(fields) - set(s.searchable_fields)
        if bad:
            # reference errors on restriction outside searchable fields
            # (service.go:82-122)
            raise ValueError(f"non-searchable fields: {sorted(bad)}")
        tokens = list(dict.fromkeys(tokenize(query)))
        if not tokens:
            return self._empty_result()

        cand = self.candidate_terms(
            tokens,
            typo_tolerance,
            min_word_size_for_1_typo,
            min_word_size_for_2_typos,
        )
        return self.search_from_cand(cand, fields, k, n_tokens=len(tokens))

    def search_from_cand(
        self, cand: pd.DataFrame, fields: list[str], k: int, n_tokens: int
    ) -> DataFrame:
        """Exhaustive scoring plan from a prepared candidate table (shared
        by search() and the WAND exhaustive tiers): scan_candidates ->
        score_and_intersect -> finish_topk, warm or cold. Cold mode
        arrives clustered by doc_id from decoded_postings (one partition
        from a driver read, one doc_id exchange from a Spark read), warm
        mode from its persisted partitioning -- neither needs an exchange
        here."""
        matched = self.scan_candidates(cand, fields)
        scored = self.score_and_intersect(matched, n_tokens=n_tokens)
        return self.finish_topk(scored, k)

    def finish_topk(
        self,
        scored: DataFrame,
        k: int,
        score: str = "score",
        cols: tuple[str, ...] = ("num_typos", "number_exact_words"),
    ) -> DataFrame:
        """Top-k of a per-doc ranked frame under the total order (``score``
        desc, doc_id asc), with documentID attached: (rank, doc_id,
        documentID, ``score``, *``cols``). The ONE finish of every ranked
        operator -- BM25 search, WAND, phrase and proximity counts."""
        order = [F.desc(score), F.asc("doc_id")]
        if self._docs_slim is not None and score == "score":
            # warm BM25 frames are partitioned like the warm frame, and a
            # shuffle-hash hint vetoes the broadcast the planner would
            # otherwise pick: both sides are already HashPartitioning
            # (doc_id, N), so the hinted join inserts NO exchange and
            # spares the per-query BroadcastExchange job
            out = (
                scored.join(self._docs_slim.hint("shuffle_hash"), "doc_id")
                .orderBy(*order)
                .limit(k)
            )
        else:
            # the total order needs only (score, doc_id), so take the
            # top-k BEFORE attaching documentID -- the docs table then
            # joins against k rows (broadcast build side, no corpus-sized
            # docs shuffle) instead of the full ranked frame. Sound
            # because every ranked doc_id exists in docs (postings and
            # docs commit atomically per generation, and decoded_postings
            # applies delta visibility before any ranking).
            docs = (
                self._docs_slim if self._docs_slim is not None
                else self.docs.select("doc_id", "documentID")
            )
            topk = scored.orderBy(*order).limit(k)
            out = F.broadcast(topk).join(docs, "doc_id")
        return out.select(
            F.row_number().over(Window.orderBy(*order)).alias("rank"),
            "doc_id",
            "documentID",
            score,
            *cols,
        )

    def _exprs(self) -> dict:
        """Per-generation cache of the REUSABLE Column/Window objects of
        the scoring pipeline: Columns are immutable unresolved expression
        trees, so building them once removes ~40 py4j round trips from
        every query's plan construction (a measurable slice of warm-mode
        latency). Rebuilt on reload because avgdl and settings are baked
        into the expressions."""
        if self._expr_cache is not None:
            return self._expr_cache
        avgdl = float(self.stats["avgdl"])
        # doc-level tf per candidate term: sum over allowed fields (dl is
        # per doc, so any entry's); penalty and idf are grouping keys of
        # the aggregation this runs in
        tf, dl = F.sum("tf"), F.first("dl")
        bm25 = (
            F.col("idf")
            * tf
            * F.lit(BM25_K1 + 1.0)
            / (
                tf
                + F.lit(BM25_K1)
                * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * dl / F.lit(avgdl))
            )
        )
        ntf = list(self.settings.no_typo_tolerance_fields)
        self._expr_cache = {
            "ntf_keep": (
                (F.col("distance") == 0) | ~F.col("field").isin(ntf)
                if ntf
                else None
            ),
            "g1_aggs": [
                (F.col("penalty") * bm25).alias("contrib"),
                # the term occurs as a full word in >= 1 allowed field
                F.max(F.col("fw").cast("int")).alias("fw_any"),
            ],
            "best_d": F.min("distance")
            .over(Window.partitionBy("token", "doc_id"))
            .alias("best_d"),
            "best_keep": F.col("distance") == F.col("best_d"),
            "g3_aggs": [
                F.max("contrib").alias("contrib"),
                F.min("distance").alias("dist"),
                F.max(
                    F.when(
                        (F.col("distance") == 0) & (F.col("fw_any") == 1), 1
                    ).otherwise(0)
                ).alias("exact_w"),
            ],
            "final_aggs": [
                # the final grouping consumes g3's output, which is
                # grouped by (token, doc_id) -- rows are unique per
                # (token, doc) BY CONSTRUCTION, so a plain count IS the
                # distinct-token count. countDistinct would plan an
                # extra partial-dedup aggregation level over the g3
                # frame on every query (cold, warm, WAND phases, typo).
                F.count(F.lit(1)).alias("_nt"),
                F.sum("contrib").alias("score"),
                F.sum(F.when(F.col("dist") > 0, 1).otherwise(0))
                .cast("int")
                .alias("num_typos"),
                F.sum("exact_w").cast("int").alias("number_exact_words"),
            ],
        }
        return self._expr_cache

    def score_and_intersect(self, matched: DataFrame, n_tokens: int) -> DataFrame:
        """exact-skip + best-distance-wins + max-per-token BM25 + AND,
        plus the A3 hit-info accounting: ``num_typos`` = tokens matched
        only via typo, ``number_exact_words`` = distinct tokens whose
        exact term occurs as a FULL word in some allowed field of the doc
        (reference service.go:443-509 -- the is_full_word flag the
        reference declares but never writes is populated at build here).
        The ONE BM25 scoring definition: cold, warm, multi-search and
        every WAND phase score through it.

        ``no_typo_tolerance_fields``: typo-matched entries in these fields
        are dropped -- only exact matches count there. The reference
        DECLARES this setting (config/settings.go:39: "Fields for which
        typo tolerance is disabled (only exact matches)") but its search
        path never reads it; this engine implements the documented
        semantics (the pure-Python oracle mirrors it).

        Each DataFrame call is one eager analysis round trip, so the
        pipeline uses as few as it can: the penalized BM25 contribution
        is computed inside the (token, term, doc) aggregation."""
        ex = self._exprs()
        if ex["ntf_keep"] is not None:
            matched = matched.filter(ex["ntf_keep"])
        g1 = matched.groupBy(
            "token", "term", "distance", "penalty", "idf", "doc_id"
        ).agg(*ex["g1_aggs"])
        # exact-skip + best-distance-wins (service.go:234-257): keep only
        # entries at the minimum distance per (token, doc)
        g2 = g1.select("*", ex["best_d"]).filter(ex["best_keep"])
        # exact full-word match per token: distance-0 rows only ever
        # survive the best-distance filter when they exist (g3_aggs)
        g3 = g2.groupBy("token", "doc_id").agg(*ex["g3_aggs"])
        # AND intersection: doc must match every query token
        return (
            g3.groupBy("doc_id")
            .agg(*ex["final_aggs"])
            .filter(F.col("_nt") == n_tokens)
            .drop("_nt")
        )

    def _display_survivors(
        self, matched: DataFrame, doc_ids: list[int] | None = None
    ) -> DataFrame:
        """Shared survivor pipeline for the display surfaces
        (field_matches, highlight): optional doc restriction BEFORE the
        aggregation, no_typo_tolerance_fields exclusion, best-distance
        per (token, doc), and the 'term(typo)' display column."""
        if doc_ids is not None:
            matched = matched.filter(F.col("doc_id").isin(list(doc_ids)))
        # the same per-field typo exclusion and best-distance filter as
        # score_and_intersect
        ex = self._exprs()
        if ex["ntf_keep"] is not None:
            matched = matched.filter(ex["ntf_keep"])
        best = matched.select("*", ex["best_d"]).filter(ex["best_keep"])
        return best.withColumn(
            "display",
            F.when(F.col("distance") == 0, F.col("term")).otherwise(
                F.concat(F.col("term"), F.lit("(typo)"))
            ),
        )

    def field_matches(
        self,
        cand: pd.DataFrame,
        fields: list[str],
        doc_ids: list[int] | None = None,
    ) -> DataFrame:
        """(doc_id, field_matches map<field, array<display>>) -- the
        reference's FieldMatches rendering: exact matches display as the
        query token, typo matches as 'term(typo)' (service.go:425-432,
        481-486), restricted to best-distance survivors per (token, doc).
        ``doc_ids`` (e.g. one result page) restricts the frame BEFORE the
        aggregation -- rendering 10 hits must not pay a corpus-scale
        groupBy."""
        matched = self.scan_candidates(cand, fields)
        best = self._display_survivors(matched, doc_ids)
        disp = best.select("doc_id", "field", "display").distinct()
        per_field = disp.groupBy("doc_id", "field").agg(
            F.sort_array(F.collect_set("display")).alias("terms")
        )
        return per_field.groupBy("doc_id").agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("field", "terms")))
            ).alias("field_matches")
        )

    def highlight(
        self,
        cand: pd.DataFrame,
        fields: list[str],
        doc_ids: list[int] | None = None,
    ) -> DataFrame:
        """(doc_id, field, term, display, positions): matched terms with
        their token offsets per (doc, field) -- the stored positions
        (declared dead in the reference, index/posting.go:10) surfaced for
        hit highlighting. Same survivor semantics as field_matches (shared
        ``_display_survivors`` pipeline)."""
        if not getattr(self.settings, "store_positions", True):
            raise ValueError(
                "index was built with store_positions=False; highlight "
                "needs stored positions -- rebuild with store_positions=True"
            )

        # delta-aware (decoded_postings unions visibility-filtered delta
        # rows): highlight works under pending NRT deltas
        decoded = self.decoded_postings(cand, fields, positions=True)
        matched = decoded.join(self.cand_frame(cand), "term")
        best = self._display_survivors(matched, doc_ids)
        return best.select(
            "doc_id", "field", "term", "display", "positions"
        ).distinct()

    def _empty_result(self) -> DataFrame:
        return self.spark.createDataFrame(
            [],
            schema="rank int, doc_id long, documentID string, score double, "
            "num_typos int, number_exact_words int",
        )
