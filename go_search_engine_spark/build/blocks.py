"""Compressed block-max posting blocks.

Flat postings -> per-(term, field, salt) docID-ordered blocks of
``block_size`` entries: doc_ids delta+varint, tfs/dls varint, positions
nested-varint, plus block metadata (n, first/last doc, and the
(max_tf, min_dl) upper-bound pair -- see the BLOCKS_SCHEMA note below).
WAND skips blocks without decoding them by their first/last doc.

The reference keeps impact-ordered (tf desc) uncompressed lists
(/root/reference/internal/indexing/service.go:290-298); docID-ordered
block-max lists are deliberate new work (SURVEY.md section 4) -- they
support both sorted-merge segment union and block-max WAND.

Grouping runs inside mapInArrow with carry-over buffering across Arrow
batches: rows arrive hash-partitioned by (term, salt) and sorted by
(term, field, salt, doc_id), so each group is contiguous within its
partition and only the trailing (possibly incomplete) group is carried to
the next batch. This avoids applyInPandas' per-group scheduling overhead
over millions of tiny vocabulary groups.

mapInArrow (not mapInPandas) is load-bearing for throughput: the encoder
touches every posting row, and the pandas conversion materialized one
Python object per term string, field string and positions buffer
(3 x n_postings objects) just to compute boundary masks and re-slice
byte streams. Arrow-native, the strings stay in C++ buffers (boundary
masks via pyarrow.compute on slices, block-start labels via take()) and
a block's positions stream is ONE contiguous slice of the Arrow data
buffer -- per-row Python cost is zero; Python-level work is O(n_blocks).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from ..config import IndexSettings
from ..functions.codec import decode_positions, delta_decode, varint_decode

# block-max metadata is (max_tf, min_dl): since BM25 is increasing in tf
# and decreasing in dl, score(tf, dl) <= score(max_tf, min_dl) for every
# entry in the block -- a valid (slightly looser) WAND upper bound that
# does NOT require idf at build time, so the blocks job never joins
# against term_stats (it only reads its df column for the salt set;
# see builder._finalize). No query reads the pair today.
BLOCKS_SCHEMA = (
    "bucket int, term string, field string, salt int, block_id int, n int, "
    "first_doc long, last_doc long, doc_ids binary, tfs binary, dls binary, "
    "positions binary, fws binary, max_tf double, min_dl long"
)

def _group_change_mask(batch: pa.RecordBatch) -> np.ndarray:
    """Boolean mask, True where row i starts a new (term, field, salt)
    group. String comparisons run in Arrow C++ on offset slices -- no
    Python string objects are created."""
    n = batch.num_rows
    ng = np.empty(n, dtype=bool)
    ng[0] = True
    if n > 1:
        term_a = batch.column(batch.schema.get_field_index("term"))
        field_a = batch.column(batch.schema.get_field_index("field"))
        salt = batch.column(batch.schema.get_field_index("salt")).to_numpy(
            zero_copy_only=False
        )
        tneq = pc.not_equal(term_a.slice(1), term_a.slice(0, n - 1)).to_numpy(
            zero_copy_only=False
        )
        fneq = pc.not_equal(field_a.slice(1), field_a.slice(0, n - 1)).to_numpy(
            zero_copy_only=False
        )
        ng[1:] = tneq | fneq | (salt[1:] != salt[:-1])
    return ng


def _binary_parts(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(value_offsets int64[n+1], data uint8[]) of a pa.BinaryArray,
    slice-offset-aware: after RecordBatch.slice the array shares its
    parent's buffers with a nonzero ``arr.offset``."""
    odt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=odt)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8)
    return offs, data


def _encode_batch(batch: pa.RecordBatch, block_size: int) -> pa.RecordBatch:
    """Whole-batch vectorized encoder.

    Rows arrive sorted by (term, field, salt, doc_id) with groups
    contiguous, so group and block boundaries are numpy boundary masks;
    doc-id deltas, block maxima (reduceat) and the varint streams are
    computed over the WHOLE batch at once, then sliced per block at value
    boundaries. The only Python-level loop is over blocks
    (n_rows / block_size) to cut the byte buffers.
    """

    from ..functions.codec import varint_encode_with_widths

    n = batch.num_rows
    col = lambda name: batch.column(batch.schema.get_field_index(name))
    term_a = col("term")
    field_a = col("field")
    salt = col("salt").to_numpy(zero_copy_only=False).astype(np.int64)
    doc_ids = col("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
    tfs = col("tf").to_numpy(zero_copy_only=False).astype(np.float64)
    dls = col("dl").to_numpy(zero_copy_only=False).astype(np.int64)
    buckets = col("bucket").to_numpy(zero_copy_only=False).astype(np.int64)

    ng = _group_change_mask(batch)
    gstart_idx = np.nonzero(ng)[0]
    gid = np.cumsum(ng) - 1
    row_in_g = np.arange(n) - gstart_idx[gid]
    blk_in_g = row_in_g // block_size
    nb = np.empty(n, dtype=bool)
    nb[0] = True
    nb[1:] = ng[1:] | (blk_in_g[1:] != blk_in_g[:-1])
    bstart = np.nonzero(nb)[0]
    n_blocks = len(bstart)
    bcount = np.diff(np.append(bstart, n))
    bend = bstart + bcount - 1

    max_tf = np.maximum.reduceat(tfs, bstart)
    min_dl = np.minimum.reduceat(dls, bstart)

    # doc-id deltas restart at each block
    deltas = np.empty(n, dtype=np.uint64)
    deltas[nb] = doc_ids[nb].astype(np.uint64)
    prev = np.empty(n, dtype=np.int64)
    prev[1:] = doc_ids[:-1]
    prev[0] = 0
    deltas[~nb] = (doc_ids - prev)[~nb].astype(np.uint64)

    def per_block_bufs(values: np.ndarray, item_starts: np.ndarray):
        """varint-encode once; slice at per-block value boundaries."""
        data, widths = varint_encode_with_widths(values)
        wcum = np.zeros(len(widths) + 1, dtype=np.int64)
        np.cumsum(widths, out=wcum[1:])
        byte_offs = wcum[item_starts]
        ends = np.append(byte_offs[1:], len(data))
        raw = data.tobytes()
        return [raw[byte_offs[i] : ends[i]] for i in range(len(item_starts))]

    doc_bufs = per_block_bufs(deltas, bstart)
    tf_bufs = per_block_bufs(tfs.astype(np.uint64), bstart)
    dl_bufs = per_block_bufs(dls.astype(np.uint64), bstart)

    # positions arrive ALREADY varint-encoded per row (flatmap.py records
    # [count, first, deltas...]); rows are contiguous in the Arrow data
    # buffer, so a block's positions stream is ONE slice of it -- no
    # per-row bytes objects, no re-encode on the hot path
    poffs, pdata = _binary_parts(pos_a := col("positions"))
    bend_excl = np.append(bstart[1:], n)
    bpos_start = poffs[bstart]
    bpos_end = poffs[bend_excl]
    pos_bufs = [
        pdata[bpos_start[i] : bpos_end[i]].tobytes() for i in range(n_blocks)
    ]

    # is_full_word bitmask (1 bit/entry): the reference declares this flag
    # but never writes it (index/posting.go:9-10); the A3 exact-word
    # accounting (service.go:443-509) needs it at query time
    fw = col("is_full_word").to_numpy(zero_copy_only=False).astype(bool)
    fw_bufs = [
        np.packbits(fw[bstart[i] : bend_excl[i]]).tobytes()
        for i in range(n_blocks)
    ]

    take_idx = pa.array(bstart, type=pa.int64())
    return pa.RecordBatch.from_arrays(
        [
            pa.array(buckets[bstart].astype(np.int32), type=pa.int32()),
            # take() keeps the input string type (string/large_string
            # follows the session's Arrow conversion settings both ways)
            term_a.take(take_idx),
            field_a.take(take_idx),
            pa.array(salt[bstart].astype(np.int32), type=pa.int32()),
            pa.array(blk_in_g[bstart].astype(np.int32), type=pa.int32()),
            pa.array(bcount.astype(np.int32), type=pa.int32()),
            pa.array(doc_ids[bstart], type=pa.int64()),
            pa.array(doc_ids[bend], type=pa.int64()),
            pa.array(doc_bufs, type=pos_a.type),
            pa.array(tf_bufs, type=pos_a.type),
            pa.array(dl_bufs, type=pos_a.type),
            pa.array(pos_bufs, type=pos_a.type),
            pa.array(fw_bufs, type=pos_a.type),
            pa.array(max_tf, type=pa.float64()),
            pa.array(min_dl.astype(np.int64), type=pa.int64()),
        ],
        names=[
            "bucket", "term", "field", "salt", "block_id", "n",
            "first_doc", "last_doc", "doc_ids", "tfs", "dls",
            "positions", "fws", "max_tf", "min_dl",
        ],
    )


def _concat_batches(b1: pa.RecordBatch, b2: pa.RecordBatch) -> pa.RecordBatch:
    cols = [
        pa.concat_arrays([b1.column(i), b2.column(i)])
        for i in range(b1.num_columns)
    ]
    return pa.RecordBatch.from_arrays(cols, schema=b1.schema)


def make_block_builder(settings: IndexSettings):
    """mapInArrow fn: sorted flat postings (+bucket, salt) -> blocks."""
    block_size = settings.block_size

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # carry-over buffering: a group split across Arrow batches must be
        # encoded whole, or block_ids would collide/restart mid-group
        leftover: pa.RecordBatch | None = None
        for batch in batches:
            if leftover is not None and leftover.num_rows:
                batch = _concat_batches(leftover, batch)
            if batch.num_rows == 0:
                continue
            # the trailing group (rows from the LAST group start) may
            # continue into the next batch -- carry it over whole
            tail_start = int(np.nonzero(_group_change_mask(batch))[0][-1])
            leftover = batch.slice(tail_start)
            done = batch.slice(0, tail_start)
            if done.num_rows:
                yield _encode_batch(done, block_size)
        if leftover is not None and leftover.num_rows:
            yield _encode_batch(leftover, block_size)

    return build


def decode_block(row) -> pd.DataFrame:
    """Decode one block row back to flat entries (debug/tests)."""
    ids = delta_decode(bytes(row["doc_ids"])).astype(np.int64)
    tfs = varint_decode(bytes(row["tfs"])).astype(np.float64)
    dls = varint_decode(bytes(row["dls"])).astype(np.int64)
    pos = decode_positions(bytes(row["positions"]), len(ids))
    fw = np.unpackbits(np.frombuffer(bytes(row["fws"]), dtype=np.uint8))[
        : len(ids)
    ].astype(bool)
    return pd.DataFrame(
        {
            "term": row["term"],
            "field": row["field"],
            "doc_id": ids,
            "tf": tfs,
            "dl": dls,
            "positions": [p.astype(np.int64).tolist() for p in pos],
            "is_full_word": fw,
        }
    )
