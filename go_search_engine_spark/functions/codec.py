"""Delta + varint posting-list codec (numpy-vectorized).

The reference has NO posting compression -- posting lists are raw Go gob
(/root/reference/internal/persistence/gob.go:12-35). Compression is new
work required by the north rule: doc_ids are sorted, delta-encoded, then
LEB128-varint packed; tfs and flattened positions are varint packed too.
Encoded blocks live in ``binary`` columns of the postings table, alongside
block-max metadata that feeds WAND pruning.

Both directions are vectorized: encode computes per-value byte widths and
scatters payload bytes with numpy indexing; decode classifies continuation
bits and reassembles values group-wise. The Python-level loops are over
the (<=10) possible varint byte widths, not over values.
"""

from __future__ import annotations

import numpy as np


def varint_encode_with_widths(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode a uint64 array; returns (byte array, per-value byte
    widths) so callers can slice the stream at value boundaries (the
    whole-partition block encoder needs this)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(0, dtype=np.int64)
    bitlen = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        bitlen[nz] += 1
        tmp = tmp >> np.uint64(1)
    widths = np.maximum((bitlen + 6) // 7, 1)
    total = int(widths.sum())
    out = np.zeros(total, dtype=np.uint8)
    starts = np.zeros(v.size, dtype=np.int64)
    starts[1:] = np.cumsum(widths)[:-1]
    max_w = int(widths.max())
    for k in range(max_w):
        has = widths > k
        pos = starts[has] + k
        chunk = (v[has] >> np.uint64(7 * k)) & np.uint64(0x7F)
        cont = (widths[has] > k + 1).astype(np.uint8) << 7
        out[pos] = chunk.astype(np.uint8) | cont
    return out, widths


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array."""
    out, _ = varint_encode_with_widths(values)
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode an LEB128 byte buffer back to a uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    if b[-1] & 0x80:
        # a valid LEB128 stream always ends on a terminator byte; a
        # trailing continuation bit means a torn/corrupt buffer --
        # fail loud here instead of silently dropping the last value
        # (or crashing with a misaligned IndexError far downstream in
        # decode_positions)
        raise ValueError(
            "truncated varint stream: buffer ends mid-value"
        )
    is_last = (b & 0x80) == 0
    ends = np.nonzero(is_last)[0]
    n = ends.size
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    widths = ends - starts + 1
    vals = np.zeros(n, dtype=np.uint64)
    max_w = int(widths.max())
    payload = (b & 0x7F).astype(np.uint64)
    for k in range(max_w):
        has = widths > k
        vals[has] |= payload[starts[has] + k] << np.uint64(7 * k)
    return vals


def delta_encode(sorted_ids: np.ndarray) -> bytes:
    """Delta + varint encode a sorted uint64 id array."""
    ids = np.asarray(sorted_ids, dtype=np.uint64)
    if ids.size == 0:
        return b""
    deltas = np.empty_like(ids)
    deltas[0] = ids[0]
    deltas[1:] = ids[1:] - ids[:-1]
    return varint_encode(deltas)


def delta_decode(buf: bytes) -> np.ndarray:
    deltas = varint_decode(buf)
    return np.cumsum(deltas, dtype=np.uint64)


def encode_positions(positions: list[list[int]]) -> bytes:
    """Encode per-doc position lists: varint stream of
    [count, delta-encoded positions...] per doc."""
    parts: list[np.ndarray] = []
    for p in positions:
        arr = np.asarray(p, dtype=np.uint64)
        rec = np.empty(arr.size + 1, dtype=np.uint64)
        rec[0] = arr.size
        if arr.size:
            rec[1] = arr[0]
            rec[2:] = arr[1:] - arr[:-1]
        parts.append(rec)
    if not parts:
        return b""
    return varint_encode(np.concatenate(parts))


def decode_positions(buf: bytes, n_docs: int) -> list[np.ndarray]:
    stream = varint_decode(buf)
    out: list[np.ndarray] = []
    i = 0
    for _ in range(n_docs):
        cnt = int(stream[i])
        i += 1
        out.append(np.cumsum(stream[i : i + cnt], dtype=np.uint64))
        i += cnt
    return out


def decode_position_records(
    data, offsets: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Cells of ``data`` delimited by byte ``offsets`` (the Arrow binary
    layout), each empty or ONE position record [count, first, deltas...]
    -> (list offsets, int32 positions). One varint decode over all cells
    plus a segmented cumsum: no Python object per cell."""
    b = np.frombuffer(data, dtype=np.uint8)[offsets[0] : offsets[-1]]
    vals = varint_decode(b).astype(np.int64)
    # value index at a byte boundary = terminator bytes before it
    ends = np.concatenate(([0], np.cumsum((b & 0x80) == 0)))
    first = ends[offsets[:-1] - offsets[0]]
    full = ends[offsets[1:] - offsets[0]] > first
    counts = np.zeros(offsets.size - 1, dtype=np.int64)
    counts[full] = vals[first[full]]
    keep = np.ones(vals.size, dtype=bool)
    keep[first[full]] = False
    cs = np.cumsum(vals[keep])
    lo = np.concatenate(([0], np.cumsum(counts)))
    if lo[-1] != cs.size:
        raise ValueError("corrupt position record: count != stored values")
    before = np.concatenate(([0], cs))[lo[:-1]]
    return lo, (cs - np.repeat(before, counts)).astype(np.int32)
