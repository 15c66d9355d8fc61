from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from go_search_engine_spark.functions.codec import (
    decode_position_records,
    decode_positions,
    delta_decode,
    delta_encode,
    encode_positions,
    varint_decode,
    varint_encode,
)


def test_varint_roundtrip_basic():
    vals = np.array([0, 1, 127, 128, 300, 2**32, 2**63], dtype=np.uint64)
    assert varint_decode(varint_encode(vals)).tolist() == vals.tolist()


def test_varint_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63), max_size=200))
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert varint_decode(varint_encode(arr)).tolist() == vals


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=200))
def test_delta_roundtrip(vals):
    arr = np.sort(np.array(vals, dtype=np.uint64))
    assert delta_decode(delta_encode(arr)).tolist() == arr.tolist()


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=10000), max_size=30).map(sorted),
        max_size=20,
    )
)
def test_positions_roundtrip(plists):
    buf = encode_positions(plists)
    got = decode_positions(buf, len(plists))
    assert [g.tolist() for g in got] == plists


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.none()
        | st.lists(st.integers(min_value=0, max_value=10000), max_size=30).map(
            sorted
        ),
        max_size=20,
    )
)
def test_position_records_batch_decode(cells):
    # one record per cell, empty cells (nulls) decode to []: the batch
    # decoder agrees with a per-cell decode_positions
    bufs = [b"" if c is None else encode_positions([c]) for c in cells]
    offsets = np.cumsum([0] + [len(b) for b in bufs])
    lo, pos = decode_position_records(b"".join(bufs), offsets)
    assert pos.dtype == np.int32
    got = [pos[a:b].tolist() for a, b in zip(lo[:-1], lo[1:])]
    assert got == [decode_positions(b, 1)[0].tolist() if b else [] for b in bufs]
    assert got == [[] if c is None else c for c in cells]


def test_compression_ratio():
    # dense sorted ids compress far below 8 bytes/id
    ids = np.arange(0, 100_000, 3, dtype=np.uint64)
    buf = delta_encode(ids)
    assert len(buf) < ids.size * 2


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63), min_size=1,
                max_size=50))
def test_truncated_varint_fails_loud(vals):
    """A torn buffer (any strict prefix cut mid-value, i.e. ending on a
    continuation byte) must raise, never silently drop the last value
    or misalign downstream decode_positions."""
    import pytest as _pytest

    buf = varint_encode(np.array(vals, dtype=np.uint64))
    # cut right after every continuation byte: buf[:i] then ends mid-value
    cut_points = [i + 1 for i in range(len(buf) - 1) if buf[i] & 0x80]
    for i in cut_points[:20]:
        with _pytest.raises(ValueError, match="truncated varint"):
            varint_decode(buf[:i])
    # every terminator-aligned prefix still decodes to a value prefix
    ends = [i + 1 for i in range(len(buf)) if not buf[i] & 0x80]
    for i in ends[-3:]:
        got = varint_decode(buf[:i]).tolist()
        assert got == vals[: len(got)]


def test_encoder_to_arrow_decoder_roundtrip():
    """Function-level round trip: the build-side whole-batch Arrow
    encoder (build/blocks._encode_batch) through the query-side
    whole-batch Arrow decoder (query/engine.decode_blocks_arrow),
    without Spark. Covers multi-byte varints (doc ids > 2^40), the fw
    bitmap's byte boundary (block of exactly 8 and of 9+ postings),
    single-posting blocks, multiple (term, field) groups in one batch,
    and a SLICED RecordBatch (nonzero Arrow offset, the
    _binary_parts slice-offset path)."""
    import pyarrow as pa

    from go_search_engine_spark.build.blocks import _encode_batch
    from go_search_engine_spark.query.engine import decode_blocks_arrow

    rng = np.random.default_rng(7)
    rows = []
    for term, field, salt, ndocs, base in [
        ("alpha", "content", 0, 17, 3),          # 3 blocks @ size 8; 8/9 fw boundary
        ("alpha", "title", 0, 8, 1 << 40),       # huge ids -> multi-byte varints
        ("beta", "content", 1, 1, 12345),        # single-posting block
        ("gamma", "content", 0, 9, 500),
    ]:
        ids = np.sort(
            rng.choice(
                np.arange(base, base + 10 * ndocs, dtype=np.int64),
                size=ndocs, replace=False,
            )
        )
        for j, d in enumerate(ids):
            rows.append(
                (term, field, salt, int(d), float(j % 5 + 1), 20 + j,
                 3, bool(j % 2))
            )
    rows.sort(key=lambda r: (r[0], r[1], r[2], r[3]))
    pos = varint_encode(np.array([1, 4], dtype=np.uint64))
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([r[0] for r in rows], type=pa.string()),
            pa.array([r[1] for r in rows], type=pa.string()),
            pa.array([r[2] for r in rows], type=pa.int32()),
            pa.array([r[3] for r in rows], type=pa.int64()),
            pa.array([r[4] for r in rows], type=pa.float64()),
            pa.array([r[5] for r in rows], type=pa.int64()),
            pa.array([r[6] for r in rows], type=pa.int32()),
            pa.array([pos for _ in rows], type=pa.binary()),
            pa.array([r[7] for r in rows], type=pa.bool_()),
        ],
        names=["term", "field", "salt", "doc_id", "tf", "dl", "bucket",
               "positions", "is_full_word"],
    )
    enc = _encode_batch(batch, block_size=8)
    counts = enc.column(enc.schema.get_field_index("n")).to_pylist()

    def decoded_rows(rb):
        out = []
        for d in decode_blocks_arrow(iter([rb])):
            t = d.to_pydict()
            out += list(zip(t["term"], t["field"], t["doc_id"], t["tf"],
                            t["dl"], t["fw"]))
        return out

    want = [(r[0], r[1], r[3], r[4], r[5], r[7]) for r in rows]
    assert decoded_rows(enc) == want
    # sliced batch: drop the first BLOCK -> its counts[0] postings
    assert decoded_rows(enc.slice(1)) == want[counts[0]:]
    # empty batch yields nothing
    assert decoded_rows(enc.slice(0, 0)) == []


_POSTING = st.tuples(
    st.integers(min_value=1, max_value=2**40),  # doc-id gap
    st.lists(st.integers(min_value=0, max_value=300), max_size=6),
    st.booleans(),
)


@settings(max_examples=80, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["alpha", "beta"]),
            st.sampled_from(["content", "title"]),
            st.lists(_POSTING, min_size=1, max_size=30),
        ),
        min_size=1, max_size=4,
        unique_by=lambda g: (g[0], g[1]),
    ),
    st.integers(min_value=1, max_value=9),
    st.integers(min_value=0, max_value=2),
)
def test_arrow_decoder_positions_match_reference(groups, block_size, skip):
    """The positions stream of the whole-batch Arrow decoder
    (query/engine.decode_blocks_arrow, as SearchEngine.decoded_postings
    feeds it) equals the per-row reference decoder (build/blocks.decode_block)
    on encoder output: empty position lists, multi-byte values, blocks of
    1..9 postings, and a sliced batch (nonzero Arrow offset)."""
    import pyarrow as pa

    from go_search_engine_spark.build.blocks import _encode_batch, decode_block
    from go_search_engine_spark.query.engine import decode_blocks_arrow

    rows = []
    for term, field, postings in sorted(groups):
        doc = 0
        for gap, pos, fw in postings:
            doc += gap
            rows.append((term, field, doc, sorted(set(pos)), fw))
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([r[0] for r in rows], type=pa.string()),
            pa.array([r[1] for r in rows], type=pa.string()),
            pa.array([0] * len(rows), type=pa.int32()),
            pa.array([r[2] for r in rows], type=pa.int64()),
            pa.array([float(len(r[3]) or 1) for r in rows]),
            pa.array([7] * len(rows), type=pa.int64()),
            pa.array([0] * len(rows), type=pa.int32()),
            pa.array([encode_positions([r[3]]) for r in rows],
                     type=pa.binary()),
            pa.array([r[4] for r in rows], type=pa.bool_()),
        ],
        names=["term", "field", "salt", "doc_id", "tf", "dl", "bucket",
               "positions", "is_full_word"],
    )
    enc = _encode_batch(batch, block_size=block_size)
    enc = enc.slice(min(skip, enc.num_rows - 1))
    want = []
    for blk in enc.to_pylist():
        ref = decode_block(blk)
        want += list(zip(ref["term"], ref["field"], ref["doc_id"],
                         ref["is_full_word"], ref["positions"]))
    proj = enc.select(["term", "field", "n", "doc_ids", "fws", "positions"])
    got = []
    for d in decode_blocks_arrow(iter([proj])):
        assert d.schema.names == ["term", "field", "doc_id", "fw", "positions"]
        t = d.to_pydict()
        got += list(zip(t["term"], t["field"], t["doc_id"], t["fw"],
                        t["positions"]))
    assert got == [(a, b, int(c), bool(e), list(p)) for a, b, c, e, p in want]
