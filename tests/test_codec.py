"""Codec property tests (hypothesis) — round-trip + block invariants
(SURVEY.md §7.2 Phase 2)."""
import numpy as np
from hypothesis import given, settings, strategies as st

from openaleph_search_spark.index.codec import (
    BLOCK_SIZE, bm25_tfnorm, decode_block, decode_positions, encode_blocks,
    encode_positions, varint_binary_array, varint_decode, varint_encode,
    varint_encode_sliced)


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=500))
@settings(max_examples=50, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert (varint_decode(varint_encode(arr)) == arr).all()


@given(st.data())
@settings(max_examples=25, deadline=None)
def test_block_roundtrip(data):
    n = data.draw(st.integers(min_value=1, max_value=400))
    gaps = data.draw(st.lists(
        st.integers(min_value=1, max_value=10_000),
        min_size=n, max_size=n))
    ids = np.cumsum(np.array(gaps, dtype=np.uint64))
    tfs = np.array(data.draw(st.lists(
        st.integers(min_value=1, max_value=500), min_size=n, max_size=n)),
        dtype=np.uint64)
    dls = np.array(data.draw(st.lists(
        st.integers(min_value=1, max_value=100_000), min_size=n, max_size=n)),
        dtype=np.uint64)
    blocks = encode_blocks(ids, tfs, dls, avgdl=123.4)
    assert len(blocks) == (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    off = 0
    for blk in blocks:
        d, t, l = decode_block(blk)
        m = len(d)
        assert (d == ids[off:off + m]).all()
        assert (t == tfs[off:off + m]).all()
        assert (l == dls[off:off + m]).all()
        assert blk["first_doc"] == ids[off] and blk["last_doc"] == ids[off + m - 1]
        assert blk["max_tf"] == tfs[off:off + m].max()
        # impact upper bound holds for every posting in the block
        tfn = bm25_tfnorm(t, l, 123.4)
        assert blk["block_max_tfnorm"] >= tfn.max() - 1e-12
        off += m
    assert off == n


@given(st.lists(st.lists(st.integers(min_value=0, max_value=10**6),
                         min_size=1, max_size=30, unique=True),
                min_size=1, max_size=50))
@settings(max_examples=25, deadline=None)
def test_positions_roundtrip(poslists):
    pos = [np.sort(np.array(p, dtype=np.uint64)) for p in poslists]
    tfs = np.array([len(p) for p in pos], dtype=np.uint64)
    buf = encode_positions(pos)
    out = decode_positions(buf, tfs)
    for a, b in zip(pos, out):
        assert (a == b).all()


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300),
       st.data())
@settings(max_examples=50, deadline=None)
def test_varint_binary_array_matches_sliced(vals, data):
    """The Arrow-binary slicing and the bytes-list slicing share one
    core: same chunks, and both concatenate to varint_encode."""
    arr = np.array(vals, dtype=np.uint64)
    starts = np.array(sorted(data.draw(st.lists(
        st.integers(min_value=0, max_value=arr.size), max_size=20))),
        dtype=np.int64)
    got = varint_binary_array(arr, starts).to_pylist()
    assert len(got) == starts.size
    assert b"".join(got) == varint_encode(arr[starts[0]:]
                                          if starts.size else arr[:0])
    if arr.size:
        assert got == varint_encode_sliced(arr, starts)


def test_varint_empty():
    assert varint_encode(np.empty(0, dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0
