"""Posting-block codec: delta + varint (PForDelta-style) compression.

Implements the physical posting format the reference delegates to
Lucene (implicit; configured at
/root/reference/openaleph_search/index/mapping.py:204-212, Lucene
FOR/PForDelta blocks of 128 with impacts).  Everything here is pure
numpy — it runs inside Arrow-batched ``applyInPandas`` groups on
executors; no per-row Python.

Block layout (one row of the ``postings`` table per block):

    term            string   the token
    shard           int      doc-id-range shard (contiguous docid span)
    block_ord       int      ordinal of the block within (term, shard)
    first_doc       long     smallest doc_id in the block
    last_doc        long     largest doc_id in the block
    doc_count       int      number of docs in the block (<= BLOCK_SIZE)
    sum_tf          long     sum of term freqs (collection-freq partial)
    max_tf          int      max term freq in the block
    min_dl          long     smallest doc length in the block — the
                             query-time impact upper bound is computed
                             LIVE as max_tf/(max_tf+k1*(1-b+b*min_dl/avgdl))
                             (true under ANY collection stats, so appends
                             and compactions never invalidate pruning)
    docs_payload    binary   varint(delta(doc_ids))   (first absolute)
    tfs_payload     binary   varint(tf - 1)
    dls_payload     binary   varint(dl)               (doc lengths)
    pos_payload     binary   varint positions, delta within doc, tf per doc
                             (empty when positions disabled)
"""
from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128

# BM25 defaults pinned by the reference/north rule (Lucene defaults;
# /root/reference/openaleph_search/index/util.py:83-90 overrides b only
# for the `name` field — our single-field code corpus uses the defaults).
K1 = 1.2
B = 0.75


# ---------------------------------------------------------------------------
# vectorized varint (LEB128) encode / decode
# ---------------------------------------------------------------------------

_SHIFTS = np.arange(1, 10, dtype=np.uint64) * np.uint64(7)
_THRESH = (np.uint64(1) << _SHIFTS).astype(np.uint64)  # 2^7, 2^14, ... 2^63


def _varint_pack(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """One vectorized LEB128 pass over a uint64 array → (encoded bytes
    as a uint8 array, byte offset of every value plus the end offset).
    The single slicing core: every per-group view of an encoded run
    (``varint_encode_sliced``, ``varint_binary_array``) is a gather of
    these offsets at its group starts."""
    arr = np.ascontiguousarray(values, dtype=np.uint64)
    n = arr.shape[0]
    if n == 0:
        return np.empty(0, dtype=np.uint8), np.zeros(1, dtype=np.int64)
    vmax = arr.max()
    if vmax < 128:  # common fast path: every value is one byte
        return arr.astype(np.uint8), np.arange(n + 1, dtype=np.int64)
    # bytes needed per value: 1 + count of thresholds <= value
    nbytes = np.ones(n, dtype=np.int64)
    for t in _THRESH[_THRESH <= vmax]:
        nbytes += arr >= t
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(nbytes, out=offsets[1:])
    out = np.empty(int(offsets[-1]), dtype=np.uint8)
    # emit byte j of every value at once, then narrow to the values
    # that still have bytes left
    at, rest = offsets[:-1], arr
    while at.size:
        more = nbytes > 1
        out[at] = ((rest & np.uint64(0x7F)).astype(np.uint8)
                   | (more.view(np.uint8) << 7))
        at = at[more] + 1
        rest = rest[more] >> np.uint64(7)
        nbytes = nbytes[more] - 1
    return out, offsets


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array, fully vectorized."""
    return _varint_pack(values)[0].tobytes()


def varint_decode(buf: bytes | np.ndarray) -> np.ndarray:
    """Decode a LEB128 byte buffer into a uint64 array, vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_terminal = (b & 0x80) == 0
    if is_terminal.all():  # 1-byte fast path
        return b.astype(np.uint64)
    # group id per byte = number of terminals strictly before it
    gid = np.zeros(b.size, dtype=np.int64)
    np.cumsum(is_terminal[:-1], out=gid[1:])
    # first byte index of each group
    group_starts = np.flatnonzero(np.diff(gid, prepend=-1))
    offset_in_group = np.arange(b.size, dtype=np.int64) - group_starts[gid]
    contrib = (b & np.uint8(0x7F)).astype(np.uint64) << (
        offset_in_group.astype(np.uint64) * np.uint64(7)
    )
    return np.bitwise_or.reduceat(contrib, group_starts)


# ---------------------------------------------------------------------------
# posting-list block encode / decode
# ---------------------------------------------------------------------------

def bm25_tfnorm(tf: np.ndarray, dl: np.ndarray, avgdl: float,
                k1: float = K1, b: float = B) -> np.ndarray:
    """Lucene BM25 tf' = tf / (tf + k1*(1 - b + b*dl/avgdl))."""
    tf = tf.astype(np.float64)
    norm = k1 * (1.0 - b + b * dl.astype(np.float64) / float(avgdl))
    return tf / (tf + norm)


def bm25_idf(df: np.ndarray | float, n_docs: float) -> np.ndarray | float:
    """Lucene BM25 idf = ln(1 + (N - df + 0.5)/(df + 0.5))."""
    return np.log(1.0 + (n_docs - df + 0.5) / (np.asarray(df, dtype=np.float64) + 0.5))


def encode_positions(positions: list[np.ndarray]) -> bytes:
    """Delta-encode per-doc position arrays, concatenated.

    The per-doc count equals tf (already stored), so no length prefix.
    """
    if not positions:
        return b""
    flat = []
    for p in positions:
        p = np.asarray(p, dtype=np.uint64)
        d = np.empty_like(p)
        if p.size:
            d[0] = p[0]
            np.subtract(p[1:], p[:-1], out=d[1:])
        flat.append(d)
    return varint_encode(np.concatenate(flat))


def varint_encode_sliced(values: np.ndarray,
                         group_starts: np.ndarray) -> list[bytes]:
    """One vectorized varint pass over ``values``, returned as one byte
    chunk per group (the chunks concatenate to ``varint_encode``'s
    output) — avoids per-small-array encoder calls."""
    if values.shape[0] == 0:
        return []
    buf, offsets = _varint_pack(values)
    bounds = np.append(offsets[group_starts], offsets[-1]).tolist()
    buf = buf.tobytes()
    return [buf[bounds[i]:bounds[i + 1]] for i in range(len(bounds) - 1)]


def varint_binary_array(values: np.ndarray, group_starts: np.ndarray):
    """``varint_encode_sliced`` as an Arrow ``binary`` array: one value
    per group over the single encoded buffer plus gathered offsets — no
    per-group Python ``bytes``. ``group_starts`` ascend within
    ``[0, len(values)]``; a start equal to the next one (or to
    ``len(values)``) yields an empty value."""
    import pyarrow as pa
    buf, offsets = _varint_pack(values)
    if buf.size > np.iinfo(np.int32).max:
        raise OverflowError(
            f"{buf.size} varint bytes exceed one Arrow binary array; "
            "build with more source partitions")
    bounds = np.append(offsets[group_starts], offsets[-1]).astype(np.int32)
    return pa.Array.from_buffers(
        pa.binary(), bounds.size - 1,
        [None, pa.py_buffer(bounds), pa.py_buffer(buf)])


def delta_restarting(values: np.ndarray,
                     group_starts: np.ndarray) -> np.ndarray:
    """Delta-encode with the delta restarting (absolute value) at each
    group head."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    d = np.empty_like(v)
    if v.size:
        d[0] = v[0]
        np.subtract(v[1:], v[:-1], out=d[1:])
        d[group_starts] = v[group_starts]
    return d


def decode_positions(buf: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    """Inverse of :func:`encode_positions`; splits by tf counts."""
    flat = varint_decode(buf)
    out: list[np.ndarray] = []
    off = 0
    for tf in tfs:
        tf = int(tf)
        d = flat[off:off + tf]
        out.append(np.cumsum(d, dtype=np.uint64))
        off += tf
    return out


def encode_blocks(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                  avgdl: float | None,
                  positions: list[np.ndarray] | None = None,
                  pos_payloads: list[bytes] | None = None,
                  block_size: int = BLOCK_SIZE) -> list[dict]:
    """Split one (term, shard) posting list into compressed block rows.

    ``doc_ids`` must be sorted ascending and unique.  Positions can be
    given either as raw per-doc arrays (``positions``) or as per-doc
    pre-encoded varint chunks (``pos_payloads`` — each block then only
    concatenates bytes).  The block-at-a-time reference for the SPIMI
    kernel (``build._pack_run``), which encodes every term of a
    partition in single passes.  Returns a list of dicts
    matching the postings-table block columns (minus term/shard, which
    the caller adds).
    """
    n = doc_ids.shape[0]
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.uint64)
    tfs = np.ascontiguousarray(tfs, dtype=np.uint64)
    dls = np.ascontiguousarray(dls, dtype=np.uint64)
    if positions is not None and pos_payloads is None:
        pos_payloads = [encode_positions([p]) for p in positions]
    block_starts = np.arange(0, n, block_size, dtype=np.int64)
    block_ends = np.minimum(block_starts + block_size, n)
    # ONE vectorized varint pass per payload type, sliced per block
    docs_chunks = varint_encode_sliced(
        delta_restarting(doc_ids, block_starts), block_starts)
    tfs_chunks = varint_encode_sliced(tfs - np.uint64(1), block_starts)
    dls_chunks = varint_encode_sliced(dls, block_starts)
    sums = np.add.reduceat(tfs.astype(np.int64), block_starts)
    maxs = np.maximum.reduceat(tfs.astype(np.int64), block_starts)
    mins_dl = np.minimum.reduceat(dls.astype(np.int64), block_starts)
    if avgdl is not None:
        # avgdl=None → SPIMI first pass: the impact bound is filled in
        # by the merge once global stats exist (build.py step B)
        tfn_max = np.maximum.reduceat(
            bm25_tfnorm(tfs, dls, avgdl), block_starts)
    else:
        tfn_max = np.zeros(block_starts.size)
    blocks = []
    for ord_, (lo, hi) in enumerate(zip(block_starts, block_ends)):
        blocks.append({
            "block_ord": ord_,
            "first_doc": int(doc_ids[lo]),
            "last_doc": int(doc_ids[hi - 1]),
            "doc_count": int(hi - lo),
            "sum_tf": int(sums[ord_]),
            "max_tf": int(maxs[ord_]),
            "min_dl": int(mins_dl[ord_]),
            "block_max_tfnorm": float(tfn_max[ord_]),
            "docs_payload": docs_chunks[ord_],
            "tfs_payload": tfs_chunks[ord_],
            "dls_payload": dls_chunks[ord_],
            "pos_payload": (b"".join(pos_payloads[lo:hi])
                            if pos_payloads is not None else b""),
        })
    return blocks


def decode_block(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one block row → (doc_ids, tfs, dls) as uint64 arrays."""
    deltas = varint_decode(row["docs_payload"])
    doc_ids = np.cumsum(deltas, dtype=np.uint64)
    tfs = varint_decode(row["tfs_payload"]) + np.uint64(1)
    dls = varint_decode(row["dls_payload"])
    return doc_ids, tfs, dls
