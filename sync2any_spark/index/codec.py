"""Posting-block codec: delta-gap + variable-byte, numpy-vectorized.

The reference's search target stores postings as Lucene FOR/vByte blocks
(SURVEY.md §2.B B4). We implement the classic varbyte: little-endian base-128,
MSB set = continuation. Doc ids are stored as gaps (first absolute, then
``d[i]-d[i-1]``), term frequencies as raw values. Both encode and decode are
vectorized numpy (no per-int Python in the hot path); int64-safe so doc ids
beyond 2^32 (the 10^12-turn posture) round-trip.
"""

from __future__ import annotations

import numpy as np


def vb_encode_segments(
    values: np.ndarray, bounds: np.ndarray
) -> "list[bytes]":
    """Varbyte-encode ``values`` split at ``bounds`` (segment start offsets,
    ending with len(values)) — ONE vectorized encode over the whole array,
    then zero-copy buffer slicing per segment. This is what lets a SPIMI
    kernel encode thousands of small posting lists without per-list numpy
    overhead.

    Hot-path shape (mirrors ``vb_decode``): values < 128 encode as their own
    single byte, and in posting data that is the overwhelming case (tf/dl
    values and within-block doc-id gaps). The all-small case is ONE masked
    cast; the mixed case runs the byte-group machinery ONLY over the rare
    multi-byte values and scatters them into place — the former
    unconditional full-stream repeat/shift passes were ~75% of SPIMI encode
    time."""
    v = np.asarray(values, dtype=np.uint64)
    n_seg = len(bounds) - 1
    if v.size == 0:
        return [b""] * n_seg
    big = v >= np.uint64(128)
    b_arr = np.asarray(bounds, dtype=np.int64)
    if not big.any():
        buf = v.astype(np.uint8).tobytes()
        return [buf[b_arr[i] : b_arr[i + 1]] for i in range(n_seg)]
    # byte counts: 1 for small values, computed only over the big ones
    nbytes = np.ones(v.shape, dtype=np.int64)
    vb = v[big]
    nb = np.ones(vb.shape, dtype=np.int64)
    tmp = vb >> np.uint64(7)
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        nb[nz] += 1
        tmp >>= np.uint64(7)
    nbytes[big] = nb
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    total = int(ends[-1])
    out = np.empty(total, dtype=np.uint8)
    # every value's FIRST byte is its low 7 bits at its start offset
    out[starts] = (v & np.uint64(0x7F)).astype(np.uint8)
    # remaining bytes exist only for big values: build them densely, then
    # scatter. pos runs 0..nb-1 per big value; byte j holds bits 7j..7j+6.
    tot_big = int(nb.sum())
    big_starts = np.cumsum(nb) - nb
    pos = np.arange(tot_big, dtype=np.int64) - np.repeat(big_starts, nb)
    shifted = np.asarray(
        np.repeat(vb, nb) >> (pos * 7).astype(np.uint64), dtype=np.uint64
    )
    tgt = np.repeat(starts[big], nb) + pos
    out[tgt] = (shifted & np.uint64(0x7F)).astype(np.uint8)
    # continuation flag on every non-last byte (big values only)
    cont = pos < np.repeat(nb - 1, nb)
    out[tgt[cont]] |= 0x80
    buf = out.tobytes()
    # byte offset of each segment start (starts[k] is exact for k < n;
    # the terminal bound maps to the buffer end)
    byte_bounds = np.empty(len(b_arr), dtype=np.int64)
    inside = b_arr < v.size
    byte_bounds[inside] = starts[b_arr[inside]]
    byte_bounds[~inside] = total
    return [
        buf[byte_bounds[i] : byte_bounds[i + 1]] for i in range(n_seg)
    ]


def encode_doc_id_segments(
    doc_ids: np.ndarray, bounds: np.ndarray
) -> "list[bytes]":
    """Delta-gap + varbyte per segment, vectorized across segments: the gap
    array is one global diff with the first element of each segment reset to
    its absolute value."""
    d = np.asarray(doc_ids, dtype=np.int64)
    if d.size == 0:
        return [b""] * (len(bounds) - 1)
    gaps = np.empty_like(d)
    gaps[0] = d[0]
    gaps[1:] = np.diff(d)
    seg_starts = np.asarray(bounds[:-1], dtype=np.int64)
    seg_starts = seg_starts[seg_starts < d.size]
    gaps[seg_starts] = d[seg_starts]  # absolute value at each segment start
    return vb_encode_segments(gaps, bounds)


def vb_encode(values: np.ndarray) -> bytes:
    """Varbyte-encode a 1-D array of non-negative int64 values (same fast
    shape as ``vb_encode_segments``: one-byte values short-circuit)."""
    v = np.asarray(values, dtype=np.int64)
    if v.size == 0:
        return b""
    return vb_encode_segments(v, np.array([0, v.size], dtype=np.int64))[0]


def vb_decode(buf: "bytes | np.ndarray") -> np.ndarray:
    """Decode a varbyte buffer back to an int64 array (vectorized).

    Accepts ``bytes`` or an already-viewed ``uint8`` array (the arrow-native
    fetch path hands Arrow data buffers straight in — no intermediate Python
    ``bytes`` object is ever built).

    Hot-path notes: the per-value byte groups are summed with
    ``np.add.reduceat`` over the group starts (buffered, ~20× faster than
    the unbuffered ``np.add.at`` scatter it replaced — decode dominates
    hot-term query latency), and the all-single-byte case (tfs/dls/gaps
    < 128, the overwhelmingly common shape) short-circuits to one masked
    cast."""
    b = buf if isinstance(buf, np.ndarray) else np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.int64)
    is_last = (b & 0x80) == 0
    if is_last.all():  # every value fits 7 bits — no continuations
        return (b & np.uint8(0x7F)).astype(np.int64)
    # Value ends are the non-continuation bytes; start from the assumption
    # that every value is its (7-bit-masked) last byte — exactly right for
    # single-byte values, the 98%+ case — then PATCH the rare multi-byte
    # values: their last byte moves to its true (top) shift and their
    # continuation bytes' shifted contributions are added group-wise with
    # one reduceat. Only THREE passes touch the full stream (mask,
    # flatnonzero, gather); everything else is sized by the continuation
    # count. (The former path ran ~8 full-stream passes — it dominated
    # hot-term decode.)
    idx_last = np.flatnonzero(is_last)  # value end positions (out size)
    out = (b[idx_last] & np.uint8(0x7F)).astype(np.uint64)
    cont = np.flatnonzero(~is_last)  # continuation-byte positions (rare)
    # value index of each continuation byte: first value end at/after it
    vidx = np.searchsorted(idx_last, cont, side="left")
    # value start = previous value's end + 1 (0 for the first value)
    starts = np.empty(idx_last.size, dtype=np.int64)
    starts[0] = 0
    starts[1:] = idx_last[:-1] + 1
    shift = ((cont - starts[vidx]) * 7).astype(np.uint64)
    add = (b[cont] & np.uint8(0x7F)).astype(np.uint64) << shift
    # per-value sums of the continuation contributions (groups of `vidx`
    # are contiguous): one reduceat over the small `add` array
    chg = np.flatnonzero(np.concatenate(([True], vidx[1:] != vidx[:-1])))
    mb = vidx[chg]  # the multi-byte values' indices, unique ascending
    # last byte of a multi-byte value sits at the TOP shift, not 0
    out[mb] <<= ((idx_last[mb] - starts[mb]) * 7).astype(np.uint64)
    out[mb] += np.add.reduceat(add, chg)
    return out.view(np.int64)  # values < 2^63 — reinterpret, no copy


def _arrow_chunk_values(chunk) -> np.ndarray:
    """The value bytes of ONE Arrow binary array, row-concatenated, as a
    zero-copy uint8 view on its data buffer (offsets are monotone, so the
    bytes between offsets[0] and offsets[-1] are exactly
    ``b"".join(rows)`` — without materializing a single Python bytes
    object)."""
    import pyarrow as pa

    bufs = chunk.buffers()
    off_dtype = np.int64 if pa.types.is_large_binary(chunk.type) else np.int32
    offs = np.frombuffer(bufs[1], dtype=off_dtype)[
        chunk.offset : chunk.offset + len(chunk) + 1
    ]
    data = np.frombuffer(bufs[2], dtype=np.uint8)
    return data[int(offs[0]) : int(offs[-1])]


def arrow_binary_bytes(col) -> np.ndarray:
    """All value bytes of an Arrow binary / large_binary (possibly chunked)
    column in row order as one uint8 array. Zero-copy per chunk; a single
    ``np.concatenate`` only when the column arrived in multiple chunks.
    This replaces the former ``.to_pandas()`` + ``b"".join(...)`` fetch
    shape, which built one Python bytes object per BLOCK plus a full copy
    for the join — the dominant cost of hot-term driver queries
    (round-3 q8: ~250 of ~340 ms was the fetch)."""
    chunks = col.chunks if hasattr(col, "chunks") else [col]
    views = [_arrow_chunk_values(c) for c in chunks if len(c)]
    if not views:
        return np.empty(0, dtype=np.uint8)
    if len(views) == 1:
        return views[0]
    return np.concatenate(views)


_DECODE_POOL = None


def _decode_pool():
    """Shared 3-thread pool for the per-column varbyte decodes — numpy's
    ufunc inner loops release the GIL, so the three independent column
    decodes overlap (~1.7× on the hot-term driver path). Lazy so importing
    the codec in executors never spawns threads."""
    global _DECODE_POOL
    if _DECODE_POOL is None:
        from concurrent.futures import ThreadPoolExecutor

        _DECODE_POOL = ThreadPoolExecutor(3)
    return _DECODE_POOL


def decode_block_batch_arrow(
    tbl, parallel: bool = True
) -> "tuple[np.ndarray, np.ndarray, np.ndarray]":
    """Decode MANY posting blocks of an Arrow table (columns
    doc_ids/tfs/dls/n_docs) → (doc ids, tfs, dls): three varbyte decodes
    over zero-copy buffer views (run concurrently on the decode pool unless
    ``parallel=False`` — callers already inside a worker thread decode
    serially to keep the pool deadlock-free), no per-block Python bytes, no
    join copy; per-block absolute doc ids are restored with one segmented
    cumsum. Every query route decodes through it."""
    counts = tbl.column("n_docs").to_numpy().astype(np.int64)
    bounds = np.zeros(len(counts) + 1, dtype=np.int64)
    bounds[1:] = np.cumsum(counts)
    if parallel:
        pool = _decode_pool()
        futs = [
            pool.submit(lambda c=c: vb_decode(arrow_binary_bytes(tbl.column(c))))
            for c in ("doc_ids", "tfs", "dls")
        ]
        gaps, tfs, dls = (f.result() for f in futs)
    else:
        gaps = vb_decode(arrow_binary_bytes(tbl.column("doc_ids")))
        tfs = vb_decode(arrow_binary_bytes(tbl.column("tfs")))
        dls = vb_decode(arrow_binary_bytes(tbl.column("dls")))
    total = np.cumsum(gaps)
    corrections = np.zeros(len(counts), dtype=np.int64)
    corrections[1:] = total[bounds[1:-1] - 1]
    ids = total - np.repeat(corrections, counts)
    return ids, tfs, dls


def encode_positions_segments(
    positions: np.ndarray, posting_bounds: np.ndarray, seg_bounds: np.ndarray
) -> "list[bytes]":
    """Positional-postings encode: ``positions`` is the flat in-doc token
    positions of every posting's occurrences (ascending within a posting);
    ``posting_bounds`` marks posting starts (each posting's first position
    is stored absolute, the rest as gaps — the Lucene .pos shape);
    ``seg_bounds`` are the output segment offsets (term rows at SPIMI time,
    blocks at merge time). One vectorized pass; empty-input safe."""
    p = np.asarray(positions, dtype=np.int64)
    if p.size == 0:
        return [b""] * (len(seg_bounds) - 1)
    gaps = np.empty_like(p)
    gaps[0] = p[0]
    gaps[1:] = np.diff(p)
    starts = np.asarray(posting_bounds[:-1], dtype=np.int64)
    starts = starts[starts < p.size]
    gaps[starts] = p[starts]  # absolute at each posting start
    return vb_encode_segments(gaps, seg_bounds)


def decode_positions(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of encode_positions_segments for one buffer: flat absolute
    positions, segmented per posting by ``tfs`` (occurrence counts)."""
    counts = np.asarray(tfs, dtype=np.int64)
    gaps = vb_decode(buf)
    if gaps.size == 0:
        return gaps
    bounds = np.cumsum(counts)
    total = np.cumsum(gaps)
    corrections = np.zeros(len(counts), dtype=np.int64)
    corrections[1:] = total[bounds[:-1] - 1]
    return total - np.repeat(corrections, counts)


def encode_doc_ids(doc_ids: np.ndarray) -> bytes:
    """Delta-gap + varbyte encode a strictly-increasing doc-id array."""
    d = np.asarray(doc_ids, dtype=np.int64)
    if d.size == 0:
        return b""
    gaps = np.empty_like(d)
    gaps[0] = d[0]
    gaps[1:] = np.diff(d)
    return vb_encode(gaps)


def decode_doc_ids(buf: bytes) -> np.ndarray:
    gaps = vb_decode(buf)
    return np.cumsum(gaps)


def encode_tfs(tfs: np.ndarray) -> bytes:
    return vb_encode(np.asarray(tfs, dtype=np.int64))


def decode_tfs(buf: bytes) -> np.ndarray:
    return vb_decode(buf)
