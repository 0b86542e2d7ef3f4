"""Posting-block physical format: delta + LEB128 varint, numpy-vectorized.

The reference delegates its physical index format to Elasticsearch/Lucene
(fafnir only routes documents into containers — /root/reference
src/bin/openmaptiles2mimir.rs:62-95). This module is the engine-owned
replacement: classic Lucene-style delta-encoded, varint-compressed posting
blocks, implemented with numpy so encode/decode run vectorized inside Arrow
UDFs (no per-row Python, per BASELINE.json input_hint).

Block layout (one row in the ``postings`` table per block):
  doc_ids : delta-encoded (first value absolute) then LEB128 varint
  tfs     : LEB128 varint
  dls     : LEB128 varint (per-doc length, denormalized so scoring never
            needs a doc_id join at query time)
  weights : raw little-endian float64, empty when every weight is 1.0
            (doc boost, fafnir's ``weight`` field,
            /root/reference src/sources/tripadvisor/pois/convert.rs:161-168)
"""

from __future__ import annotations

import numpy as np

_U64_7 = np.uint64(7)
_U64_7F = np.uint64(0x7F)


def _varint_byte_offsets(v: np.ndarray) -> np.ndarray:
    """Cumulative encoded-byte offsets (len n+1) for a uint64 array."""
    n = len(v)
    nb = np.ones(n, dtype=np.int64)
    tmp = v >> _U64_7
    while tmp.any():
        nb += (tmp > 0).astype(np.int64)
        tmp = tmp >> _U64_7
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(nb, out=offs[1:])
    return offs


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array. Vectorized: O(10) numpy passes."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if len(v) == 0:
        return b""
    return _varint_pack(v, _varint_byte_offsets(v))


def _varint_pack(v: np.ndarray, offs: np.ndarray) -> bytes:
    """LEB128 bytes of a non-empty uint64 array given its byte offsets."""
    nb = np.diff(offs)
    out = np.zeros(offs[-1], dtype=np.uint8)
    for j in range(10):  # 64 bits / 7 -> at most 10 bytes
        mask = nb > j
        if not mask.any():
            break
        idx = offs[:-1][mask] + j
        byte = ((v[mask] >> np.uint64(7 * j)) & _U64_7F).astype(np.uint8)
        cont = ((nb[mask] - 1 > j).astype(np.uint8)) << 7
        out[idx] = byte | cont
    return out.tobytes()


def varint_encode_segments(values: np.ndarray, seg_lo: np.ndarray,
                           seg_hi: np.ndarray) -> list[bytes]:
    """varint-encode ``values`` ONCE and split into per-segment buffers —
    byte-identical to varint_encode(values[lo:hi]) per segment (LEB128
    encodes each value independently, so the concatenation splits at value
    boundaries). Kills the per-block small-buffer call overhead in the
    posting encoder."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if len(v) == 0:
        return [b""] * len(seg_lo)
    offs = _varint_byte_offsets(v)
    buf = _varint_pack(v, offs)
    return [buf[offs[lo]:offs[hi]] for lo, hi in zip(seg_lo, seg_hi)]


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes back to uint64. Vectorized via reduceat."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    pos = np.arange(len(b), dtype=np.int64) - np.repeat(starts, lens)
    vals = (b & 0x7F).astype(np.uint64) << (pos.astype(np.uint64) * _U64_7)
    return np.add.reduceat(vals, starts)


def delta_encode(sorted_ids: np.ndarray) -> bytes:
    """Delta + varint encode a strictly increasing uint64 array."""
    a = np.ascontiguousarray(sorted_ids, dtype=np.uint64)
    if len(a) == 0:
        return b""
    d = np.empty_like(a)
    d[0] = a[0]
    np.subtract(a[1:], a[:-1], out=d[1:])
    return varint_encode(d)


def delta_decode(buf: bytes) -> np.ndarray:
    d = varint_decode(buf)
    if len(d) == 0:
        return d
    return np.cumsum(d, dtype=np.uint64)


def positions_encode(pos_lists: list[np.ndarray]) -> bytes:
    """Concatenate per-posting delta+varint position lists (list lengths are
    the tfs, which the block already stores — no extra framing needed)."""
    if not pos_lists:
        return b""
    deltas = []
    for p in pos_lists:
        a = np.ascontiguousarray(p, dtype=np.uint64)
        d = np.empty_like(a)
        if len(a):
            d[0] = a[0]
            np.subtract(a[1:], a[:-1], out=d[1:])
        deltas.append(d)
    return varint_encode(np.concatenate(deltas))


def positions_decode(buf: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    """Inverse of positions_encode given the per-posting counts."""
    flat = varint_decode(buf)
    out = []
    off = 0
    for tf in tfs:
        n = int(tf)
        out.append(np.cumsum(flat[off : off + n], dtype=np.uint64))
        off += n
    return out


def f64_encode(values: np.ndarray) -> bytes:
    """Doc-boost weights stay float64: BM25 scores must be rank-identical
    to the float64 oracle, and f32 quantization can flip 1e-6-rounded
    scores. (A production index would quantize; rank-identity wins here.)"""
    return np.ascontiguousarray(values, dtype="<f8").tobytes()


def f64_decode(buf: bytes) -> np.ndarray:
    return np.frombuffer(buf, dtype="<f8")
