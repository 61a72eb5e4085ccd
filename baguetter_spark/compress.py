"""Posting-block codecs: delta + varint doc ids, raw-f32 impacts, varint tfs.

The reference stores postings as scipy CSC arrays in one npz
(`baguetter/indices/sparse/models/bm25/index.py:133-147`); at 10^12-doc scale
we instead store docID-ascending posting *blocks* with:

- ``doc_ids``: delta-encoded then LEB128-varint packed (vectorized NumPy
  encode/decode — no per-int Python in the hot path),
- ``impacts``: raw little-endian float32 bytes (bit-exact roundtrip),
- ``tfs``: varint term frequencies (kept so segments can be merged by
  recomputing impacts under new global stats — merge == rebuild semantics,
  reference base.py:244-256).

Each block row also carries its max impact (``block_max``, written by the
encoder in indexer.assemble_posting_blocks) for the pruned search paths.
"""

from __future__ import annotations

import numpy as np


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array (vectorized; at most 10 passes, one per
    possible varint byte position — no per-value Python)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # byte length per value: number of 7-bit groups (>= 1)
    lengths = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while (tmp > 0).any():
        lengths += (tmp > 0).astype(np.int64)
        tmp = tmp >> np.uint64(7)
    offsets = np.zeros(v.size + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    out = np.empty(offsets[-1], dtype=np.uint8)
    # write 7-bit groups little-endian; continuation bit on all but the last
    shifted = v.copy()
    remaining = lengths.copy()
    pos = offsets[:-1].copy()
    active = remaining > 0
    while active.any():
        byte = (shifted[active] & np.uint64(0x7F)).astype(np.uint8)
        cont = ((remaining[active] > 1).astype(np.uint8)) << 7
        out[pos[active]] = byte | cont
        shifted[active] = shifted[active] >> np.uint64(7)
        pos[active] += 1
        remaining[active] -= 1
        active = remaining > 0
    return out.tobytes()


# numpy scalars: comparing a uint8 array with a Python int costs several
# microseconds of scalar conversion, which dominates small posting blocks
_CONT = np.uint8(0x80)
_PAYLOAD = np.uint8(0x7F)
_SEVEN = np.uint64(7)


def varint_decode(buf: bytes, count: int) -> np.ndarray:
    """Decode ``count`` LEB128 varints into a uint64 array (vectorized).

    Raises ``ValueError`` when the stream does not hold exactly ``count``
    values, when its last byte still has the continuation bit set (a
    truncated stream), or when a value runs past the 10 bytes a uint64
    needs."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if len(raw) == count and (count == 0 or raw.max() < _CONT):
        # no byte has the continuation bit: the values are the bytes
        return raw.astype(np.uint64)
    cont = raw >= _CONT
    if len(raw) and cont[-1]:
        msg = "varint stream is truncated: its last byte has the continuation bit set"
        raise ValueError(msg)
    # value-end positions: bytes with continuation bit clear
    ends = np.flatnonzero(~cont)
    if len(ends) != count:
        msg = f"varint stream has {len(ends)} values, expected {count}"
        raise ValueError(msg)
    starts = np.empty(count, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    if lengths.max() > 10:
        msg = "varint value longer than 10 bytes"
        raise ValueError(msg)
    # shift amount of each byte within its value = (index - value_start) * 7
    shifts = (np.arange(len(raw)) - starts.repeat(lengths)).astype(np.uint64) * _SEVEN
    return np.add.reduceat((raw & _PAYLOAD).astype(np.uint64) << shifts, starts)


def encode_doc_ids(doc_ids: np.ndarray) -> bytes:
    """Delta + varint encode a strictly-ascending int64 doc-id array."""
    d = np.asarray(doc_ids, dtype=np.int64)
    if d.size == 0:
        return b""
    deltas = np.empty_like(d)
    deltas[0] = d[0]
    np.subtract(d[1:], d[:-1], out=deltas[1:])
    if d.size > 1 and deltas[1:].min() <= 0:
        msg = "doc_ids must be strictly ascending"
        raise ValueError(msg)
    return varint_encode(deltas.astype(np.uint64))


def decode_doc_ids(buf: bytes, count: int) -> np.ndarray:
    return varint_decode(buf, count).astype(np.int64).cumsum()


def encode_impacts(impacts: np.ndarray, dtype: str = "float32") -> bytes:
    """Bit-exact little-endian float bytes (f4 or f8 per index dtype config —
    the reference's `dtype` parameter, sparse/config.py:21)."""
    return np.asarray(impacts, dtype="<f4" if dtype == "float32" else "<f8").tobytes()


def decode_impacts(buf: bytes, dtype: str = "float32") -> np.ndarray:
    return np.frombuffer(buf, dtype="<f4" if dtype == "float32" else "<f8")


def encode_tfs(tfs: np.ndarray) -> bytes:
    return varint_encode(np.asarray(tfs, dtype=np.uint64))


def decode_tfs(buf: bytes, count: int) -> np.ndarray:
    return varint_decode(buf, count).astype(np.int64)
