"""Vectorized LEB128 (protobuf base-128) varints.

Wire format parity target: /root/reference/src/encoding/mod.rs:425-480
(little-endian 7-bit groups, MSB = continuation). Both directions are
whole-array NumPy ops with a fixed 10-iteration byte-position loop — no
per-value Python.
"""

from __future__ import annotations

import numpy as np

_MAX_BYTES = 10  # ceil(64 / 7)
_SHIFTS = (np.uint64(7) * np.arange(_MAX_BYTES, dtype=np.uint64))[None, :]  # (1,10)


def varint_encode(values: np.ndarray) -> bytes:
    """Encode a uint64 array as concatenated LEB128 varints."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.shape[0]
    if n == 0:
        return b""
    shifted = v[:, None] >> _SHIFTS  # (n, 10); byte k holds shifted[:, k] & 0x7f
    valid = shifted != 0
    valid[:, 0] = True  # every value emits at least one byte
    more = np.zeros_like(valid)
    more[:, :-1] = valid[:, 1:]  # continuation bit: a later byte exists
    mat = (shifted & np.uint64(0x7F)).astype(np.uint8) | (more.astype(np.uint8) << 7)
    return mat[valid].tobytes()  # row-major mask keeps per-value byte order


def uvarint(x: int) -> bytes:
    """LEB128 of one non-negative int — a pure-Python loop, byte-identical
    to ``varint_encode`` on a 1-element array without the ~45us of array
    construction (the RLEv2 frame loop, protobuf fields and chunk
    headers each encode one value at a time). A negative value has no
    unsigned encoding and raises ValueError."""
    if x < 0:
        raise ValueError(f"uvarint: negative value {x}")
    out = bytearray()
    while x > 0x7F:
        out.append((x & 0x7F) | 0x80)
        x >>= 7
    out.append(x)
    return bytes(out)


_MAX_BYTES_128 = 19  # ceil(128 / 7)


def varint_decode_zigzag128(buf: bytes | np.ndarray, count: int) -> tuple[np.ndarray, np.ndarray, int]:
    """Decode ``count`` ZIGZAG LEB128 varints of up to 128 bits into
    two's-complement i128 words — the ORC decimal mantissa stream
    (reference: src/column_reader/numeric_reader.rs:314-383, which loops
    per value; here every step is a whole-array NumPy op).

    Returns (lo_words uint64, hi_words uint64, bytes consumed); the word
    pairs are the little-endian halves of the signed 128-bit value, i.e.
    exactly pyarrow's decimal128 buffer layout.
    """
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if count == 0:
        z = np.empty(0, dtype=np.uint64)
        return z, z.copy(), 0
    ends = np.flatnonzero(b < 0x80)
    if len(ends) < count:
        raise ValueError(f"varint stream truncated: wanted {count}, found {len(ends)}")
    ends = ends[:count]
    starts = np.empty(count, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    if lengths.max() > _MAX_BYTES_128:
        raise ValueError("varint longer than 19 bytes (exceeds 128 bits)")
    lo = np.zeros(count, dtype=np.uint64)
    hi = np.zeros(count, dtype=np.uint64)
    for k in range(int(lengths.max())):
        m = lengths > k
        v = b[starts[m] + k].astype(np.uint64) & np.uint64(0x7F)
        shift = 7 * k
        if shift < 64:
            lo[m] |= v << np.uint64(shift)  # uint64 wrap keeps the low bits
            if shift > 57:  # bits spill past word 0 (shift + 7 > 64)
                hi[m] |= v >> np.uint64(64 - shift)
        else:
            hi[m] |= v << np.uint64(shift - 64)
    # 128-bit zigzag: value = (u >> 1) ^ -(u & 1), on the (lo, hi) pair
    sign = np.where((lo & np.uint64(1)) != 0, np.uint64(0xFFFFFFFFFFFFFFFF), np.uint64(0))
    out_lo = ((lo >> np.uint64(1)) | (hi << np.uint64(63))) ^ sign
    out_hi = (hi >> np.uint64(1)) ^ sign
    return out_lo, out_hi, int(ends[-1]) + 1


def varint_decode(buf: bytes | np.ndarray, count: int) -> tuple[np.ndarray, int]:
    """Decode ``count`` varints from ``buf``.

    Returns (uint64 array of length count, bytes consumed).
    """
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if count == 0:
        return np.empty(0, dtype=np.uint64), 0
    ends = np.flatnonzero(b < 0x80)
    if len(ends) < count:
        raise ValueError(f"varint stream truncated: wanted {count}, found {len(ends)}")
    ends = ends[:count]
    starts = np.empty(count, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    if lengths.max() > _MAX_BYTES:
        raise ValueError("varint longer than 10 bytes")
    vals = np.zeros(count, dtype=np.uint64)
    for k in range(int(lengths.max())):
        m = lengths > k
        vals[m] |= (b[starts[m] + k].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(7 * k)
    return vals, int(ends[-1]) + 1
