"""Vectorized LEB128 (protobuf base-128) varints.

Wire format parity target: /root/reference/src/encoding/mod.rs:425-480
(little-endian 7-bit groups, MSB = continuation). Both directions are
whole-array NumPy ops with one loop step per byte position the widest
value needs (at most 10) — no per-value Python.
"""

from __future__ import annotations

import numpy as np

_MAX_BYTES = 10  # ceil(64 / 7)


def varint_encode(values: np.ndarray) -> bytes:
    """Encode a uint64 array as concatenated LEB128 varints.

    Only the ``k = ceil(bitlen(max) / 7)`` byte columns the widest value
    needs are computed, in uint32 when ``k <= 4``, into one (n, k) uint8
    matrix. Byte j of a value is ``s | min(s, 0x80)`` truncated to uint8,
    ``s = v >> 7j``: its low 7 bits, plus the continuation bit exactly
    when byte j+1 is kept (``s >= 0x80``).
    """
    v = values
    if not (isinstance(v, np.ndarray) and v.dtype in (np.uint32, np.uint64)):
        v = np.asarray(values, dtype=np.uint64)  # a negative int64 wraps to its bit pattern
    n = v.shape[0]
    if n == 0:
        return b""
    k = max(1, (int(v.max()).bit_length() + 6) // 7)
    if k <= 4:
        v = v.astype(np.uint32, copy=False)
    mat = np.empty((n, k), dtype=np.uint8)
    s = v
    for j in range(k - 1):
        mat[:, j] = s | np.minimum(s, 0x80)
        s = s >> 7
    mat[:, k - 1] = s  # < 0x80: the last byte never continues
    # a byte past column 0 is kept iff nonzero (a kept non-final byte has
    # its continuation bit; a kept final byte is a nonzero septet)
    keep = mat.astype(bool)
    keep[:, 0] = True
    # a boolean mask (not np.compress, which builds int64 indices) keeps
    # the row-major per-value byte order
    return mat[keep].tobytes()


def uvarint(x: int) -> bytes:
    """LEB128 of one non-negative int — a pure-Python loop, byte-identical
    to ``varint_encode`` on a 1-element array without its array setup
    (the RLEv2 frame loop, protobuf fields and chunk headers each encode
    one value at a time). A negative value has no unsigned encoding and
    raises ValueError."""
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

    Returns (uint64 array of length count, bytes consumed). Every byte
    position is an unconditional gather: the read index advances and is
    clamped to each value's last byte, and the previous byte's
    continuation bit masks what a clamped read contributes. Values
    accumulate in uint32 when no varint is longer than 4 bytes.
    """
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if count == 0:
        return np.empty(0, dtype=np.uint64), 0
    window = b[: _MAX_BYTES * count]  # count varints of <= 10 bytes fit here
    ends = np.flatnonzero(window < 0x80)
    if len(ends) < count and len(window) < len(b):
        ends = np.flatnonzero(b < 0x80)  # malformed: name the fault as before
    if len(ends) < count:
        raise ValueError(f"varint stream truncated: wanted {count}, found {len(ends)}")
    ends = ends[:count]
    pos = np.empty(count, dtype=np.int64)
    pos[0] = 0
    pos[1:] = ends[:-1] + 1
    width = int((ends - pos).max()) + 1
    if width > _MAX_BYTES:
        raise ValueError("varint longer than 10 bytes")
    dt = np.uint32 if width <= 4 else np.uint64
    cur = b[pos]
    vals = (cur & np.uint8(0x7F)).astype(dt)
    for k in range(1, width):
        pos += 1
        np.minimum(pos, ends, out=pos)
        nxt = b[pos]
        # 0x7F while the previous byte continued the value, else 0
        live = (cur >> np.uint8(7)) * np.uint8(0x7F)
        vals |= (nxt & live).astype(dt) << dt(7 * k)
        cur = nxt
    return vals.astype(np.uint64, copy=False), int(ends[-1]) + 1

