"""Vectorized big-endian bit-packing and the ORC 5-bit width tables.

Wire format parity target: the bit-serial decoder at
/root/reference/src/encoding/rlev2.rs:71-133 and the width tables at
/root/reference/src/encoding/rlev2.rs:61-69 (Apache ORC v1 spec). The
pack/unpack here is whole-array — the vectorized replacement for the
reference's per-value bit loop (its own TODO at
/root/reference/src/encoding/rlev2.rs:98 points at C++ AVX versions):
packing assembles each output byte of an 8-value group from at most two
values, unpacking loads one unaligned 64-bit window per value lane.
"""

from __future__ import annotations

from bisect import bisect_left
from math import gcd

import numpy as np

# encoded 5-bit value -> real bit width (Apache ORC v1 spec)
DIRECT_WIDTH_TABLE = np.array(
    [1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19, 20,
     21, 22, 23, 24, 26, 28, 30, 32, 40, 48, 56, 64],
    dtype=np.int64,
)
DELTA_WIDTH_TABLE = DIRECT_WIDTH_TABLE.copy()
DELTA_WIDTH_TABLE[0] = 0  # encoded 0 = fixed-delta run (no packed deltas)

# plain-tuple mirror of DIRECT_WIDTH_TABLE: the scalar lookups below run
# once per frame/candidate in the rlev2 encoder hot loop, where
# bisect on a tuple is ~10x cheaper than np.searchsorted dispatch
_DIRECT_WIDTHS = tuple(int(w) for w in DIRECT_WIDTH_TABLE)


def closest_direct_width(width: int) -> int:
    """Round a bit width up to the nearest entry in the direct table."""
    return _DIRECT_WIDTHS[bisect_left(_DIRECT_WIDTHS, width if width > 1 else 1)]


def decode_direct_width(enc: int) -> int:
    return int(DIRECT_WIDTH_TABLE[enc])


def decode_delta_width(enc: int) -> int:
    return int(DELTA_WIDTH_TABLE[enc])


def _check_fits(max_value: int, width: int) -> None:
    if max_value >> width:
        raise ValueError(f"bitpack: value {max_value} does not fit in {width} bits")


def bitpack(values: np.ndarray, width: int) -> bytes:
    """Pack a uint64 array into ``width``-bit big-endian values (byte-padded).

    Every value must fit in ``width`` bits (callers derive width from
    ``bit_lengths(values).max()``); one that does not raises ValueError in
    every size regime, checked once per call against the array's max, so
    no path can bleed high bits into neighbouring lanes.

    Groups of 8 values occupy exactly ``width`` output bytes; each output
    byte is assembled from at most two adjacent values with shifts — ~w
    bytes of memory traffic per value instead of the 64 B/value a naive
    ``np.unpackbits`` expansion costs (that traffic capped multi-core
    scaling at ~2x on this box).
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.shape[0]
    if n == 0:
        return b""
    if n <= 32 or (n <= 256 and width % 8):
        # small inputs (patch lists, short runs, a few frames' payloads):
        # one big-int accumulator beats the array kernels' per-call cost
        # (~20 us + ~3.6 us per bit of width) unless the width is whole bytes
        xs = v.tolist()
        _check_fits(max(xs), width)
        if width == 0:
            return b""
        acc = 0
        for x in xs:
            acc = (acc << width) | x
        total = n * width
        return (acc << (-total % 8)).to_bytes((total + 7) // 8, "big")
    _check_fits(int(v.max()), width)
    if width == 0:
        return b""
    if width in (8, 16, 32, 64):  # byte-aligned: one big-endian cast
        dt = {8: ">u1", 16: ">u2", 32: ">u4", 64: ">u8"}[width]
        return v.astype(dt).tobytes()
    ng = (n + 7) // 8
    if ng * 8 != n:
        v = np.concatenate([v, np.zeros(ng * 8 - n, dtype=np.uint64)])
    g = v.reshape(ng, 8)
    out = np.empty((ng, width), dtype=np.uint8)
    if width <= 7:
        # a byte spans several values: fold the whole 8-value group (8w <= 56
        # bits) into one accumulator, then emit its big-endian bytes
        acc = np.zeros(ng, dtype=np.uint64)
        for j in range(8):
            acc |= g[:, j] << np.uint64(width * (7 - j))
        for k in range(width):
            out[:, k] = (acc >> np.uint64(8 * (width - 1 - k))).astype(np.uint8)
    else:
        # width >= 8: every output byte draws from at most two adjacent values
        for k in range(width):
            j1, o1 = divmod(8 * k, width)
            avail = width - o1
            if avail >= 8:
                out[:, k] = (g[:, j1] >> np.uint64(avail - 8)).astype(np.uint8)
            else:
                need = 8 - avail
                out[:, k] = (
                    (g[:, j1] << np.uint64(need)) | (g[:, j1 + 1] >> np.uint64(width - need))
                ).astype(np.uint8)
    return out.tobytes()[: (n * width + 7) // 8]


_U64_MASKS = np.array([0] + [(1 << w) - 1 for w in range(1, 64)] + [2**64 - 1], dtype=np.uint64)


def bitunpack(buf: bytes | np.ndarray, width: int, count: int) -> np.ndarray:
    """Unpack ``count`` ``width``-bit big-endian values -> uint64 array.

    A buffer shorter than ``count * width`` bits raises ValueError.
    Byte-aligned widths are one big-endian cast; ≤ 64 values go through
    one big int. Otherwise, for widths up to 56, every value lies inside
    one unaligned 8-byte window, because its first bit sits at most 7 bits
    into its first byte. The bit pattern repeats every ``8 / gcd(width, 8)``
    values, so each of those lanes is one strided ``>u8`` view of a
    zero-padded copy of the buffer (the last window may run past the
    caller's bytes, never past the copy), loaded in one cast; one shift per
    lane and one mask finish it. Wider unaligned values expand to bits."""
    if width == 0 or count == 0:
        return np.zeros(count, dtype=np.uint64)
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    need_bits = count * width
    if len(b) * 8 < need_bits:
        raise ValueError(f"bitpacked stream truncated: need {need_bits} bits, have {len(b) * 8}")
    if width in (8, 16, 32, 64):  # byte-aligned: one big-endian cast
        dt = {8: ">u1", 16: ">u2", 32: ">u4", 64: ">u8"}[width]
        nbytes = count * width // 8
        return (
            np.frombuffer(np.ascontiguousarray(b[:nbytes]), dtype=dt)
            .astype(np.uint64)
        )
    if count <= 64:
        # short runs (one row group's frames): one big-int accumulator, as
        # in bitpack, instead of ~40 array calls whatever the count
        nbytes = (need_bits + 7) // 8
        acc = int.from_bytes(b[:nbytes].tobytes(), "big") >> (nbytes * 8 - need_bits)
        mask = (1 << width) - 1
        return np.array(
            [(acc >> s) & mask for s in range(need_bits - width, -1, -width)], dtype=np.uint64
        )
    if width > 56:
        # accumulator would exceed 64 bits for unaligned wide values
        nbytes = (need_bits + 7) // 8
        bits = np.unpackbits(b[:nbytes])[:need_bits].reshape(count, width)
        full = np.zeros((count, 64), dtype=np.uint8)
        full[:, 64 - width :] = bits
        return np.packbits(full, axis=1).view(">u8").ravel().astype(np.uint64)
    ng = (count + 7) // 8
    gb = ng * width  # bytes of the whole 8-value groups
    have = min(len(b), gb)
    pad = np.empty(gb + 8, dtype=np.uint8)  # + one window past the last group
    pad[:have] = b[:have]
    pad[have:] = 0
    # a period of `lanes` values fills `step` bytes; lane j's window starts
    # at byte fb of each period, its value `off` bits into the window
    g = gcd(width, 8)
    lanes, step, rows = 8 // g, width // g, ng * g
    out = np.empty((rows, lanes), dtype=np.uint64)
    shifts = np.empty(lanes, dtype=np.uint64)
    for j in range(lanes):
        fb, off = divmod(j * width, 8)
        out[:, j] = np.ndarray((rows,), dtype=">u8", buffer=pad, offset=fb, strides=(step,))
        shifts[j] = 64 - off - width
    out >>= shifts
    out &= _U64_MASKS[width]
    return out.ravel()[:count]


def packed_size(count: int, width: int) -> int:
    """Bytes occupied by ``count`` ``width``-bit packed values."""
    return (count * width + 7) // 8


_POW2 = np.array([1 << i for i in range(64)], dtype=np.uint64)


def bit_lengths(values: np.ndarray) -> np.ndarray:
    """Per-element bit length of a uint64 array (0 for 0), vectorized.

    Uses frexp's exponent (bl = floor(log2 v) + 1) with an exact integer
    correction for the cases where float64 conversion rounded up to the
    next power of two — two array passes instead of a 6-step binary search.
    """
    v = np.asarray(values, dtype=np.uint64)
    if v.size <= 1024:
        # one binary search over the powers of two: 5-15x cheaper than the
        # passes below up to this size, ~3x dearer at 7k values
        return np.searchsorted(_POW2, v, side="right")
    s = v.view(np.int64)
    f = s.astype(np.float64)  # i64->f64 has the fast SIMD path; u64->f64 doesn't
    bits = f.view(np.uint64)
    bl = ((bits >> np.uint64(52)) & np.uint64(0x7FF)).astype(np.int64) - 1022
    bl[f == 0.0] = 0
    # correction: conversion may round v up across a 2^k boundary.
    # maximum+minimum instead of np.clip+astype: one fewer whole-array
    # copy and no uint64 detour. (Alternating A/B runs show this is
    # throughput-equivalent — this shared VM's 5-10x phase noise makes
    # single-run "speedups" untrustworthy, so no speed claim is made.)
    sh = np.minimum(np.maximum(bl - 1, 0), 62)  # 1<<63 would wrap in int64
    # bl==64 with s>=0 is always an over-round (a positive int64 has <=63
    # bits); other boundaries compare against the true power of two
    over = ((s < (np.int64(1) << sh)) | (bl >= 64)) & (bl >= 1) & (s >= 0)
    bl[over] -= 1
    bl[s < 0] = 64  # top bit set: exact, and the float path above was invalid
    return bl
