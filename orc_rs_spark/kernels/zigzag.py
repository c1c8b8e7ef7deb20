"""Zigzag transform: signed <-> unsigned with small-magnitude bias.

Semantics match the ORC spec / protobuf zigzag used by the reference's
decoders (parity target: /root/reference/src/encoding/mod.rs:482-587).
"""

from __future__ import annotations

import numpy as np


def zigzag_encode(values: np.ndarray) -> np.ndarray:
    """Signed int64 array -> zigzagged uint64 array: (v << 1) ^ (v >> 63)."""
    v = np.ascontiguousarray(values, dtype=np.int64)
    # views, not astypes: reinterpreting the bits is free and exact here
    return (v.view(np.uint64) << np.uint64(1)) ^ (v >> np.int64(63)).view(np.uint64)


def zigzag_decode(values: np.ndarray) -> np.ndarray:
    """Zigzagged uint64 array -> signed int64 array: (v >> 1) ^ -(v & 1).

    All reinterpretations are views (free): (v >> 1) has a zero top bit so
    its int64 view is the same value, (v & 1) views to 0/1 whose negation
    is the all-ones/all-zeros XOR mask, and int64 XOR is bitwise-identical
    to uint64 XOR. Three full-array astype copies used to live here and
    were the single hottest spot in wire decode (q7)."""
    v = np.asarray(values, dtype=np.uint64)
    return (v >> np.uint64(1)).view(np.int64) ^ -((v & np.uint64(1)).view(np.int64))


def to_unsigned(values: np.ndarray, signed: bool) -> np.ndarray:
    """The uint64 value space of the integer RLEs: zigzag when ``signed``,
    else the int64 bits as they are (a view)."""
    if signed:
        return zigzag_encode(values)
    return np.ascontiguousarray(values, dtype=np.int64).view(np.uint64)


def from_unsigned(values: np.ndarray, signed: bool) -> np.ndarray:
    """Inverse of ``to_unsigned``: uint64 -> int64, wrapping (a view for
    uint64 input)."""
    if signed:
        return zigzag_decode(values)
    return np.asarray(values, dtype=np.uint64).view(np.int64)
