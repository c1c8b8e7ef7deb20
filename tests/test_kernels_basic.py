"""Unit tests for zigzag / varint / bitpack kernels.

Known-answer vectors per FIXTURES.md F3 (varint: 128 -> [0x80,0x01],
16383 -> [0xff,0x7f], matching /root/reference/src/encoding/mod.rs:452-454).
"""

import numpy as np
import pytest

from orc_rs_spark.kernels.bitpack import (
    bit_lengths,
    bitpack,
    bitunpack,
    closest_direct_width,
)
from orc_rs_spark.kernels.varint import uvarint, varint_decode, varint_encode
from orc_rs_spark.kernels.zigzag import zigzag_decode, zigzag_encode

RNG = np.random.default_rng(42)


def test_zigzag_known():
    v = np.array([0, -1, 1, -2, 2, 2**62, -(2**62), 2**63 - 1, -(2**63)], dtype=np.int64)
    z = zigzag_encode(v)
    assert z[:5].tolist() == [0, 1, 2, 3, 4]
    np.testing.assert_array_equal(zigzag_decode(z), v)


def test_zigzag_roundtrip_random():
    v = RNG.integers(-(2**63), 2**63 - 1, size=10_000, dtype=np.int64)
    np.testing.assert_array_equal(zigzag_decode(zigzag_encode(v)), v)


def test_varint_known_vectors():
    assert varint_encode(np.array([128], dtype=np.uint64)) == bytes([0x80, 0x01])
    assert varint_encode(np.array([16383], dtype=np.uint64)) == bytes([0xFF, 0x7F])
    assert varint_encode(np.array([0], dtype=np.uint64)) == bytes([0x00])
    assert varint_encode(np.array([127], dtype=np.uint64)) == bytes([0x7F])


def test_varint_roundtrip():
    v = np.concatenate(
        [
            RNG.integers(0, 2**64 - 1, size=5000, dtype=np.uint64),
            np.array([0, 1, 127, 128, 16383, 16384, 2**63, 2**64 - 1], dtype=np.uint64),
        ]
    )
    buf = varint_encode(v)
    dec, used = varint_decode(buf, len(v))
    assert used == len(buf)
    np.testing.assert_array_equal(dec, v)


def test_scalar_uvarint_matches_array_encoder():
    """The one scalar LEB128 encoder writes the array encoder's bytes and
    refuses a negative value (it has no unsigned encoding)."""
    vals = [0, 1, 127, 128, 16383, 16384, 2**32, 2**63, 2**64 - 1]
    vals += RNG.integers(0, 2**64 - 1, size=200, dtype=np.uint64).tolist()
    for x in vals:
        assert uvarint(x) == varint_encode(np.array([x], dtype=np.uint64)), x
    for x in (-1, -(2**63)):
        with pytest.raises(ValueError, match="negative"):
            uvarint(x)


def test_varint_truncation_raises():
    with pytest.raises(ValueError):
        varint_decode(bytes([0x80]), 1)


@pytest.mark.parametrize("width", [1, 2, 3, 4, 5, 7, 8, 11, 16, 23, 24, 26, 32, 40, 48, 56, 64])
def test_bitpack_roundtrip(width):
    hi = 2**64 - 1 if width == 64 else 2**width - 1
    v = RNG.integers(0, hi, size=1000, dtype=np.uint64, endpoint=True)
    packed = bitpack(v, width)
    assert len(packed) == (1000 * width + 7) // 8
    np.testing.assert_array_equal(bitunpack(packed, width, 1000), v)


def test_bitpack_big_endian_order():
    # two 4-bit values 0xA, 0xB must pack to the single byte 0xAB
    assert bitpack(np.array([0xA, 0xB], dtype=np.uint64), 4) == bytes([0xAB])
    # 1-bit values pack MSB-first
    assert bitpack(np.array([1, 0, 1, 1, 0, 0, 0, 1], dtype=np.uint64), 1) == bytes([0b10110001])


def test_bit_lengths():
    v = np.array([0, 1, 2, 3, 255, 256, 2**32, 2**64 - 1], dtype=np.uint64)
    assert bit_lengths(v).tolist() == [0, 1, 2, 2, 8, 9, 33, 64]
    # every power-of-two edge, through the small- and large-array paths
    edges = [x for k in range(65) for x in ((1 << k) - 1, 1 << k, (1 << k) + 1) if x < 2**64]
    for reps in (1, 20):
        big = np.array(edges * reps, dtype=np.uint64)
        assert bit_lengths(big).tolist() == [x.bit_length() for x in edges] * reps


def test_width_tables():
    assert closest_direct_width(1) == 1
    assert closest_direct_width(24) == 24
    assert closest_direct_width(25) == 26
    assert closest_direct_width(33) == 40
    assert closest_direct_width(57) == 64


def test_murmur3_hash64_many_matches_scalar():
    """Vectorized murmur3 across variable-length strings == the scalar
    reference on every value (empties, 8-byte boundaries, long keys)."""
    import random

    from orc_rs_spark.kernels.orc_bloom import murmur3_hash64, murmur3_hash64_many

    random.seed(3)
    strs = [b""] + [
        bytes(random.getrandbits(8) for _ in range(random.choice(
            [1, 2, 3, 7, 8, 9, 15, 16, 17, 31, 100, 1000])))
        for _ in range(1500)
    ]
    payload = b"".join(strs)
    lengths = np.array([len(s) for s in strs], dtype=np.int64)
    starts = np.zeros(len(strs), dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    buf = np.frombuffer(payload + b"\x00" * 7, dtype=np.uint8)
    got = murmur3_hash64_many(buf, starts, lengths)
    want = np.array([murmur3_hash64(s) for s in strs], dtype=np.uint64)
    np.testing.assert_array_equal(got, want)


def test_varint_zigzag128_roundtrip_property():
    """128-bit zigzag varint decode vs a python-int reference encoder:
    sign/boundary values plus random i128s, exact word-pair layout."""
    import random

    from orc_rs_spark.kernels.varint import varint_decode_zigzag128

    def enc(v: int) -> bytes:
        u = (v << 1) ^ (v >> 200)  # arithmetic shift: all-ones for negatives
        out = bytearray()
        while True:
            byte = u & 0x7F
            u >>= 7
            out.append(byte | 0x80 if u else byte)
            if not u:
                return bytes(out)

    random.seed(9)
    vals = [0, 1, -1, 63, -64, 2**63 - 1, -(2**63), 2**64, -(2**64),
            2**126, -(2**126), 10**37, -(10**37)]
    vals += [random.randint(-(2**126), 2**126) for _ in range(2000)]
    buf = b"".join(enc(v) for v in vals)
    lo, hi, consumed = varint_decode_zigzag128(buf, len(vals))
    assert consumed == len(buf)
    dec = [(int(h) << 64) | int(l) for l, h in zip(lo, hi)]
    dec = [d - (1 << 128) if d >= (1 << 127) else d for d in dec]
    assert dec == vals
    with pytest.raises(ValueError):
        varint_decode_zigzag128(bytes([0x80] * 20 + [0x01]), 1)  # >128 bits
    with pytest.raises(ValueError):
        varint_decode_zigzag128(bytes([0x80, 0x80]), 1)  # truncated
