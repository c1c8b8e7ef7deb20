"""Property-based round-trip tests (hypothesis) for every codec kernel.

Complements the seeded-regime tests: hypothesis explores adversarial
shapes (tiny arrays, extreme values, pathological run structures) the
fixed regimes may miss.
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from orc_rs_spark.kernels.bitpack import bitpack, bitunpack, packed_size
from orc_rs_spark.kernels.blockcomp import block_compress, block_decompress
from orc_rs_spark.kernels.byte_rle import byte_rle_decode, byte_rle_encode
from orc_rs_spark.kernels.fsst import fsst_decode, fsst_encode
from orc_rs_spark.kernels.intcodecs import (
    bitpack_decode,
    bitpack_encode,
    dict_decode,
    dict_encode,
    for_decode,
    for_encode,
    rankdict_decode,
    rankplanes_decode,
    rankplanes_encode,
    raw_decode,
    raw_encode,
)
from orc_rs_spark.kernels.rlev1 import rlev1_decode, rlev1_encode
from orc_rs_spark.kernels.rlev2 import rlev2_decode, rlev2_encode, rlev2_encode_groups, rlev2_encode_runs
from orc_rs_spark.kernels.varint import uvarint, varint_decode, varint_encode
from orc_rs_spark.kernels.zigzag import zigzag_decode, zigzag_encode
from tests.test_codecs import rankdict_encode

i64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
i32 = st.integers(min_value=-(2**31), max_value=2**31 - 1)
u64 = st.integers(min_value=0, max_value=2**64 - 1)

int_arrays = st.lists(i64, min_size=0, max_size=300).map(lambda x: np.array(x, dtype=np.int64))
# mix in run-heavy arrays: (value, repeat) pairs
run_arrays = st.lists(
    st.tuples(i32, st.integers(min_value=1, max_value=40)), min_size=0, max_size=40
).map(lambda pairs: np.repeat([p[0] for p in pairs], [p[1] for p in pairs]).astype(np.int64))


@settings(max_examples=60, deadline=None)
@given(st.lists(u64, min_size=0, max_size=200))
def test_varint_roundtrip(xs):
    v = np.array(xs, dtype=np.uint64)
    dec, used = varint_decode(varint_encode(v), len(v))
    np.testing.assert_array_equal(dec, v)


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=64).flatmap(
    lambda w: st.lists(st.integers(min_value=0, max_value=(1 << w) - 1), min_size=0, max_size=40)
))
def test_varint_matches_scalar_at_every_width(xs):
    """The array kernels equal the one-value ``uvarint`` loop at every value
    width from 0 to 64 bits, and decode inverts them."""
    v = np.array(xs, dtype=np.uint64)
    buf = varint_encode(v)
    assert buf == b"".join(uvarint(x) for x in xs)
    dec, used = varint_decode(buf + b"\x01\x80", len(xs))
    np.testing.assert_array_equal(dec, v)
    assert used == len(buf)


@settings(max_examples=60, deadline=None)
@given(st.lists(i64, min_size=0, max_size=200))
def test_zigzag_roundtrip(xs):
    v = np.array(xs, dtype=np.int64)
    np.testing.assert_array_equal(zigzag_decode(zigzag_encode(v)), v)


@settings(max_examples=80, deadline=None)
@given(int_arrays)
def test_rlev2_roundtrip(v):
    np.testing.assert_array_equal(rlev2_decode(rlev2_encode(v), len(v)), v)


@settings(max_examples=60, deadline=None)
@given(run_arrays)
def test_rlev2_runs_roundtrip(v):
    np.testing.assert_array_equal(rlev2_decode(rlev2_encode_runs(v), len(v)), v)


@settings(max_examples=80, deadline=None)
@given(st.one_of(int_arrays, run_arrays),
       st.lists(st.integers(min_value=0, max_value=1200), max_size=12), st.booleans())
def test_rlev2_encode_groups_equals_per_group_calls(v, cut_points, signed):
    """One frame pass over every group gives, piece by piece, the bytes of
    a strict-ORC encode per group (empty groups included)."""
    cuts = sorted([0, len(v)] + [min(c, len(v)) for c in cut_points])
    pieces = rlev2_encode_groups(v, cuts, signed)
    assert pieces == [rlev2_encode(v[a:b], signed, strict_orc=True) for a, b in zip(cuts, cuts[1:])]


@settings(max_examples=40, deadline=None)
@given(run_arrays, st.lists(st.integers(min_value=0, max_value=1000), max_size=10))
def test_rlev2_row_boundaries_roundtrip(v, bnd):
    b = np.unique(np.clip(np.array(bnd, dtype=np.int64), 0, max(0, len(v))))
    enc = rlev2_encode(v, boundaries=b)
    np.testing.assert_array_equal(rlev2_decode(enc, len(v)), v)


@settings(max_examples=50, deadline=None)
@given(int_arrays)
def test_intcodecs_roundtrip(v):
    for enc, dec in (
        (for_encode, for_decode),
        (bitpack_encode, bitpack_decode),
        (dict_encode, dict_decode),
        (rankdict_encode, rankdict_decode),
        (rankplanes_encode, rankplanes_decode),
        (raw_encode, raw_decode),
        (rlev1_encode, rlev1_decode),
    ):
        np.testing.assert_array_equal(dec(enc(v), len(v)), v)


# rank dictionary inputs: vocabulary-sized ranges (the np.bincount branch),
# negative values, the int32 extremes, and skewed repeats
small_range = st.integers(min_value=-(2**19), max_value=2**19 - 1)
i32_edges = st.sampled_from([-(2**31), -(2**31) + 1, -1, 0, 1, 2**31 - 2, 2**31 - 1])
rank_arrays = st.one_of(
    st.lists(small_range, min_size=0, max_size=300),
    st.lists(st.one_of(i32_edges, i32), min_size=0, max_size=300),
    st.lists(st.integers(min_value=-5, max_value=5), min_size=0, max_size=300),
    run_arrays.map(list),
).map(lambda x: np.array(x, dtype=np.int64))


@settings(max_examples=120, deadline=None)
@given(rank_arrays)
def test_rankdict_roundtrip(v):
    np.testing.assert_array_equal(rankdict_decode(rankdict_encode(v), len(v)), v)


@settings(max_examples=120, deadline=None)
@given(rank_arrays)
def test_rankplanes_roundtrip(v):
    enc = rankplanes_encode(v)
    np.testing.assert_array_equal(rankplanes_decode(enc, len(v)), v)


@st.composite
def plane_boundary_arrays(draw):
    """Values whose largest rank sits on a plane boundary (0, 127, 128,
    16383, 16384, ...), from a 1-entry dictionary up to one of more than
    2^14 entries, with repeats that reorder the ranks."""
    n_dict = draw(st.sampled_from([1, 2, 127, 128, 129, 16383, 16384, 16385, 20000]))
    base = draw(st.integers(min_value=-(2**40), max_value=2**40))
    step = draw(st.sampled_from([1, 3, 1 << 20]))
    values = base + np.arange(n_dict, dtype=np.int64) * step
    extra = draw(st.lists(st.integers(min_value=0, max_value=n_dict - 1), max_size=60))
    seed = draw(st.integers(min_value=0, max_value=2**32 - 1))
    v = np.concatenate([values, values[np.array(extra, dtype=np.int64)]])
    return np.random.default_rng(seed).permutation(v)


@settings(max_examples=40, deadline=None)
@given(plane_boundary_arrays())
def test_rankplanes_roundtrip_plane_boundaries(v):
    enc = rankplanes_encode(v)
    np.testing.assert_array_equal(rankplanes_decode(enc, len(v)), v)


def test_rankplanes_three_byte_ranks():
    """2^21 distinct values: the largest rank, 2^21 - 1, fills three planes."""
    v = np.random.default_rng(8).permutation(1 << 21).astype(np.int64) * 5 - 7
    v = np.concatenate([v, v[:1000]])  # repeats rank the first 1000 values first
    enc = rankplanes_encode(v)
    np.testing.assert_array_equal(rankplanes_decode(enc, len(v)), v)


@pytest.mark.parametrize(
    "name",
    ["empty", "single", "all_distinct", "negative", "int32_extremes", "over_2^16_distinct", "range_over_2^20"],
)
def test_rankdict_roundtrip_shapes(name):
    rng = np.random.default_rng(7)
    v = {
        "empty": np.array([], dtype=np.int64),
        "single": np.array([-12345], dtype=np.int64),
        "all_distinct": rng.permutation(5000).astype(np.int64) - 2500,
        "negative": -rng.zipf(1.2, 4000).astype(np.int64),
        "int32_extremes": np.array([-(2**31), 2**31 - 1] * 50 + [0], dtype=np.int64),
        # > 2^16 distinct ranks: varints of three bytes
        "over_2^16_distinct": rng.permutation(np.repeat(np.arange(70_000, dtype=np.int64), 2)),
        # range > 2^20: the np.unique branch
        "range_over_2^20": rng.choice(np.array([-(2**30), 3, 2**21, 2**30], dtype=np.int64), 3000),
    }[name]
    enc = rankdict_encode(v)
    np.testing.assert_array_equal(rankdict_decode(enc, len(v)), v)
    if len(v) == 0:
        assert enc == b""


@settings(max_examples=50, deadline=None)
@given(st.binary(min_size=0, max_size=3000))
def test_byte_rle_roundtrip(data):
    v = np.frombuffer(data, dtype=np.uint8)
    np.testing.assert_array_equal(byte_rle_decode(byte_rle_encode(v), len(v)), v)


@settings(max_examples=50, deadline=None)
@given(st.binary(min_size=0, max_size=5000), st.integers(min_value=1, max_value=3))
def test_fsst_roundtrip(data, rounds):
    assert fsst_decode(fsst_encode(data, rounds=rounds)) == data


@settings(max_examples=30, deadline=None)
@given(st.binary(min_size=0, max_size=20000))
def test_blockcomp_roundtrip(data):
    assert block_decompress(block_compress(data)) == data


def test_bitunpack_small_counts_match_array_path():
    """Every width 1..64 and count 1..64: the big-int path for short runs
    returns what the array kernels return for the same bits (read as the
    prefix of a longer unpack), and a buffer one byte short still raises."""
    rng = np.random.default_rng(17)
    for width in range(1, 65):
        for count in range(1, 65):
            v = rng.integers(0, 2**64 - 1, size=count, dtype=np.uint64, endpoint=True)
            v >>= np.uint64(64 - width)
            buf = bitpack(v, width)
            got = bitunpack(buf, width, count)
            assert got.dtype == np.uint64
            np.testing.assert_array_equal(got, v)
            padded = buf + bytes(9 * width)  # room for 72 values
            np.testing.assert_array_equal(got, bitunpack(padded, width, 72)[:count])
            np.testing.assert_array_equal(
                bitunpack(np.frombuffer(buf, dtype=np.uint8), width, count), v)
            with pytest.raises(ValueError, match="truncated"):
                bitunpack(buf[:-1], width, count)


def _bitunpack_reference(buf: bytes, width: int, count: int) -> list[int]:
    """The big-endian bit string of ``buf`` cut into ``width``-bit values."""
    bits = bin(int.from_bytes(buf, "big") | (1 << 8 * len(buf)))[3:]
    return [int(bits[i * width : (i + 1) * width], 2) for i in range(count)]


@pytest.mark.parametrize("width", range(1, 57))
def test_bitunpack_windows_match_bigint_reference(width):
    """The 64-bit-window path (widths up to 56, counts > 64) on buffers
    exactly ``packed_size`` long — so the last lane's 8-byte window lies
    past the caller's bytes — matches a pure-Python reference, for bytes
    objects and for a view whose neighbouring bytes are all ones; a buffer
    one byte short raises ValueError."""
    rng = np.random.default_rng(width)
    for count in (65, 71, 72, 512, 4097, 21000):
        v = rng.integers(0, 1 << width, size=count, dtype=np.uint64)
        v[:9] = (1 << width) - 1  # every bit set in the first group
        buf = bitpack(v, width)
        assert len(buf) == packed_size(count, width)
        want = _bitunpack_reference(buf, width, count)
        assert want == v.tolist()
        got = bitunpack(buf, width, count)
        assert got.dtype == np.uint64 and got.tolist() == want
        fenced = np.full(len(buf) + 16, 0xFF, dtype=np.uint8)
        fenced[8 : 8 + len(buf)] = np.frombuffer(buf, dtype=np.uint8)
        fenced.flags.writeable = False
        assert bitunpack(fenced[8 : 8 + len(buf)], width, count).tolist() == want
        with pytest.raises(ValueError, match="truncated"):
            bitunpack(buf[:-1], width, count)


@settings(max_examples=150, deadline=None)
@given(st.sampled_from(["tiny", "byte-aligned", "generic"]), st.data())
def test_bitpack_rejects_values_wider_than_width(regime, data):
    """Every size regime packs in-range values exactly and raises on a
    single value one bit (or more) wider than ``width``."""
    if regime == "tiny":
        n, width = data.draw(st.integers(1, 32)), data.draw(st.integers(1, 63))
    elif regime == "byte-aligned":
        n, width = data.draw(st.integers(33, 600)), data.draw(st.sampled_from([8, 16, 32]))
    else:
        n = data.draw(st.integers(33, 600))
        width = data.draw(st.integers(1, 63).filter(lambda w: w not in (8, 16, 32)))
    rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1)))
    v = rng.integers(0, 1 << width, size=n, dtype=np.uint64)
    np.testing.assert_array_equal(bitunpack(bitpack(v, width), width, n), v)
    v[data.draw(st.integers(0, n - 1))] = data.draw(st.integers(1 << width, 2**64 - 1))
    with pytest.raises(ValueError, match="does not fit"):
        bitpack(v, width)
