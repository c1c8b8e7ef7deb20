"""Property-based round-trip tests (hypothesis) for every codec kernel.

Complements the seeded-regime tests: hypothesis explores adversarial
shapes (tiny arrays, extreme values, pathological run structures) the
fixed regimes may miss.
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from orc_rs_spark.kernels.bitpack import bitpack, bitunpack
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
    raw_decode,
    raw_encode,
)
from orc_rs_spark.kernels.rlev1 import rlev1_decode, rlev1_encode
from orc_rs_spark.kernels.rlev2 import rlev2_decode, rlev2_encode, rlev2_encode_runs
from orc_rs_spark.kernels.varint import varint_decode, varint_encode
from orc_rs_spark.kernels.zigzag import zigzag_decode, zigzag_encode

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
        (raw_encode, raw_decode),
        (rlev1_encode, rlev1_decode),
    ):
        np.testing.assert_array_equal(dec(enc(v), len(v)), v)


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
