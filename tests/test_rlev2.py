"""RLEv2 wire-vector and round-trip tests.

Known-answer vectors are the ORC spec examples quoted in FIXTURES.md F3 and
the reference's doc comments (/root/reference/src/encoding/rlev2.rs:26-58);
regimes follow FIXTURES.md F2.
"""

import hashlib
import zlib

import numpy as np
import pytest

from orc_rs_spark.kernels.rlev2 import (
    MAX_RUN,
    rlev2_decode,
    rlev2_encode,
    rlev2_encode_groups,
    rlev2_encode_runs,
)

RNG = np.random.default_rng(42)


# ---------------------------------------------------------- known vectors


def test_short_repeat_spec_example():
    # [0x0a, 0x27, 0x10] -> five 10000s (unsigned)
    out = rlev2_decode(bytes([0x0A, 0x27, 0x10]), 5, signed=False)
    assert out.tolist() == [10000] * 5


def test_direct_spec_example():
    # [0x5e,0x03,0x5c,0xa1,0xab,0x1e,0xde,0xad,0xbe,0xef] -> [23713,43806,57005,48879]
    buf = bytes([0x5E, 0x03, 0x5C, 0xA1, 0xAB, 0x1E, 0xDE, 0xAD, 0xBE, 0xEF])
    out = rlev2_decode(buf, 4, signed=False)
    assert out.tolist() == [23713, 43806, 57005, 48879]


def test_delta_spec_example_fixed():
    # [0xc0,0x13,0x00,0x02] -> 0..19 (fixed delta 1, signed zigzag varints)
    out = rlev2_decode(bytes([0xC0, 0x13, 0x00, 0x02]), 20, signed=True)
    assert out.tolist() == list(range(20))


def test_delta_spec_example_primes():
    # unsigned [2,3,5,7,11,13,17,19,23,29] -> [0xc6,0x09,0x02,0x02,0x22,0x42,0x42,0x46]
    buf = bytes([0xC6, 0x09, 0x02, 0x02, 0x22, 0x42, 0x42, 0x46])
    out = rlev2_decode(buf, 10, signed=False)
    assert out.tolist() == [2, 3, 5, 7, 11, 13, 17, 19, 23, 29]


def test_delta_negative_sequence():
    # FIXTURES.md: [0xce,0x04,0xe7,0x07,0xc8,0x01,0x32,0x19,0x0f] -> [-500,-400,-350,-325,-310]
    buf = bytes([0xCE, 0x04, 0xE7, 0x07, 0xC8, 0x01, 0x32, 0x19, 0x0F])
    out = rlev2_decode(buf, 5, signed=True)
    assert out.tolist() == [-500, -400, -350, -325, -310]


def test_fixed_delta_signed_ramp():
    # [0xc0,0x40,0x3f,0x02] -> -32..32 (65 values, base -32 zigzag=0x3f, delta 1)
    out = rlev2_decode(bytes([0xC0, 0x40, 0x3F, 0x02]), 65, signed=True)
    assert out.tolist() == list(range(-32, 33))


# ---------------------------------------------------------- round trips


REGIMES = {  # name -> (rng, n) -> int64 array
    "const_runs": lambda rng, n: np.repeat(
        rng.integers(0, 50, size=max(1, n // 40)), rng.integers(3, 100, size=max(1, n // 40))
    )[:n].astype(np.int64),
    "monotone_inc": lambda rng, n: np.cumsum(rng.integers(0, 7, size=n)).astype(np.int64),
    "monotone_dec": lambda rng, n: (-np.cumsum(rng.integers(1, 7, size=n))).astype(np.int64),
    "fixed_ramp": lambda rng, n: (100 + 3 * np.arange(n)).astype(np.int64),
    "fixed_ramp_desc": lambda rng, n: (50 - 7 * np.arange(n)).astype(np.int64),
    "uniform_4bit": lambda rng, n: rng.integers(0, 16, size=n).astype(np.int64),
    "uniform_16bit": lambda rng, n: rng.integers(0, 2**16, size=n).astype(np.int64),
    "uniform_full": lambda rng, n: rng.integers(-(2**31), 2**31, size=n).astype(np.int64),
    "clustered_offset": lambda rng, n: (10**9 + rng.integers(0, 256, size=n)).astype(np.int64),
    "outlier_spiked": lambda rng, n: _spiked(n, rng),
    "sparse_outliers": lambda rng, n: _sparse_outliers(n, rng),
    "negatives": lambda rng, n: rng.integers(-100, 100, size=n).astype(np.int64),
    "alternating": lambda rng, n: np.where(np.arange(n) % 2 == 0, 2**30, -(2**30)).astype(np.int64),
}


def _spiked(n, rng=RNG):
    v = (5000 + rng.integers(0, 64, size=n)).astype(np.int64)
    k = max(1, n // 50)
    idx = rng.choice(n, size=k, replace=False)
    v[idx] = rng.integers(2**40, 2**50, size=k)
    return v


def _sparse_outliers(n, rng):
    """8-bit values with an outlier every 200-700 values: patch gaps past
    255 take filler entries."""
    v = (-300 + rng.integers(0, 256, size=n)).astype(np.int64)
    idx = np.cumsum(rng.integers(200, 700, size=n // 200 + 1))
    idx = idx[idx < n]
    v[idx] = rng.integers(2**20, 2**30, size=len(idx))
    return v


@pytest.mark.parametrize("regime", sorted(REGIMES))
@pytest.mark.parametrize("n", [1, 2, 3, 7, 100, 511, 512, 513, 5000])
def test_roundtrip_frame_encoder(regime, n):
    v = REGIMES[regime](RNG, n)
    buf = rlev2_encode(v, signed=True)
    np.testing.assert_array_equal(rlev2_decode(buf, len(v), signed=True), v)


@pytest.mark.parametrize("regime", sorted(REGIMES))
def test_roundtrip_run_encoder(regime):
    v = REGIMES[regime](RNG, 4000)
    buf = rlev2_encode_runs(v, signed=True)
    np.testing.assert_array_equal(rlev2_decode(buf, len(v), signed=True), v)


# sha1 of each regime's 5,000-value stream as (signed, unsigned, row-aligned
# frames, strict ORC, run-aligned frames), taken before the frame pass
# priced patched-base for all frames at once. The ramps moved when
# constant-step frames became fixed-delta runs.
ENCODER_PINS = {
    "alternating": (
        "f4648ad948e0d5c1a935511c9d4824a2ff1516c9",
        "1e69bfd3d2b22d608e2fc7d9da19685e1fdb73d2",
        "0fedce335ff736b142b87f1c604a20c3c6cc180e",
        "f4648ad948e0d5c1a935511c9d4824a2ff1516c9",
        "f4648ad948e0d5c1a935511c9d4824a2ff1516c9",
    ),
    "clustered_offset": (
        "5f48495873c030b8be898e0c659fa53950d02ae4",
        "5f48495873c030b8be898e0c659fa53950d02ae4",
        "563cdad6aec332c26b10a04b3ecf4c0bb8f35eed",
        "a49c09c24ae332c3940026c548b73e5a91db170c",
        "5f48495873c030b8be898e0c659fa53950d02ae4",
    ),
    "const_runs": (
        "e734934ae6454bd9440a6d856f187153df84da6c",
        "4d7daeabe653039aa39879ea0a0b2cec2a0823b4",
        "0cfedba909d92e1f2d5f692b302101ad273f88cb",
        "67dca23b5a0ccc09dd8c16100cb4fe045c1d4149",
        "b7a99fce183f1d69c9bef3ea376565d1774401d6",
    ),
    "fixed_ramp": (
        "b93215e94ca6ad1ac06b7e758aca75e1630f06c3",
        "85eed68f7b10307183e3eafeba728a3dd4765da2",
        "3c11683ac99d6fdd574203e7ec0faff81a00be9b",
        "b93215e94ca6ad1ac06b7e758aca75e1630f06c3",
        "b93215e94ca6ad1ac06b7e758aca75e1630f06c3",
    ),
    "fixed_ramp_desc": (
        "2875b5648ce696450d1ecafb29e448a55ff63c52",
        "de47f2a7c5cd8a01fd9737f4245299aec88cb13d",
        "51c1280e8df7342bab9d2bab516bc69ea87f25fb",
        "2875b5648ce696450d1ecafb29e448a55ff63c52",
        "2875b5648ce696450d1ecafb29e448a55ff63c52",
    ),
    "monotone_dec": (
        "fb839127e9a4dbbc3ed26417a21e7fb06dc63afe",
        "a5983b165bf793eb27bb5a62f84c2c1a86ee047d",
        "fd4ed6d8d83eb776e1930538b3b87a744db4e3f7",
        "fb839127e9a4dbbc3ed26417a21e7fb06dc63afe",
        "fb839127e9a4dbbc3ed26417a21e7fb06dc63afe",
    ),
    "monotone_inc": (
        "d3f4a2d2133b7b950a6b1b7faab7db21d5c33f29",
        "beb6f9e4e4590701d2ae55e03418b428f224ed49",
        "922d21f1185ada6f1fbd0d57ed85025b40458c1b",
        "d3f4a2d2133b7b950a6b1b7faab7db21d5c33f29",
        "c95c51e57ce822d80199c80bf665dc8203f275e8",
    ),
    "negatives": (
        "d97953d4b293d5003b7c812f3d8ae54b3af028ce",
        "14a4f7e4bc8562dad913b80e2e03c51b486e76c4",
        "d939e77a73b18e9d0047f74410faa92a2b59aa29",
        "d97953d4b293d5003b7c812f3d8ae54b3af028ce",
        "d97953d4b293d5003b7c812f3d8ae54b3af028ce",
    ),
    "outlier_spiked": (
        "3961cb743bd71a0d6aa27f1247d5510c7bd02717",
        "3961cb743bd71a0d6aa27f1247d5510c7bd02717",
        "8219cd3dffff9b9ef29502e7fd517d0e155a9efb",
        "3961cb743bd71a0d6aa27f1247d5510c7bd02717",
        "2f97871ee0cbaf42204314e6cf8f4339808162d4",
    ),
    "sparse_outliers": (
        "22cc53a346dad051093b08d73d8c8e700a76c987",
        "22cc53a346dad051093b08d73d8c8e700a76c987",
        "924f34a0619dc919bba28524f2d601c2123802f9",
        "22cc53a346dad051093b08d73d8c8e700a76c987",
        "22cc53a346dad051093b08d73d8c8e700a76c987",
    ),
    "uniform_16bit": (
        "5a9794fdea242bdf7df59435a146c7dd55dc56eb",
        "f87177150c2b1a1b00ef239e3f923708d8aa31cf",
        "f2e9e91882456baf30f7da0c84110d05be629f7b",
        "c4eb4488680c2b33a1171aba1ae97f56657770cc",
        "5a9794fdea242bdf7df59435a146c7dd55dc56eb",
    ),
    "uniform_4bit": (
        "5e10534cd775310a189e8ec9f7894823aecb4152",
        "e324f06fffff5691b6a4abf0ad7e7f39d2a8c3be",
        "021dcbdc3f5c5d86d2590728d6d13f8da67b1bc1",
        "5f0b16116d19b2d9a3903c671160e7a621f434dd",
        "8043f49db72b9242fa7b170836a15c6d4a1d9fb4",
    ),
    "uniform_full": (
        "5aaa77f2d8207c1a5b8600f2a09a098a50e833aa",
        "08ac598fc19cc93776fe5c8c854a5b9e3e5abe5b",
        "7dc6c39d16598fe7b4651bc3a9f52258d8220322",
        "5aaa77f2d8207c1a5b8600f2a09a098a50e833aa",
        "5aaa77f2d8207c1a5b8600f2a09a098a50e833aa",
    ),
}


def _pin_input(regime):
    rng = np.random.default_rng(zlib.crc32(regime.encode()))
    v = REGIMES[regime](rng, 5000)
    rows = np.cumsum(rng.integers(1, 900, size=40))  # some rows span > MAX_RUN
    return v, rows[rows < len(v)]


def _pin_outputs(regime):
    v, rows = _pin_input(regime)
    return v, (
        rlev2_encode(v),
        rlev2_encode(v, signed=False),
        rlev2_encode(v, boundaries=rows),
        rlev2_encode(v, strict_orc=True),
        rlev2_encode_runs(v),
    )


@pytest.mark.parametrize("regime", sorted(REGIMES))
def test_encoder_bytes_pinned(regime):
    v, outs = _pin_outputs(regime)
    for signed, buf in zip((True, False, True, True, True), outs):
        np.testing.assert_array_equal(rlev2_decode(buf, len(v), signed=signed), v)
    assert tuple(hashlib.sha1(b).hexdigest() for b in outs) == ENCODER_PINS[regime]


def test_roundtrip_unsigned():
    v = RNG.integers(0, 2**62, size=3000).astype(np.int64)
    buf = rlev2_encode(v, signed=False)
    np.testing.assert_array_equal(rlev2_decode(buf, len(v), signed=False), v)


@pytest.mark.parametrize("n", [100, 1000, 40000])
def test_roundtrip_unsigned_descending_wraps(n):
    """Negative int64s in unsigned mode are their uint64 bit patterns: a
    descending ramp becomes delta runs whose base exceeds int64, and it
    decodes back wrapped, as the short-repeat arm always did."""
    v = -3 * np.arange(1, n + 1, dtype=np.int64)
    buf = rlev2_encode(v, signed=False)
    np.testing.assert_array_equal(rlev2_decode(buf, n, signed=False), v)


def test_empty():
    assert rlev2_encode(np.array([], dtype=np.int64)) == b""
    assert rlev2_decode(b"", 0).tolist() == []


def test_extremes():
    v = np.array([0, 2**31 - 1, -(2**31), 1, -1] * 10, dtype=np.int64)
    buf = rlev2_encode(v)
    np.testing.assert_array_equal(rlev2_decode(buf, len(v)), v)


def test_int64_extremes():
    v = np.array([2**63 - 1, -(2**63), 0, -1, 1], dtype=np.int64)
    buf = rlev2_encode(v)
    np.testing.assert_array_equal(rlev2_decode(buf, len(v)), v)


def test_long_constant_run():
    v = np.full(10_000, 42, dtype=np.int64)
    buf = rlev2_encode_runs(v)
    assert len(buf) < 100  # ~20 fixed-delta blocks of 512
    np.testing.assert_array_equal(rlev2_decode(buf, len(v)), v)


@pytest.mark.parametrize("signed", [True, False])
@pytest.mark.parametrize("kind", ["arange", "descending"])
def test_constant_step_is_fixed_delta(kind, signed):
    """A frame whose deltas all equal the first is one fixed-delta run
    (delta width 0: header, base and step), not packed deltas; a frame with
    one step off keeps its packed deltas."""
    from orc_rs_spark.kernels.rlev2 import rlev2_run_modes

    v = np.arange(512) if kind == "arange" else 1000 - 3 * np.arange(512)
    buf = rlev2_encode(v, signed=signed)
    assert len(buf) <= 5
    assert buf[0] >> 6 == 3 and (buf[0] >> 1) & 0x1F == 0  # delta, width 0
    assert rlev2_run_modes(buf, len(v)) == {
        "short_repeat": 0, "direct": 0, "patched": 0, "delta": 1}
    np.testing.assert_array_equal(rlev2_decode(buf, len(v), signed=signed), v)
    v[300] += 1 if kind == "arange" else -1  # still monotonic
    buf = rlev2_encode(v, signed=signed)
    assert buf[0] >> 6 == 3 and (buf[0] >> 1) & 0x1F != 0
    np.testing.assert_array_equal(rlev2_decode(buf, len(v), signed=signed), v)


def test_compression_wins():
    """Sanity: each regime's encoded size beats raw 8-byte ints where expected."""
    n = 8192
    raw = n * 8
    for regime in ("const_runs", "monotone_inc", "fixed_ramp", "uniform_4bit", "clustered_offset"):
        v = REGIMES[regime](RNG, n)
        assert len(rlev2_encode(v)) < raw / 3, regime


def test_patched_base_beats_direct_on_spiked():
    v = _spiked(8192)
    enc = rlev2_encode(v)
    # direct would need 56-64 bits/value due to spikes; patched should get near 8
    assert len(enc) < 8192 * 3
    np.testing.assert_array_equal(rlev2_decode(enc, len(v)), v)


def test_frame_boundary_splits():
    """Decode equality must hold regardless of how runs straddle frames."""
    for n in (MAX_RUN - 1, MAX_RUN, MAX_RUN + 1, 2 * MAX_RUN + 3):
        v = np.arange(n, dtype=np.int64) * 3 - 1000
        np.testing.assert_array_equal(rlev2_decode(rlev2_encode(v), n), v)


def test_prefix_decode_across_merged_direct_frames():
    """Consecutive 512-value direct frames of one width decode as one run;
    a width change ends the run, and a later run of the first width does
    not merge with the earlier one. Every prefix count, cut inside or at
    the end of a merged frame, decodes the stream's first values; frames
    whose length is not a multiple of 8 do not merge."""
    rng = np.random.default_rng(9)
    v = np.concatenate([rng.integers(0, 1 << 18, 2048), rng.integers(0, 32, 1024),
                        rng.integers(0, 1 << 18, 1024)]).astype(np.int64)
    buf = rlev2_encode(v, signed=False)
    assert buf[0] >> 6 == 1  # direct
    for count in (1, 511, 512, 513, 1500, 2047, 2048, 2049, 3072, 3100, 4095, 4096):
        np.testing.assert_array_equal(rlev2_decode(buf, count, signed=False), v[:count])
    # consecutive frames of one width and a length that is not a multiple
    # of 8 (two streams back to back) each keep their own padding
    a, b = rng.integers(0, 1 << 17, (2, 100))  # 100 x 17 bits ends mid-byte
    two = rlev2_encode(a, signed=False) + rlev2_encode(b, signed=False)
    np.testing.assert_array_equal(rlev2_decode(two, 200, signed=False), np.concatenate([a, b]))


def test_run_modes_truncated_raises_valueerror():
    """A stream cut mid-header (or mid-payload) must raise the documented
    ValueError from rlev2_run_modes, never IndexError (round-6 ADVICE)."""
    import pytest

    from orc_rs_spark.kernels.rlev2 import rlev2_run_modes

    v = np.concatenate([
        np.arange(600, dtype=np.int64),          # delta
        np.full(400, 7, dtype=np.int64),         # short repeat
        np.array([5, 900, 3, 1 << 40] * 200, dtype=np.int64),  # patched/direct
    ])
    enc = rlev2_encode(v)
    full = rlev2_run_modes(enc, len(v))
    assert sum(full.values()) >= 3
    for cut in (0, 1, 2, 3, len(enc) // 3, len(enc) - 1):
        with pytest.raises(ValueError, match="truncated"):
            rlev2_run_modes(enc[:cut], len(v))


def test_patched_header_width_overflow_is_valueerror():
    """A crafted patched-base header with pw=64 (encoded 31) and pgw=8
    makes pgw+pw=72, past the 32-entry direct width table: both the
    decoder and rlev2_run_modes must raise the documented ValueError,
    never IndexError (round-6 ADVICE)."""
    import pytest

    from orc_rs_spark.kernels.rlev2 import rlev2_decode, rlev2_run_modes

    # tag=2 (patched), encoded width 31 -> 64 bits, n-1=7 -> n=8
    h0 = (2 << 6) | (31 << 1) | 0
    h1 = 7
    h2 = (0 << 5) | 31          # bw=1, pw encoded 31 -> 64
    h3 = (7 << 5) | 1           # pgw=8, pll=1
    buf = bytes([h0, h1, h2, h3, 0]) + b"\x00" * 80
    with pytest.raises(ValueError, match="patched-base header"):
        rlev2_run_modes(buf, 8)
    with pytest.raises(ValueError, match="patched-base header"):
        rlev2_decode(buf, 8, signed=True)


def _patched_frame():
    """One 512-value unsigned patched-base frame: 8-bit values with three
    2^30 outliers."""
    v = np.random.default_rng(1).integers(0, 256, 512)
    v[[100, 300, 450]] = 2**30
    buf = rlev2_encode(v, signed=False)
    assert buf[0] >> 6 == 2 and buf[3] & 0x1F == 3  # patched base, 3 patches
    return buf, v


def test_patched_tie_takes_for_width():
    """A frame that prices the same at its q90 width and at its FoR width
    takes the FoR width: same size, and no patch list to apply on decode.

    24 values over a base of -2^62 (an 8-byte base; direct needs 64 bits,
    194 B): 4-bit offsets but for three 5-bit ones at 0, 2 and 20. At q90
    width 4 that is 12 B of data plus three patches (gap <= 18: 5 bits, patch
    1 bit -> 6-bit entries, 3 B); at FoR width 5 it is 15 B: both 27 B.
    ``strict_orc`` rules out the empty patch list, so it takes the q90 plan
    at the same size."""
    from orc_rs_spark.kernels.bitpack import decode_direct_width

    adj = np.full(24, 9)
    adj[[0, 2, 20]] = [17, 30, 16]
    adj[5] = 0
    v = (-(1 << 62) + adj).astype(np.int64)
    for strict, width, pll in ((False, 5, 0), (True, 4, 3)):
        buf = rlev2_encode(v, strict_orc=strict)
        assert len(buf) == 4 + 8 + 15
        assert buf[0] >> 6 == 2  # patched base
        assert decode_direct_width((buf[0] >> 1) & 0x1F) == width
        assert buf[3] & 0x1F == pll
        np.testing.assert_array_equal(rlev2_decode(buf, len(v)), v)


def _patched_plan_reference(f, strict):
    """One frame's patched-base plan by the rules, value by value (the loop
    the bulk pricing replaced): (DATA width, patch width, gap width, list
    length, base bytes) of the smaller legal plan, the FoR width on a tie,
    or None when it is not smaller than the direct run."""
    from orc_rs_spark.kernels.bitpack import closest_direct_width, packed_size

    n, base = len(f), min(f)
    adj = [x - base for x in f]
    bits = sorted(a.bit_length() for a in adj)
    wfc = closest_direct_width(bits[-1])
    w90 = closest_direct_width(bits[(9 * (n - 1)) // 10]) if wfc >= 4 else wfc
    zigzag_bits = max((2 * x if x >= 0 else -2 * x - 1).bit_length() for x in f)
    direct = 2 + packed_size(n, closest_direct_width(zigzag_bits))
    bw = min(8, (abs(base).bit_length() + 8) // 8)
    if 13 + packed_size(n, w90) + (31 * 5 if w90 < wfc else 0) >= direct:
        return None
    plans = []  # (size, 0 for FoR / 1 for q90, plan)
    if not strict and wfc < 64:
        plans.append((4 + bw + packed_size(n, wfc), 0, (wfc, 1, 1, 0, bw)))
    if w90 < wfc:
        entries, prev = [], 0  # (gap, patch); the first gap is from the frame start
        for i, a in enumerate(adj):
            if a >> w90:
                gap, prev = i - prev, i
                while gap > 255:
                    entries.append((255, 0))
                    gap -= 255
                entries.append((gap, a >> w90))
        pw = closest_direct_width(max(p for _, p in entries).bit_length())
        pgw = max(g for g, _ in entries).bit_length() or 1
        if len(entries) <= 31 and w90 + pw <= 64:
            size = 4 + bw + packed_size(n, w90) + packed_size(
                len(entries), closest_direct_width(pgw + pw))
            plans.append((size, 1, (w90, pw, pgw, len(entries), bw)))
    best = min(plans, default=None)
    return None if best is None or best[0] >= direct else best[2]


@pytest.mark.parametrize("strict", [False, True])
def test_patched_plans_match_reference_loop(strict):
    """The whole-array pricing of every frame equals the per-frame loop."""
    from orc_rs_spark.kernels.bitpack import DIRECT_WIDTH_TABLE, bit_lengths
    from orc_rs_spark.kernels.rlev2 import _patched_plans, _table_width
    from orc_rs_spark.kernels.zigzag import zigzag_encode

    rng = np.random.default_rng(17)
    frames = []
    for _ in range(300):
        n = int(rng.choice([8, 9, 24, 100, 300, 511, 512]))
        f = rng.integers(0, 1 << int(rng.integers(1, 20)), n)
        f[:2] = [5, 0]  # never monotonic
        k = int(rng.integers(0, 40))
        f[rng.integers(0, n, k)] = rng.integers(0, 1 << int(rng.integers(1, 62)), k)
        frames.append(f + int(rng.choice([0, -(1 << 62), 1 << 40, -77])))
    f = rng.integers(0, 16, 512)  # 31 patches, the last after a filler: 32 entries
    f[:2] = [5, 0]
    f[list(range(2, 32)) + [300]] = 1 << 40
    frames.append(f)
    v = np.concatenate(frames).astype(np.int64)
    seg_lens = np.array([len(f) for f in frames])
    starts = np.cumsum(seg_lens) - seg_lens
    mins = np.minimum.reduceat(v, starts)
    zz = np.maximum(zigzag_encode(mins), zigzag_encode(np.maximum.reduceat(v, starts)))
    cost_direct = 2 + (seg_lens * _table_width(bit_lengths(zz)) + 7) // 8
    use, w, h2, h3 = _patched_plans(
        v, starts, seg_lens, mins, np.ones(len(frames), dtype=bool), cost_direct, strict)[:4]
    got = [
        (int(w[i]), int(DIRECT_WIDTH_TABLE[h2[i] & 0x1F]), (h3[i] >> 5) + 1, h3[i] & 0x1F,
         (h2[i] >> 5) + 1) if use[i] else None
        for i in range(len(frames))
    ]
    want = [_patched_plan_reference(f.tolist(), strict) for f in frames]
    assert got == want
    assert sum(p is not None for p in want) > 100
    assert any(p is not None and p[3] == 0 for p in want) != strict  # FoR plans
    assert any(p is not None and p[3] > 0 for p in want)  # q90 plans


def test_patched_bit_flips_decode_or_raise_valueerror():
    """Every single-bit flip of a patched-base frame either decodes or
    raises ValueError; a patch index past the run (e.g. a flipped patch
    width) names patched-base, never IndexError."""
    buf, v = _patched_frame()
    np.testing.assert_array_equal(rlev2_decode(buf, 512, signed=False), v)
    for i in range(len(buf) * 8):
        flipped = bytearray(buf)
        flipped[i // 8] ^= 1 << (i % 8)
        try:
            rlev2_decode(bytes(flipped), 512, signed=False)
        except ValueError:
            pass
    flipped = bytearray(buf)
    flipped[2] ^= 1  # patch width 23 -> 22 bits: the gaps misread
    with pytest.raises(ValueError, match="patched-base"):
        rlev2_decode(bytes(flipped), 512, signed=False)


def test_run_modes_tally_sums_over_parts():
    """A stream built of known parts tallies, per sub-mode, the sum of its
    parts' run headers (each header of a merged direct run counted), and
    decodes to the concatenated values."""
    from orc_rs_spark.kernels.rlev2 import _walk, rlev2_run_modes

    wide = np.random.default_rng(5).integers(0, 1 << 18, 4 * MAX_RUN)
    wide_buf = rlev2_encode(wide, signed=False)
    # four 512 x 18-bit direct frames, back to back
    assert len(wide_buf) == 4 * (2 + MAX_RUN * 18 // 8)
    assert all(wide_buf[f * (2 + MAX_RUN * 18 // 8)] >> 6 == 1 for f in range(4))
    patched_buf, patched_v = _patched_frame()
    parts = [  # (stream, values, {mode: run headers})
        (bytes([0x0A, 0x27, 0x10]), [10000] * 5, {"short_repeat": 1}),
        (bytes([0x5E, 0x03, 0x5C, 0xA1, 0xAB, 0x1E, 0xDE, 0xAD, 0xBE, 0xEF]),
         [23713, 43806, 57005, 48879], {"direct": 1}),
        (bytes([0xC6, 0x09, 0x02, 0x02, 0x22, 0x42, 0x42, 0x46]),
         [2, 3, 5, 7, 11, 13, 17, 19, 23, 29], {"delta": 1}),
        (patched_buf, patched_v, {"patched": 1}),
        (wide_buf, wide, {"direct": 4}),
        (bytes([0x0A, 0x27, 0x10]), [10000] * 5, {"short_repeat": 1}),
    ]
    buf = b"".join(p[0] for p in parts)
    v = np.concatenate([np.asarray(p[1], dtype=np.int64) for p in parts])
    want = {m: sum(p[2].get(m, 0) for p in parts)
            for m in ("short_repeat", "direct", "patched", "delta")}
    assert rlev2_run_modes(buf, len(v)) == want
    np.testing.assert_array_equal(rlev2_decode(buf, len(v), signed=False), v)
    # the four wide frames are one strided run of the decoder
    direct = _walk(buf, len(v), False, np.empty(len(v), dtype=np.int64))[0]
    assert [r[2] for r in direct[18]] == [4]


# ------------------------------------------------- run-aligned frames


def _max_run(v):
    """Length of the longest run of equal neighbours in ``v``."""
    starts = np.concatenate(([0], np.flatnonzero(np.diff(v)) + 1, [len(v)]))
    return int(np.diff(starts).max())


@pytest.mark.parametrize("kind", ["spiked", "monotone_noise"])
def test_run_encoder_is_frame_encoder_without_runs(kind):
    """With no repeat run of >= 3 values, the run-aligned spans are the 512
    grid, so both encoders must write the same bytes."""
    if kind == "spiked":
        # per 512-value frame: 8-bit values, a 20-bit tier too large to
        # patch at 8 bits, and a few 40-bit outliers
        rng = np.random.default_rng(11)
        n = 8 * MAX_RUN
        v = rng.integers(0, 256, n)
        for f in range(0, n, MAX_RUN):
            pos = f + rng.choice(MAX_RUN, 46, replace=False)
            v[pos[:36]] = rng.integers(2**19, 2**20, 36)
            v[pos[36:]] = rng.integers(2**39, 2**40, 10)
        # alternating parity: no two neighbours are equal
        v = 2 * v + np.arange(n) % 2
    else:
        # strictly increasing, random steps; the last frame has 7 values
        v = np.cumsum(np.random.default_rng(12).integers(1, 50, 8 * MAX_RUN + 7))
    v = v.astype(np.int64)
    assert _max_run(v) == 1
    assert rlev2_encode_runs(v) == rlev2_encode(v)


def test_run_encoder_gives_each_repeat_run_its_own_run():
    """Every repeat run of >= 3 values is cut every MAX_RUN values from its
    start; each piece of 3-10 values is one short-repeat run, each longer
    piece one fixed-delta run. Between the repeat runs sit stretches that
    alternate low and high values (no equal neighbours, never monotone),
    which give neither mode."""
    from orc_rs_spark.kernels.rlev2 import rlev2_run_modes

    rng = np.random.default_rng(12)
    run_lens = [3, 10, 11, 40, 512, 513, 514, 515, 522, 1030, 7, 2000]
    parts = []
    for j, ln in enumerate(run_lens):
        m = int(rng.integers(1, 700))
        low, high = rng.integers(0, 50, m), rng.integers(50, 100, m)
        parts.append(np.where(np.arange(m) % 2 == 0, low, high))
        parts.append(np.full(ln, 5000 + j))
    v = np.concatenate(parts).astype(np.int64)
    pieces = [p for ln in run_lens for p in [MAX_RUN] * (ln // MAX_RUN) + [ln % MAX_RUN] if p]
    buf = rlev2_encode_runs(v)
    modes = rlev2_run_modes(buf, len(v))
    assert modes["short_repeat"] == sum(3 <= p <= 10 for p in pieces)
    assert modes["delta"] == sum(p > 10 for p in pieces)
    np.testing.assert_array_equal(rlev2_decode(buf, len(v)), v)


def _run_span_starts(v):
    """Reference loop for the run-aligned frame starts: each repeat run of
    >= 3 values, then each maximal stretch of shorter runs, is cut every
    MAX_RUN values from its own start."""
    n, s, starts = len(v), 0, []
    while s < n:
        e = s
        while e < n and v[e] == v[s]:
            e += 1
        if e - s < 3:  # extend over the stretch of short runs
            e = s
            while e < n:
                r = e
                while r < n and v[r] == v[e]:
                    r += 1
                if r - e >= 3:
                    break
                e = r
        starts += range(s, e, MAX_RUN)
        s = e
    return np.array(starts, dtype=np.int64)


@pytest.mark.parametrize("seed", range(6))
def test_run_spans_match_reference_loop(seed):
    from orc_rs_spark.kernels.rlev2 import _encode_frames

    rng = np.random.default_rng(seed)
    k = 400
    v = np.repeat(rng.integers(0, 6, k), rng.choice([1, 1, 2, 3, 9, 11, 600], k)).astype(np.int64)
    starts = _run_span_starts(v)
    want = _encode_frames(v, starts, np.append(starts[1:], len(v)), True, False)
    assert rlev2_encode_runs(v) == want


# ------------------------------------------------------ truncated streams


TRUNCATION_INPUTS = {
    "constant": np.full(600, -7, dtype=np.int64),
    "monotone": np.cumsum(np.random.default_rng(13).integers(0, 300, 700)).astype(np.int64),
    "spiked": _spiked(700),
    "uniform_wide": np.random.default_rng(14).integers(-(2**40), 2**40, 300).astype(np.int64),
    "mixed_runs": np.repeat(
        np.random.default_rng(15).integers(0, 2**20, 200),
        np.random.default_rng(16).integers(1, 40, 200),
    ).astype(np.int64),
    "short_repeat": np.full(5, 300, dtype=np.int64),
    # one direct run each: no proper prefix holds a complete run
    "three_values": np.array([0, 1, 0], dtype=np.int64),
    "direct_429": np.random.default_rng(17).integers(0, 2**30, 429).astype(np.int64),
}


@pytest.mark.parametrize("encoder", ["frames", "runs"])
@pytest.mark.parametrize("kind", sorted(TRUNCATION_INPUTS))
def test_truncated_stream_raises_valueerror(kind, encoder):
    """Every proper prefix of a stream must fail with the documented
    ValueError: never a silent short decode, never IndexError. The error
    counts the values of the prefix's complete runs, which decode."""
    import re

    v = TRUNCATION_INPUTS[kind]
    buf = (rlev2_encode if encoder == "frames" else rlev2_encode_runs)(v)
    np.testing.assert_array_equal(rlev2_decode(buf, len(v)), v)
    for cut in range(len(buf)):
        with pytest.raises(ValueError, match=f"RLEv2 stream truncated at \\d+/{len(v)} values") as e:
            rlev2_decode(buf[:cut], len(v))
        got = int(re.search(r"at (\d+)/", str(e.value)).group(1))
        assert got < len(v)
        np.testing.assert_array_equal(rlev2_decode(buf[:cut], got), v[:got])
        if kind in ("three_values", "direct_429"):
            assert got == 0
    # the unsigned stream of [0, 1, 0] without its last byte
    with pytest.raises(ValueError, match="truncated at 0/3 values"):
        rlev2_decode(rlev2_encode([0, 1, 0], signed=False)[:-1], 3, signed=False)


# ------------------------------------------------------ encoder tiles


def _mixed_rows(n_rows, rng, max_len=1000):
    """Rows of every regime in turn, 1 to ``max_len - 1`` values each: the
    values and the row boundaries."""
    names = sorted(REGIMES)
    lens = rng.integers(1, max_len, n_rows)
    v = np.concatenate([REGIMES[names[i % len(names)]](rng, int(ln)) for i, ln in enumerate(lens)])
    return v, np.cumsum(lens)[:-1]


def _tiled_and_whole(monkeypatch, tile, encode, v, **kw):
    """``encode(v, **kw)`` in tiles of at most ``tile`` values and in one
    tile, plus the number of values in each tile of the first."""
    from orc_rs_spark.kernels import rlev2

    seen = []
    encode_tile = rlev2._encode_tile
    monkeypatch.setattr(rlev2, "_encode_tile", lambda t, *a: seen.append(len(t)) or encode_tile(t, *a))
    monkeypatch.setattr(rlev2, "_TILE", tile)
    tiled = encode(v, **kw)
    monkeypatch.setattr(rlev2, "_encode_tile", encode_tile)
    monkeypatch.setattr(rlev2, "_TILE", len(v))
    return tiled, encode(v, **kw), seen


@pytest.mark.parametrize("delta", [-1, 0, 1])
def test_tiles_write_the_bytes_of_one_tile(monkeypatch, delta):
    """Lengths around the real tile size: the tiles' bytes concatenate to
    the one-tile stream, and every tile holds whole frames."""
    from orc_rs_spark.kernels.rlev2 import _TILE

    v, rows = _mixed_rows(700, np.random.default_rng(20))
    v = v[: _TILE + delta]
    for kw in ({}, {"signed": False}, {"boundaries": rows[rows < len(v)]}):
        tiled, whole, seen = _tiled_and_whole(monkeypatch, _TILE, rlev2_encode, v, **kw)
        assert tiled == whole
        assert sum(seen) == len(v) and max(seen) <= _TILE
        assert len(seen) == (1 if delta <= 0 else 2)
    np.testing.assert_array_equal(rlev2_decode(tiled, len(v)), v)


def test_tile_cut_at_a_row_aligned_frame_end(monkeypatch):
    """256-value rows give 512-value frames, so a frame ends exactly at
    each 4,096-value tile cut; irregular rows put the cuts before."""
    rng = np.random.default_rng(21)
    v, irregular = _mixed_rows(40, rng, max_len=700)
    for rows in (np.arange(256, len(v), 256), irregular):
        tiled, whole, seen = _tiled_and_whole(monkeypatch, 4096, rlev2_encode, v, boundaries=rows)
        assert tiled == whole
        assert sum(seen) == len(v) and len(seen) > 2 and max(seen) <= 4096
        if rows is not irregular:
            assert seen[:-1] == [4096] * (len(seen) - 1)


def test_tiles_keep_strict_orc_patched_base(monkeypatch):
    from orc_rs_spark.kernels.rlev2 import rlev2_run_modes

    v = _spiked(20_000, np.random.default_rng(22))
    tiled, whole, seen = _tiled_and_whole(monkeypatch, 3000, rlev2_encode, v, strict_orc=True)
    assert tiled == whole and len(seen) == 8
    assert rlev2_run_modes(tiled, len(v))["patched"] > 0


def test_run_encoder_tiles_cut_inside_repeat_runs(monkeypatch):
    """Repeat runs of 1,000-3,000 values straddle the 2,048-value tile
    cuts; each tile still ends at one of the run's 512-value frames."""
    rng = np.random.default_rng(23)
    parts = []
    for j in range(12):
        parts.append(rng.integers(0, 1 << 20, int(rng.integers(1, 400))))
        parts.append(np.full(int(rng.integers(1000, 3000)), j))
    v = np.concatenate(parts).astype(np.int64)
    tiled, whole, seen = _tiled_and_whole(monkeypatch, 2048, rlev2_encode_runs, v)
    assert tiled == whole and len(seen) > 5
    np.testing.assert_array_equal(rlev2_decode(tiled, len(v)), v)


@pytest.mark.parametrize("rows", [False, True])
def test_encoder_peak_memory_is_tile_bounded(rows):
    """~1 M mixed-regime values: the encoder's temporaries stay those of
    one tile (~16 MB), not ~54 MB of whole-array passes."""
    import tracemalloc

    v, bounds = _mixed_rows(2000, np.random.default_rng(5))
    assert len(v) > 950_000
    tracemalloc.start()
    try:
        rlev2_encode(v, boundaries=bounds if rows else None)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 24 << 20


# ------------------------------------------------- one pass, many groups


def _per_group(v, cuts, signed):
    return [rlev2_encode(v[a:b], signed, strict_orc=True) for a, b in zip(cuts, cuts[1:])]


_I64 = np.iinfo(np.int64)
_GRNG = np.random.default_rng(22)
GROUP_CASES = {
    # (values, cuts)
    "empty_groups": (np.arange(700, dtype=np.int64) % 37, [0, 0, 0, 5, 5, 700, 700]),
    "all_empty": (np.empty(0, dtype=np.int64), [0, 0, 0]),
    "ones": (_GRNG.integers(-9, 9, 20), list(range(21))),
    "over_512": (_spiked(2600, _GRNG), [0, 1300, 1301, 2600]),
    "one_group": (np.cumsum(_GRNG.integers(0, 4, 1500)), [0, 1500]),
    "extremes": (np.array([_I64.min, _I64.max, 0, -1, 1] * 120, dtype=np.int64), [0, 3, 300, 599, 600]),
}


@pytest.mark.parametrize("case", sorted(GROUP_CASES))
@pytest.mark.parametrize("signed", [True, False])
def test_encode_groups_equals_per_group_calls(case, signed):
    v, cuts = GROUP_CASES[case]
    v = np.asarray(v, dtype=np.int64)
    pieces = rlev2_encode_groups(v, cuts, signed)
    assert pieces == _per_group(v, cuts, signed)
    np.testing.assert_array_equal(rlev2_decode(b"".join(pieces), len(v), signed), v)


@pytest.mark.parametrize("tile", [1000, 1 << 18])
def test_encode_groups_straddling_a_tile(monkeypatch, tile):
    """Groups that straddle a tile boundary, at a small tile and at the
    real ``_TILE``: the pieces still equal the per-group calls."""
    from orc_rs_spark.kernels import rlev2

    monkeypatch.setattr(rlev2, "_TILE", tile)
    v, _ = _mixed_rows(tile // 350 + 50, np.random.default_rng(21))
    v = v[: tile + 2000]
    cuts = [0, tile - 700, tile - 699, tile + 300, len(v)]
    for signed in (True, False):
        assert rlev2_encode_groups(v, cuts, signed) == _per_group(v, cuts, signed)
