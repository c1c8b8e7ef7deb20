"""Round-trip tests: byte RLE, boolean RLE, RLEv1, FoR, bitpack, dict,
rank dict (v3 decode and rank planes), raw, block compression, FSST,
string codecs.

RLEv1 known-answer vectors come from FIXTURES.md F3 (backported from the
reference's own tests at /root/reference/src/encoding/rlev1.rs:361-505).
"""

import zlib

import numpy as np
import pyarrow as pa
import pytest

from orc_rs_spark.kernels.blockcomp import block_compress, block_decompress
from orc_rs_spark.kernels.byte_rle import (
    boolean_rle_decode,
    boolean_rle_encode,
    byte_rle_decode,
    byte_rle_encode,
)
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
from orc_rs_spark.kernels import intcodecs
from orc_rs_spark.kernels.rlev1 import rlev1_decode, rlev1_encode
from orc_rs_spark.kernels.rlev2 import rlev2_encode
from orc_rs_spark.kernels.select import INT_CODECS
from orc_rs_spark.kernels.varint import uvarint, varint_encode
from orc_rs_spark.kernels.strings import (
    string_dict_decode,
    string_dict_encode,
    string_direct_decode,
    string_direct_encode,
)

RNG = np.random.default_rng(42)


def rankdict_encode(values: np.ndarray) -> bytes:
    """The chunk format v3 ``rankdict`` layout, which the library now only
    decodes: header, the RLEv2 dictionary by rank, then one LEB128 varint
    per rank in value order."""
    v = np.asarray(values, dtype=np.int64)
    if len(v) == 0:
        return b""
    bincount = int(v.max()) - int(v.min()) < intcodecs._BINCOUNT_SPAN
    by_rank, ranks = intcodecs._rank_table(v, bincount)
    dict_stream = rlev2_encode(by_rank, signed=True)
    return uvarint(len(by_rank)) + uvarint(len(dict_stream)) + dict_stream + varint_encode(ranks)


# ------------------------------------------------------------- byte RLE


def test_byte_rle_roundtrip_runs():
    v = np.repeat(RNG.integers(0, 4, 100), RNG.integers(1, 300, 100)).astype(np.uint8)
    np.testing.assert_array_equal(byte_rle_decode(byte_rle_encode(v), len(v)), v)


def test_byte_rle_roundtrip_random():
    v = RNG.integers(0, 256, 5000).astype(np.uint8)
    np.testing.assert_array_equal(byte_rle_decode(byte_rle_encode(v), len(v)), v)


def test_byte_rle_all_same():
    v = np.full(1000, 7, dtype=np.uint8)
    enc = byte_rle_encode(v)
    assert len(enc) <= 2 * (1000 // 130 + 1)
    np.testing.assert_array_equal(byte_rle_decode(enc, 1000), v)


def test_boolean_rle_roundtrip():
    for v in (
        RNG.random(1000) < 0.5,
        np.ones(777, dtype=bool),
        np.zeros(8, dtype=bool),
        np.array([True]),
    ):
        np.testing.assert_array_equal(boolean_rle_decode(boolean_rle_encode(v), len(v)), v)


def _byte_rle_prefix_streams():
    """A byte stream of runs and literal runs of every length class, and a
    boolean stream whose packed bytes mix both."""
    rng = np.random.default_rng(21)
    v = np.concatenate([np.full(200, 9), rng.integers(0, 256, 150), np.full(4, 1),
                        rng.integers(0, 256, 190), np.full(6, 200)]).astype(np.uint8)
    bits = np.repeat(rng.random(400) < 0.5, rng.integers(1, 20, 400))[:4000]
    return [(byte_rle_decode, byte_rle_encode(v), v), (boolean_rle_decode, boolean_rle_encode(bits), bits)]


def test_byte_rle_prefix_raises_valueerror():
    """Every proper prefix of a byte or boolean RLE stream fails with the
    codec's ValueError: never IndexError, a broadcast error, or a literal
    run silently widened from the bytes that are left."""
    for decode, buf, v in _byte_rle_prefix_streams():
        np.testing.assert_array_equal(decode(buf, len(v)), v)
        for cut in range(len(buf)):
            with pytest.raises(ValueError, match="byte RLE stream truncated"):
                decode(buf[:cut], len(v))
    with pytest.raises(ValueError, match="byte RLE"):
        byte_rle_decode(b"\xfc\x01", 4)  # a 4-byte literal run with one byte


# ------------------------------------------------------------- RLEv1


def test_rlev1_reference_vector():
    # FIXTURES.md F3: [0x61,0xff,0x64, 0xfb,0x02,0x03,0x05,0x07,0x0b] ->
    # run of 100 values descending from 100 (header 97 -> len 100, delta -1,
    # base 100), then 5 literal varints [2,3,5,7,11] (unsigned)
    buf = bytes([0x61, 0xFF, 0x64, 0xFB, 0x02, 0x03, 0x05, 0x07, 0x0B])
    out = rlev1_decode(buf, 105, signed=False)
    assert out[:100].tolist() == list(range(100, 0, -1))
    assert out[100:].tolist() == [2, 3, 5, 7, 11]


def test_rlev1_roundtrip():
    for v in (
        np.arange(1000, dtype=np.int64),
        RNG.integers(-(2**31), 2**31, 500).astype(np.int64),
        np.repeat(np.int64(5), 1000),
        np.array([2, 3, 5, 7, 11], dtype=np.int64),
        np.array([], dtype=np.int64),
    ):
        enc = rlev1_encode(v, signed=True)
        np.testing.assert_array_equal(rlev1_decode(enc, len(v), signed=True), v)


def test_rlev1_unsigned_roundtrip():
    v = RNG.integers(0, 2**62, 300).astype(np.int64)
    enc = rlev1_encode(v, signed=False)
    np.testing.assert_array_equal(rlev1_decode(enc, len(v), signed=False), v)


# ------------------------------------------------------------- int codecs


INTS = {
    "ramp": np.arange(5000, dtype=np.int64) * 7 - 100,
    "clustered": 10**12 + RNG.integers(0, 1000, 5000).astype(np.int64),
    "random32": RNG.integers(-(2**31), 2**31, 5000).astype(np.int64),
    "low_distinct": RNG.choice(np.array([3, 1000, -5, 77], dtype=np.int64), 5000),
    "single": np.array([42], dtype=np.int64),
    "empty": np.array([], dtype=np.int64),
    "extremes": np.array([2**63 - 1, -(2**63), 0], dtype=np.int64),
}


@pytest.mark.parametrize("name", sorted(INTS))
@pytest.mark.parametrize(
    "enc,dec",
    [
        (for_encode, for_decode),
        (bitpack_encode, bitpack_decode),
        (dict_encode, dict_decode),
        (rankdict_encode, rankdict_decode),
        (rankplanes_encode, rankplanes_decode),
        (raw_encode, raw_decode),
    ],
    ids=["for", "bitpack", "dict", "rankdict", "rankplanes", "raw"],
)
def test_int_codec_roundtrip(name, enc, dec):
    v = INTS[name]
    np.testing.assert_array_equal(dec(enc(v), len(v)), v)


def test_for_beats_bitpack_on_clustered():
    v = INTS["clustered"]
    assert len(for_encode(v)) < len(bitpack_encode(v)) / 2


def test_dict_wins_low_distinct():
    v = INTS["low_distinct"]
    assert len(dict_encode(v)) < len(raw_encode(v)) / 4


TRUNCATION_VALUES = np.concatenate([
    np.repeat(np.array([5, 9, 5, 700], dtype=np.int64), [20, 4, 30, 12]),
    np.random.default_rng(7).integers(-500, 500, 300),
    np.arange(100, dtype=np.int64) * 3,
])


@pytest.mark.parametrize("cut", ["0", "1", "half", "len-1"])
@pytest.mark.parametrize("codec", sorted(INT_CODECS))
def test_int_codec_truncated_stream_raises(codec, cut):
    """A cut-off stream of any integer codec is a ValueError, never a
    silent short decode or an IndexError."""
    enc, dec = INT_CODECS[codec]
    buf = (enc or rankdict_encode)(TRUNCATION_VALUES)
    np.testing.assert_array_equal(dec(buf, len(TRUNCATION_VALUES)), TRUNCATION_VALUES)
    at = {"0": 0, "1": 1, "half": len(buf) // 2, "len-1": len(buf) - 1}[cut]
    with pytest.raises(ValueError):
        dec(buf[:at], len(TRUNCATION_VALUES))


def _dict_parts(dict_values, indices, dict_len=None):
    dict_stream = rlev2_encode(np.array(dict_values, dtype=np.int64), signed=True)
    dict_len = len(dict_stream) if dict_len is None else dict_len
    idx_stream = rlev2_encode(np.array(indices, dtype=np.int64), signed=False)
    return uvarint(len(dict_values)) + uvarint(dict_len) + dict_stream + idx_stream


@pytest.mark.parametrize(
    "dec,buf,count,match",
    [
        (raw_decode, raw_encode(np.arange(10))[:5], 10, "raw: 4 bytes hold fewer than 10"),
        (raw_decode, b"", 1, "raw: empty stream"),
        (raw_decode, bytes([2, 0, 0]), 1, "raw: item size 2"),
        (for_decode, b"", 10, "for: varint stream truncated"),
        (for_decode, b"\x02", 10, "for: stream truncated after the base"),
        (for_decode, for_encode(np.arange(100))[:-1], 100, "for: bitpacked stream truncated"),
        (bitpack_decode, b"", 3, "bitpack: empty stream"),
        (bitpack_decode, bitpack_encode(np.arange(100))[:-1], 100,
         "bitpack: bitpacked stream truncated"),
        (dict_decode, _dict_parts([10, 20], [0, 2, 1]), 3, r"dict: rank 2 outside the 2-entry"),
        (dict_decode, _dict_parts([10, 20], [0, 1, 0], dict_len=100), 3,
         "dict: 100-byte dictionary runs past"),
    ],
    ids=["raw-short", "raw-empty", "raw-size", "for-empty", "for-no-width", "for-short",
         "bitpack-empty", "bitpack-short", "dict-index-too-big", "dict-past-end"],
)
def test_header_codecs_name_themselves_on_bad_input(dec, buf, count, match):
    with pytest.raises(ValueError, match=match):
        dec(buf, count)


def test_rankdict_known_answer():
    # 5 x3, 9 x2, then 2 and 7 once each (a count tie: the smaller value
    # ranks first) -> dictionary [5, 9, 2, 7], ranks 0 0 1 2 0 1 3
    v = np.array([5, 5, 9, 2, 5, 9, 7], dtype=np.int64)
    dict_stream = rlev2_encode(np.array([5, 9, 2, 7], dtype=np.int64), signed=True)
    want = bytes([4, len(dict_stream)]) + dict_stream + bytes([0, 0, 1, 2, 0, 1, 3])
    assert rankdict_encode(v) == want
    np.testing.assert_array_equal(rankdict_decode(want, len(v)), v)


@pytest.mark.parametrize("name", ["zipf", "negative", "low_distinct", "ties"])
def test_rankdict_count_branches_give_identical_bytes(name, monkeypatch):
    """np.bincount (value range < 2^20) and np.unique (any range) must
    rank the same values identically."""
    v = {
        "zipf": np.minimum(RNG.zipf(1.1, 50_000), 100_000).astype(np.int64),
        "negative": RNG.integers(-500, 500, 20_000).astype(np.int64),
        "low_distinct": INTS["low_distinct"],
        "ties": RNG.permutation(np.repeat(np.arange(-40, 40, dtype=np.int64), 3)),
    }[name]
    assert int(v.max()) - int(v.min()) < intcodecs._BINCOUNT_SPAN
    counted = rankdict_encode(v)
    monkeypatch.setattr(intcodecs, "_BINCOUNT_SPAN", 0)  # force np.unique
    assert rankdict_encode(v) == counted
    np.testing.assert_array_equal(rankdict_decode(counted, len(v)), v)


def _rankdict_parts(dict_values, ranks, n_dict=None, dict_len=None):
    dict_stream = rlev2_encode(np.array(dict_values, dtype=np.int64), signed=True)
    n_dict = len(dict_values) if n_dict is None else n_dict
    dict_len = len(dict_stream) if dict_len is None else dict_len
    return bytes([n_dict, dict_len]) + dict_stream + bytes(ranks)


@pytest.mark.parametrize(
    "buf,count,match",
    [
        (_rankdict_parts([10, 20], [0, 1, 0]), 4, "rankdict: varint stream truncated"),
        (_rankdict_parts([10, 20], [0, 1, 0x80]), 3, "rankdict: varint stream truncated"),
        (_rankdict_parts([10, 20], [0, 2, 1]), 3, r"rankdict: rank 2 outside the 2-entry"),
        (_rankdict_parts([], [0, 0], n_dict=0), 2, "rankdict: empty dictionary"),
        (_rankdict_parts([10, 20], [0, 1], dict_len=100), 2, "rankdict: 100-byte dictionary runs past"),
        (bytes([0x85]), 1, "rankdict: header"),
    ],
    ids=["short-ranks", "cut-varint", "rank-too-big", "empty-dict", "dict-past-end", "cut-header"],
)
def test_rankdict_corrupt_input_raises(buf, count, match):
    with pytest.raises(ValueError, match=match):
        rankdict_decode(buf, count)


def test_rankplanes_known_answer():
    # the dictionary and ranks of test_rankdict_known_answer: every rank
    # is < 128, so plane 0 is the whole rank stream
    v = np.array([5, 5, 9, 2, 5, 9, 7], dtype=np.int64)
    dict_stream = rlev2_encode(np.array([5, 9, 2, 7], dtype=np.int64), signed=True)
    want = bytes([4, len(dict_stream)]) + dict_stream + bytes([0, 0, 1, 2, 0, 1, 3])
    assert rankplanes_encode(v) == want
    np.testing.assert_array_equal(rankplanes_decode(want, len(v)), v)


def test_rankplanes_second_plane_known_answer():
    # 131 distinct values, one each: rank = position in ascending order.
    # Plane 0 holds every rank's low 7 bits + continuation flag; plane 1
    # the second byte of ranks 130, 128 and 129, in value order
    v = np.concatenate(([130], np.arange(130))).astype(np.int64)
    dict_stream = rlev2_encode(np.arange(131, dtype=np.int64), signed=True)
    plane0 = bytes([0x82]) + bytes(range(128)) + bytes([0x80, 0x81])
    want = uvarint(131) + uvarint(len(dict_stream)) + dict_stream + plane0 + bytes([1, 1, 1])
    assert rankplanes_encode(v) == want
    np.testing.assert_array_equal(rankplanes_decode(want, len(v)), v)


def _rankplanes_parts(dict_values, planes, n_dict=None, dict_len=None):
    dict_stream = rlev2_encode(np.array(dict_values, dtype=np.int64), signed=True)
    n_dict = len(dict_values) if n_dict is None else n_dict
    dict_len = len(dict_stream) if dict_len is None else dict_len
    return uvarint(n_dict) + uvarint(dict_len) + dict_stream + bytes(planes)


_DICT_200 = list(range(1000, 1200))


@pytest.mark.parametrize(
    "buf,count,match",
    [
        (_rankplanes_parts([10, 20], [0, 1, 0]), 4, "rankplanes: plane 0 holds 3 of its 4 bytes"),
        (_rankplanes_parts(_DICT_200, [0x85, 0x10]), 2, "rankplanes: plane 1 holds 0 of its 1 bytes"),
        (_rankplanes_parts(_DICT_200, [0x85, 0xC7, 0x01]), 2, "rankplanes: plane 1 holds 1 of its 2 bytes"),
        (_rankplanes_parts([10, 20], [0, 2, 1]), 3, r"rankplanes: rank 2 outside the 2-entry"),
        (_rankplanes_parts(_DICT_200, [0x85, 0x02]), 1, r"rankplanes: rank 261 outside the 200-entry"),
        (_rankplanes_parts(_DICT_200, [0x85, 0x81, 0x01]), 1, "rankplanes: a rank runs past 2 bytes"),
        (_rankplanes_parts([10, 20], [0x80, 0x01]), 1, "rankplanes: a rank runs past 1 bytes"),
        (_rankplanes_parts([10, 20], [0, 1, 1]), 2, "rankplanes: 1 bytes follow the last plane"),
        (_rankplanes_parts([], [0, 0], n_dict=0), 2, "rankplanes: empty dictionary"),
        (_rankplanes_parts([10, 20], [0, 1], dict_len=100), 2, "rankplanes: 100-byte dictionary runs past"),
        (bytes([0x85]), 1, "rankplanes: header"),
        (bytes([0x02, 0x85]), 1, "rankplanes: header"),
    ],
    ids=[
        "short-plane0", "missing-plane1", "short-plane1", "rank-too-big", "2-byte-rank-too-big",
        "3rd-plane", "2nd-plane-for-2-entries", "trailing", "empty-dict", "dict-past-end",
        "cut-header", "one-header-varint",
    ],
)
def test_rankplanes_corrupt_input_raises(buf, count, match):
    """Corrupt rank planes raise ValueError naming the codec, never an
    IndexError or a silent wrong decode."""
    with pytest.raises(ValueError, match=match):
        rankplanes_decode(buf, count)


# ------------------------------------------------------------- block comp


def test_block_compress_roundtrip():
    data = bytes(RNG.integers(0, 4, 100_000).astype(np.uint8))  # 2-bit entropy
    comp = block_compress(data)
    assert len(comp) < len(data) / 3
    assert block_decompress(comp) == data


def test_block_compress_incompressible_escape():
    data = bytes(RNG.integers(0, 256, 10_000).astype(np.uint8))
    comp = block_compress(data)
    assert len(comp) <= len(data) + 3 * (len(data) // (2**23 - 1) + 1)
    assert block_decompress(comp) == data


def test_block_compress_empty():
    assert block_decompress(block_compress(b"")) == b""


def test_block_compress_huffman_only_is_plain_zlib():
    """A Huffman-only block differs from the default strategy's bytes but
    reads back through the ordinary zlib decoder."""
    data = bytes(np.minimum(RNG.zipf(1.3, 50_000), 255).astype(np.uint8))
    huff = block_compress(data, "zlib", level=7, strategy=zlib.Z_HUFFMAN_ONLY)
    assert huff != block_compress(data, "zlib", level=7)
    assert block_decompress(huff, "zlib") == data


def test_block_compress_strategy_is_zlib_only():
    with pytest.raises(ValueError, match="deflate strategy applies to zlib blocks, not 'zstd'"):
        block_compress(b"x" * 100, "zstd", strategy=zlib.Z_HUFFMAN_ONLY)


# ------------------------------------------------------------- FSST


TEXTS = [
    b"the quick brown fox jumps over the lazy dog " * 200,
    b"aaaaaaaaaabbbbbbbbbb" * 50,
    b"",
    b"x",
    bytes(RNG.integers(0, 256, 5000).astype(np.uint8)),  # binary / incompressible
    "ünïcödé tèxt with ACCENTS and ümlaüts ".encode() * 100,
    b"\xff\xff\xff escape bytes \xff inside " * 40,
]


@pytest.mark.parametrize("i", range(len(TEXTS)))
@pytest.mark.parametrize("rounds", [1, 2, 3])
def test_fsst_roundtrip(i, rounds):
    data = TEXTS[i]
    enc = fsst_encode(data, rounds=rounds)
    assert fsst_decode(enc) == data


def test_fsst_compresses_text():
    data = b"the quick brown fox jumps over the lazy dog " * 500
    enc1 = fsst_encode(data, rounds=1)
    enc2 = fsst_encode(data, rounds=2)
    assert len(enc1) < len(data) * 0.7
    assert len(enc2) <= len(enc1)


def test_fsst_never_grows():
    for data in TEXTS:
        assert len(fsst_encode(data, rounds=2)) <= len(data) + 1


# ------------------------------------------------------------- strings


WORDS = ["web", "books", "code", "wiki", "forums", "papers", "chat", "legal"]


def _random_strings(n):
    return pa.array(
        ["".join(RNG.choice(list("abcdefgh XYZ"), RNG.integers(0, 30))) for _ in range(n)]
    )


@pytest.mark.parametrize("use_fsst", [False, True])
def test_string_direct_roundtrip(use_fsst):
    arr = _random_strings(500)
    enc = string_direct_encode(arr, use_fsst=use_fsst)
    out = string_direct_decode(enc, len(arr), use_fsst=use_fsst)
    assert out.to_pylist() == arr.to_pylist()


@pytest.mark.parametrize("use_fsst", [False, True])
def test_string_dict_roundtrip(use_fsst):
    arr = pa.array([WORDS[i % len(WORDS)] for i in RNG.integers(0, 8, 2000)])
    enc = string_dict_encode(arr, use_fsst=use_fsst)
    out = string_dict_decode(enc, len(arr), use_fsst=use_fsst)
    assert out.to_pylist() == arr.to_pylist()
    assert len(enc) < 2000  # 2000 low-distinct strings must crush


def test_string_dict_sorted_symbol_table():
    arr = pa.array(["zz", "aa", "mm", "zz", "aa"])
    enc = string_dict_encode(arr)
    # decode and confirm values; sortedness is internal but round-trip must hold
    assert string_dict_decode(enc, 5).to_pylist() == ["zz", "aa", "mm", "zz", "aa"]


def test_string_empty_and_unicode():
    arr = pa.array(["", "héllo wörld", "", "日本語テキスト", "x"])
    for codec_enc, codec_dec in (
        (string_direct_encode, string_direct_decode),
        (string_dict_encode, string_dict_decode),
    ):
        enc = codec_enc(arr, use_fsst=True)
        assert codec_dec(enc, len(arr), use_fsst=True).to_pylist() == arr.to_pylist()


def test_rlev1_orc_cpp_backported_vectors():
    """Remaining FIXTURES.md F3 RLEv1 vectors (backported from Apache ORC
    C++ via the reference's tests, /root/reference/src/encoding/rlev1.rs:
    393-505): signed literals, split header, split runs, signed long run."""
    # signed literals: [0xf8, 0x00..0x07] -> 8 zigzag literals 0,-1,1,-2,2,-3,3,-4
    out = rlev1_decode(bytes([0xF8, 0x0, 0x1, 0x2, 0x3, 0x4, 0x5, 0x6, 0x7]), 8, signed=True)
    assert out.tolist() == [0, -1, 1, -2, 2, -3, 3, -4]
    # split header: run of 3 x 247864668 (varint spans buffer boundaries)
    out = rlev1_decode(bytes([0x00, 0x00, 0xDC, 0xBA, 0x98, 0x76]), 3, signed=False)
    assert out.tolist() == [247864668] * 3
    # split runs: 128-run from 255 step 1, then literals [2,3,4,5] -> first 126 checked
    out = rlev1_decode(bytes([0x7D, 0x01, 0xFF, 0x01, 0xFB, 0x01, 0x02, 0x03, 0x04, 0x05]), 126, signed=False)
    assert out.tolist() == [255 + i for i in range(126)]
    # signed long run: 130 values from 16 step -1 (header 0x7f, delta 0xff, base zigzag 0x20)
    out = rlev1_decode(bytes([0x7F, 0xFF, 0x20]), 130, signed=True)
    assert out.tolist() == [16 - i for i in range(130)]
