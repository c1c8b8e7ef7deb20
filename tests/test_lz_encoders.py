"""Block codecs through the codec table (kernels/blockcomp.py) and the
LZ77 matcher behind the from-spec lzo encoder (kernels/lz77.py).

Every codec round-trips through the ORC block framing (pyarrow encodes
snappy/lz4/zstd, system liblz4/libzstd decode lz4/zstd, so those
round-trips are also cross-library checks); the encoders' output keeps
the block formats' structural rules; the C decoders' oversize retry,
the lz4 size scan it relies on, and the framing decoder's error
contract (truncation and corrupt blocks raise OrcFormatError naming the
codec, a missing system library raises OrcUnsupportedError) are pinned
here, as are the zlib codec's libdeflate arms. Encode: every block it
writes is raw deflate stdlib zlib inflates, without libdeflate the bytes
are stdlib zlib's, compressors do not leak across threads, and the level
contract holds on both paths. Decode: libdeflate inflates what stdlib
zlib inflates, retries an output larger than its first buffer, rejects
cut and flipped blocks like stdlib, and hands over to stdlib without the
library or beyond MAX_BLOCK. ORC-file-level interop with the JVM lives in
tests/test_spark_roundtrip.py::test_jvm_reads_lz_codecs.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from orc_rs_spark.kernels import blockcomp
from orc_rs_spark.kernels.blockcomp import (
    MAX_BLOCK,
    _DECODERS,
    _ENCODERS,
    block_compress,
    block_decompress,
    lz4_block_size,
)
from orc_rs_spark.kernels.lz77 import greedy_matches
from orc_rs_spark.orcfile.errors import OrcFormatError
from orc_rs_spark.orcfile.reader import decompress_from

CODECS = ("zlib", "snappy", "lz4", "zstd", "lzo")

TEXT = (
    b"the quick brown fox jumps over the lazy dog; "
    b"pack my box with five dozen liquor jugs; "
) * 400
RUNS = b"A" * 5000 + b"B" * 3 + b"C" * 7000 + os.urandom(64) + b"D" * 4096


def _cases():
    rng = np.random.default_rng(11)
    return [
        b"",
        b"x",
        b"abc",
        b"abcd",
        b"abcdabcdabcd",
        TEXT,
        RUNS,
        os.urandom(4096),
        bytes(70000),
        rng.integers(0, 1000, 30000).astype("<u4").tobytes(),
        b"ab" * 40000,  # overlap copies (offset < length)
    ]


def _roundtrip(codec: str, blob: bytes) -> None:
    assert block_decompress(block_compress(blob, codec), codec) == blob


@pytest.mark.parametrize("i", range(len(_cases())))
def test_snappy_encode_roundtrip(i):
    _roundtrip("snappy", _cases()[i])


@pytest.mark.parametrize("i", range(len(_cases())))
def test_lz4_encode_roundtrip(i):
    _roundtrip("lz4", _cases()[i])


@pytest.mark.parametrize("i", range(len(_cases())))
def test_zstd_encode_roundtrip(i):
    _roundtrip("zstd", _cases()[i])


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=3000))
def test_snappy_roundtrip_property(blob):
    _roundtrip("snappy", blob)


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=3000))
def test_lz4_roundtrip_property(blob):
    _roundtrip("lz4", blob)


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=3000))
def test_zstd_roundtrip_property(blob):
    _roundtrip("zstd", blob)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.tuples(st.binary(min_size=1, max_size=12),
                          st.integers(1, 50)), max_size=40))
def test_snappy_roundtrip_runny_property(parts):
    blob = b"".join(p * k for p, k in parts)
    _roundtrip("snappy", blob)
    _roundtrip("lz4", blob)


def test_real_compression_on_text():
    """The encoders really compress (blocks do not fall back to the
    is-original escape) on repetitive text and on source code."""
    for codec in ("snappy", "lz4"):
        assert len(block_compress(TEXT, codec)) < len(TEXT) * 0.1, codec
        src = open(__file__, "rb").read()
        assert len(block_compress(src, codec)) < len(src) * 0.6, codec


def test_zstd_rle_blocks_compress_runs():
    blob = bytes(300000) + b"tail"
    c = block_compress(blob, "zstd")
    assert len(c) < 100
    assert block_decompress(c, "zstd") == blob


def test_lz4_end_of_block_rules():
    """lz4_Block_format.md: last 5 bytes literal, last match starts >= 12
    bytes before the end — verified structurally by re-parsing the lz4
    encoder's output (conforming decoders, liblz4 and the JVM's, rely on
    both rules)."""
    blob = (b"abcdefgh" * 600) + b"abcdefgh"  # match-rich right up to the end
    c = _ENCODERS["lz4"](blob, 0)
    assert _DECODERS["lz4"](c) == blob
    # walk sequences, recording match extents
    pos, out_len, n = 0, 0, len(c)
    last_match_start = None
    while pos < n:
        token = c[pos]
        pos += 1
        ll = token >> 4
        if ll == 15:
            while True:
                ll += c[pos]
                pos += 1
                if c[pos - 1] != 255:
                    break
        pos += ll
        out_len += ll
        if pos >= n:
            break
        pos += 2
        ml = (token & 0xF) + 4
        if (token & 0xF) == 15:
            while True:
                ml += c[pos]
                pos += 1
                if c[pos - 1] != 255:
                    break
        last_match_start = out_len
        out_len += ml
        assert out_len <= len(blob) - 5  # match ends before final 5 bytes
    assert last_match_start is not None
    assert last_match_start <= len(blob) - 13  # starts >= 12 bytes from end


def test_snappy_ops_respect_format_caps():
    """No copy op longer than 64 and no offset beyond 64 KiB (google/snappy
    fragments input at 64 KiB, so conforming decoders may assume this)."""
    blob = (TEXT * 40)[:300000]
    c = _ENCODERS["snappy"](blob, 0)
    assert _DECODERS["snappy"](c) == blob
    # skip preamble varint
    pos = 0
    while c[pos] & 0x80:
        pos += 1
    pos += 1
    while pos < len(c):
        tag = c[pos]
        pos += 1
        kind = tag & 3
        if kind == 0:
            l = tag >> 2
            if l < 60:
                length = l + 1
            else:
                nb = l - 59
                length = int.from_bytes(c[pos : pos + nb], "little") + 1
                pos += nb
            pos += length
        elif kind == 1:
            assert ((tag >> 2) & 0x7) + 4 <= 11
            pos += 1
        elif kind == 2:
            assert (tag >> 2) + 1 <= 64
            assert int.from_bytes(c[pos : pos + 2], "little") <= 65535
            pos += 2
        else:
            pytest.fail("4-byte-offset copy emitted despite 64 KiB cap")


def test_block_framing_all_codecs_roundtrip():
    blob = TEXT + os.urandom(1000) + bytes(5000)
    for codec in CODECS:
        _roundtrip(codec, blob)
    # real shrink for the LZ codecs on compressible data
    for codec in ("snappy", "lz4", "zstd", "lzo"):
        assert len(block_compress(TEXT, codec)) < len(TEXT) * 0.6, codec


def test_matcher_constraints():
    pos, offs, lens = greedy_matches(TEXT, max_offset=100, max_match=16)
    assert (offs <= 100).all() and (lens <= 16).all() and (lens >= 4).all()
    assert (np.diff(pos) >= lens[:-1]).all()  # matches never overlap


# ---------------------------------------------------------------------------
# lz4 size scan (the liblz4 decoder's oversize check) on every lz4
# sequence shape


def _adversarial_lz4_blobs():
    """Inputs that stress every lz4 sequence shape: long offset-1 RLE
    chains, overlapping short-offset copies, 15-extension literal/match
    lengths, literal-only tails, and mixed structured text."""
    rng = np.random.default_rng(0xC0DEC)
    return [
        b"a" * 100_000,                            # offset-1 chain, len ~1e5
        b"ab" * 50_000,                            # offset-2 overlap chain
        (b"x" * 300 + b"y") * 400,                 # long runs + breakers
        bytes(rng.integers(0, 256, 5000, dtype=np.uint8)),  # incompressible
        (b"the quick brown fox " * 997)[:17_000],  # text, non-aligned cut
        b"".join(bytes([i % 7]) * (i % 31 + 1) for i in range(2000)),
        TEXT,                                      # the shared corpus
        b"Z" * 14 + bytes(rng.integers(0, 4, 3000, dtype=np.uint8)) + b"Z" * 14,
    ]


@pytest.mark.parametrize("i", range(8))
def test_lz4_size_scan_exact(i):
    """lz4_block_size returns the exact decompressed size of a block from
    the lz4 encoder by a header-only walk, and liblz4 decodes the block."""
    blob = _adversarial_lz4_blobs()[i]
    c = _ENCODERS["lz4"](blob, 0)
    assert lz4_block_size(c) == len(blob)
    assert _DECODERS["lz4"](c) == blob


# ---------------------------------------------------------------------------
# chain-collapse matcher (lz77.greedy_matches extends only chain HEADS;
# follower lengths propagate arithmetically). Two guards: parse identity
# against an independent brute-force reimplementation of the documented
# single-probe greedy semantics, and the run-heavy speed class that
# motivated the change (the earlier matcher was O(candidates x cap) on
# constant input: 67 s/MiB).


def _brute_greedy(data, max_offset, max_match, min_match=4):
    n = len(data)
    if n < min_match + 1 or n < 8:
        return [], [], []
    arr = np.frombuffer(data, np.uint8)
    vals = (arr[:-3].astype(np.uint32) | (arr[1:-2].astype(np.uint32) << 8)
            | (arr[2:-1].astype(np.uint32) << 16)
            | (arr[3:].astype(np.uint32) << 24))
    hb = max(12, min(int(n).bit_length(), 20))
    h = ((vals * np.uint32(0x9E3779B1)) >> np.uint32(32 - hb)).astype(np.uint32)
    last: dict = {}
    prev = [-1] * len(vals)
    for i in range(len(vals)):
        hv = int(h[i])
        if hv in last:
            prev[i] = last[hv]
        last[hv] = i
    pos_out, off_out, len_out = [], [], []
    i = j = 0
    while j < len(vals):
        pj = prev[j]
        ok = (pj >= 0 and vals[j] == vals[pj] and j - pj <= max_offset
              and j <= n - min_match)
        if ok and j >= i:
            L, cap = 0, min(max_match, n - j)
            while L < cap and arr[j + L] == arr[pj + L]:
                L += 1
            if L >= min_match:
                pos_out.append(j)
                off_out.append(j - pj)
                len_out.append(L)
                i = j = j + L
                continue
        j += 1
    return pos_out, off_out, len_out


@pytest.mark.parametrize("seed", range(4))
def test_greedy_matches_parse_identity(seed):
    """Chain-collapsed matcher == brute-force greedy, token for token,
    across run-heavy / periodic / random shapes, under a short length
    cap, a full window, and the lzo encoder's configuration."""
    rng = np.random.default_rng(seed)
    blobs = [
        bytes([65]) * int(rng.integers(100, 2000)),
        bytes(rng.integers(0, 3, int(rng.integers(100, 2000)), dtype=np.uint8)),
        (bytes(rng.integers(0, 256, int(rng.integers(1, 9)), dtype=np.uint8))
         * 400)[: int(rng.integers(100, 2000))],
        bytes(rng.integers(0, 256, int(rng.integers(100, 2000)), dtype=np.uint8)),
        (b"hello world " * 200)[: int(rng.integers(100, 2000))],
    ]
    for data in blobs:
        for mo, mm in ((65535, 64), (len(data), 273), (49151, 1 << 20)):
            gp, go, gl = greedy_matches(data, mo, mm, 4)
            bp, bo, bl = _brute_greedy(data, mo, mm, 4)
            assert list(gp) == bp and list(go) == bo and list(gl) == bl


def test_lzo_run_heavy_speed_class():
    """Constant input must encode in the O(n) class: 512 KiB of b"A"
    took ~42 s with the pre-collapse matcher; the bound is loose enough
    for the host's known degraded-memory phases yet 4x below the old
    cost, so a complexity regression still fails."""
    import time

    from orc_rs_spark.kernels.lzo import lzo1x_compress, lzo1x_decompress

    blob = b"A" * (512 * 1024)
    t0 = time.time()
    c = lzo1x_compress(blob)
    assert time.time() - t0 < 12.0
    assert lzo1x_decompress(c) == blob


# ---------------------------------------------------------------------------
# C decoders: blocks larger than the 8 MiB working buffer


def test_lz4_oversized_block_decode():
    """A foreign lz4 block that decompresses past the 8 MiB working
    buffer (writers may declare compressionBlockSize above it — the
    23-bit header cap bounds only the COMPRESSED chunk) must decode via
    the exact-size fallback, not be misreported as corruption."""
    pa = pytest.importorskip("pyarrow")

    big = b"A" * (MAX_BLOCK + 1024 * 1024)
    c = bytes(pa.Codec("lz4_raw").compress(big))
    assert _DECODERS["lz4"](c) == big


def test_zstd_oversized_block_decode():
    """The zstd twin: a frame past the 8 MiB working buffer decodes via
    the retry, both when it declares Frame_Content_Size (pyarrow's
    frames do) and when it does not (libzstd's output bound then sizes
    the retry buffer)."""
    pa = pytest.importorskip("pyarrow")

    big = b"A" * (MAX_BLOCK + 1024 * 1024)
    c = bytes(pa.Codec("zstd").compress(big))
    assert _DECODERS["zstd"](c) == big
    # no Frame_Content_Size: window descriptor 2^17 (exponent 7), then
    # 65 RLE blocks of 128 KiB, the last one flagged
    n_blocks, block = 65, 128 * 1024
    frame = (0xFD2FB528).to_bytes(4, "little") + bytes([0, 7 << 3])
    for k in range(n_blocks):
        last = int(k == n_blocks - 1)
        frame += (last | (1 << 1) | (block << 3)).to_bytes(3, "little") + b"A"
    assert n_blocks * block > MAX_BLOCK
    assert _DECODERS["zstd"](frame) == b"A" * (n_blocks * block)


# ---------------------------------------------------------------------------
# framing decoder error contract, through both loops that read ORC framing:
# whole streams (block_decompress, the reader's orc_stream_decompress) and
# positional reads (reader.decompress_from)


_LOOPS = {
    "block_decompress": block_decompress,
    "decompress_from": lambda data, codec: bytes(
        decompress_from(data, codec, 0, 0, 1 << 30)),
}


@pytest.mark.parametrize("loop", sorted(_LOOPS))
def test_truncated_block_header_rejected(loop):
    """1 or 2 bytes after the last block are a cut-off header, not an
    empty tail."""
    decode = _LOOPS[loop]
    good = block_compress(TEXT, "zlib")
    assert decode(good, "zlib") == TEXT
    for tail in (b"\x01", b"\x01\x00"):
        with pytest.raises(OrcFormatError, match="zlib: .*block header"):
            decode(good + tail, "zlib")


@pytest.mark.parametrize("codec", CODECS)
def test_corrupt_block_raises_codec_named_error(codec):
    """Whatever the decoder raises (zlib.error, pyarrow's OSError, a
    ValueError), both loops raise OrcFormatError naming the codec,
    chained to the decoder's error."""
    bad = b"\xff\xfe\x00\x13 not a compressed block at all"
    framed = (len(bad) << 1).to_bytes(3, "little") + bad
    for decode in _LOOPS.values():
        with pytest.raises(OrcFormatError, match=f"^{codec}: corrupt") as info:
            decode(framed, codec)
        assert info.value.__cause__ is not None


def test_missing_system_library_is_unsupported():
    """Without liblz4/libzstd the module still imports and the other
    codecs work; lz4/zstd decode raises OrcUnsupportedError naming the
    library."""
    code = """
import ctypes.util
ctypes.util.find_library = lambda name: None
from orc_rs_spark.kernels.blockcomp import block_compress, block_decompress
from orc_rs_spark.orcfile.errors import OrcUnsupportedError
blob = b"no system codec libraries " * 100
for codec in ("zlib", "snappy", "lzo"):
    assert block_decompress(block_compress(blob, codec), codec) == blob
for codec, lib in (("lz4", "liblz4"), ("zstd", "libzstd")):
    framed = block_compress(blob, codec)
    try:
        block_decompress(framed, codec)
    except OrcUnsupportedError as e:
        assert lib in str(e), e
    else:
        raise AssertionError(codec + " decoded without " + lib)
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code], cwd=root, check=True, timeout=120)


# ---------------------------------------------------------------------------
# zlib blocks: the LZ arm through libdeflate where the system has it


HAVE_LIBDEFLATE = blockcomp._system_lib("deflate", blockcomp._bind_deflate) is not None


def _drop_libdeflate(monkeypatch) -> None:
    """Make the zlib encoder run as on a host without libdeflate."""
    real = blockcomp._system_lib
    monkeypatch.setattr(blockcomp, "_system_lib",
                        lambda name, bind: None if name == "deflate" else real(name, bind))


@pytest.fixture
def no_libdeflate(monkeypatch):
    _drop_libdeflate(monkeypatch)


def _zlib_blocks(framed: bytes):
    """(is_original, payload) of every block in an ORC-framed stream."""
    pos = 0
    while pos < len(framed):
        header = int.from_bytes(framed[pos : pos + 3], "little")
        pos += 3
        yield bool(header & 1), framed[pos : pos + (header >> 1)]
        pos += header >> 1


def _stdlib_framed(data: bytes, level: int, cap: int = MAX_BLOCK) -> bytes:
    """ORC framing over stdlib zlib's raw deflate: the bytes the zlib
    codec wrote before libdeflate, spelled out independently."""
    out = b""
    for i in range(0, len(data), cap):
        block = data[i : i + cap]
        c = zlib.compressobj(level, zlib.DEFLATED, -15, 8, zlib.Z_DEFAULT_STRATEGY)
        comp = c.compress(block) + c.flush()
        if len(comp) < len(block):
            out += (len(comp) << 1).to_bytes(3, "little") + comp
        else:
            out += ((len(block) << 1) | 1).to_bytes(3, "little") + block
    return out


def _assert_stdlib_inflates(data: bytes, framed: bytes, cap: int) -> None:
    at = 0
    for original, payload in _zlib_blocks(framed):
        piece = payload if original else zlib.decompress(payload, -15)
        assert 0 < len(piece) <= cap
        assert piece == data[at : at + len(piece)]
        at += len(piece)
    assert at == len(data)


_ZLIB_DATA = st.one_of(
    st.binary(max_size=3000),
    st.lists(st.tuples(st.binary(min_size=1, max_size=12), st.integers(1, 60)),
             max_size=60).map(lambda parts: b"".join(p * k for p, k in parts)),
)


@settings(max_examples=80, deadline=None)
@given(_ZLIB_DATA, st.integers(0, 9), st.sampled_from([None, 1, 7, 1000, 1 << 16]))
def test_zlib_blocks_inflate_with_stdlib(data, level, max_block):
    framed = block_compress(data, "zlib", level, max_block=max_block)
    _assert_stdlib_inflates(data, framed, max_block or MAX_BLOCK)
    assert block_decompress(framed, "zlib") == data


@pytest.mark.parametrize("level", [1, 7])
def test_zlib_blocks_edge_sizes(level):
    """Empty, one byte, incompressible, and a stream one byte past
    MAX_BLOCK (a full block and a 1-byte block) all read back through
    stdlib inflate."""
    big = (TEXT * (MAX_BLOCK // len(TEXT) + 1))[: MAX_BLOCK - 4096] + os.urandom(4097)
    for data in (b"", b"q", os.urandom(300_000), big):
        framed = block_compress(data, "zlib", level)
        _assert_stdlib_inflates(data, framed, MAX_BLOCK)
    assert len(list(_zlib_blocks(framed))) == 2


@pytest.mark.parametrize("level", [0, 1, 6, 7, 9, -1])
def test_zlib_without_libdeflate_writes_stdlib_bytes(no_libdeflate, level):
    """Where libdeflate cannot be loaded, zlib blocks are stdlib zlib's
    bytes exactly, block caps included."""
    for data in (TEXT, RUNS, os.urandom(5000), TEXT * 40):
        assert block_compress(data, "zlib", level) == _stdlib_framed(data, level)
        assert block_compress(data, "zlib", level, max_block=4096) == _stdlib_framed(
            data, level, 4096)


def test_huffman_only_stays_on_stdlib():
    """The Huffman-only arm is stdlib zlib's with or without libdeflate."""
    c = zlib.compressobj(7, zlib.DEFLATED, -15, 8, zlib.Z_HUFFMAN_ONLY)
    comp = c.compress(TEXT) + c.flush()
    framed = block_compress(TEXT, "zlib", 7, strategy=zlib.Z_HUFFMAN_ONLY)
    assert framed == (len(comp) << 1).to_bytes(3, "little") + comp


def test_zlib_threads_get_single_thread_bytes():
    """8 threads compressing different inputs at several levels, and
    inflating the blocks, at once get the single-thread outputs
    (compressors and decompressors are per thread)."""
    rng = np.random.default_rng(3)
    inputs = [rng.integers(0, 50 * (k + 1), 60_000).astype("<u4").tobytes() for k in range(8)]
    levels = (1, 6, 7)
    want = [[block_compress(d, "zlib", lv) for lv in levels] for d in inputs]
    got: list = [None] * 8
    barrier = threading.Barrier(8)

    def work(k):
        barrier.wait()
        runs = []
        for _ in range(5):
            framed = [block_compress(inputs[k], "zlib", lv) for lv in levels]
            runs.append(framed + [block_decompress(f, "zlib") for f in framed])
        got[k] = runs

    threads = [threading.Thread(target=work, args=(k,)) for k in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    for k in range(8):
        assert got[k] == [want[k] + [inputs[k]] * len(levels)] * 5


@pytest.mark.parametrize("libdeflate", [True, False])
def test_zlib_level_contract_on_both_paths(monkeypatch, libdeflate):
    """A level stdlib zlib rejects raises its ValueError whether or not
    libdeflate (which takes 10-12) is present; -1 and 0 are zlib's."""
    if not libdeflate:
        _drop_libdeflate(monkeypatch)
    for level in (-2, 10, 12, 100):
        with pytest.raises(ValueError):
            block_compress(TEXT, "zlib", level)
    for level in (-1, 0):
        assert block_compress(TEXT, "zlib", level) == _stdlib_framed(TEXT, level)


@pytest.mark.skipif(not HAVE_LIBDEFLATE, reason="the system has no libdeflate")
def test_libdeflate_shrinks_regime_mix_tokens(monkeypatch):
    """On a regime-mix slice (perfbench/workloads.py, read only) the
    tokens stream libdeflate writes is smaller than the stdlib-only
    path's, with the same codec and block tags."""
    from orc_rs_spark.chunk import encode_chunk
    from perfbench.workloads import regime_mix

    batch = regime_mix(7).slice(0, 4096).combine_chunks().to_batches()[0]
    with_lib = encode_chunk(batch, 0)
    _drop_libdeflate(monkeypatch)
    stdlib = encode_chunk(batch, 0)
    assert (with_lib["codec"], with_lib["block_codec"]) == (stdlib["codec"], stdlib["block_codec"])
    assert len(with_lib["s_tokens"]) < len(stdlib["s_tokens"])
    assert block_decompress(with_lib["s_tokens"], "zlib") == block_decompress(
        stdlib["s_tokens"], "zlib")


# ---------------------------------------------------------------------------
# zlib blocks inflate through libdeflate where the system has it


@settings(max_examples=80, deadline=None)
@given(_ZLIB_DATA, st.integers(0, 9), st.booleans(), st.binary(max_size=8))
def test_inflate_matches_stdlib(data, level, huffman_only, tail):
    """Every block ``block_compress`` writes, at every level and both
    deflate strategies, inflates to stdlib zlib's output; bytes after the
    final deflate block are ignored by both."""
    strategy = zlib.Z_HUFFMAN_ONLY if huffman_only else zlib.Z_DEFAULT_STRATEGY
    framed = block_compress(data, "zlib", level, max_block=1000, strategy=strategy)
    for original, payload in _zlib_blocks(framed):
        if not original:
            want = zlib.decompress(payload, -15)
            assert _DECODERS["zlib"](payload) == want
            assert _DECODERS["zlib"](payload + tail) == want
    assert block_decompress(framed, "zlib") == data


@pytest.mark.skipif(not HAVE_LIBDEFLATE, reason="the system has no libdeflate")
def test_inflate_beyond_first_buffer_retries(monkeypatch):
    """A block whose output exceeds the first try's buffer (sized from the
    compressed length) decodes through the MAX_BLOCK retry without stdlib;
    one that inflates beyond MAX_BLOCK (a foreign writer's larger block)
    falls back to stdlib zlib."""
    big = block_compress(bytes(MAX_BLOCK), "zlib")
    assert len(big) * 4 < blockcomp.LZ_BLOCK
    beyond = zlib.compressobj(6, zlib.DEFLATED, -15)
    beyond = beyond.compress(bytes(MAX_BLOCK + 4096)) + beyond.flush()
    assert len(beyond) * 4 < blockcomp.LZ_BLOCK
    def refuse(*args, **kwargs):
        raise AssertionError("stdlib zlib inflated a block")

    with monkeypatch.context() as m:
        m.setattr(zlib, "decompress", refuse)
        assert block_decompress(big, "zlib") == bytes(MAX_BLOCK)
        with pytest.raises(AssertionError, match="stdlib"):
            _DECODERS["zlib"](beyond)
    assert _DECODERS["zlib"](beyond) == bytes(MAX_BLOCK + 4096)


@pytest.mark.parametrize("loop", sorted(_LOOPS))
@pytest.mark.parametrize("libdeflate", [True, False])
def test_cut_or_flipped_zlib_blocks_raise(monkeypatch, loop, libdeflate):
    """Every proper prefix of a few deflate blocks, and blocks whose first
    header bits are flipped (no final block, or the reserved block type),
    raise OrcFormatError naming zlib with and without libdeflate."""
    if not libdeflate:
        _drop_libdeflate(monkeypatch)
    decode = _LOOPS[loop]
    rng = np.random.default_rng(5)
    payloads = []
    for data, strategy in ((TEXT, zlib.Z_DEFAULT_STRATEGY), (RUNS, zlib.Z_DEFAULT_STRATEGY),
                           (rng.integers(0, 300, 600).astype("<u2").tobytes(), zlib.Z_HUFFMAN_ONLY)):
        ((original, payload),) = _zlib_blocks(block_compress(data, "zlib", 6, strategy=strategy))
        assert not original
        payloads += [payload[:k] for k in range(len(payload))]
        for bit in (0, 1, 2):
            payloads.append(bytes([payload[0] ^ (1 << bit)]) + payload[1:])
    for payload in payloads:
        framed = (len(payload) << 1).to_bytes(3, "little") + payload
        with pytest.raises(OrcFormatError, match="^zlib: corrupt"):
            decode(framed, "zlib")


def test_inflate_without_libdeflate_uses_stdlib(monkeypatch):
    """Where the inflate binding cannot be loaded, stdlib zlib inflates."""
    real = blockcomp._system_lib
    monkeypatch.setattr(blockcomp, "_system_lib",
                        lambda name, bind: None if bind is blockcomp._bind_inflate else real(name, bind))
    calls = []
    stdlib = zlib.decompress
    monkeypatch.setattr(zlib, "decompress", lambda *a, **k: calls.append(1) or stdlib(*a, **k))
    framed = block_compress(TEXT * 3, "zlib", max_block=len(TEXT))
    assert block_decompress(framed, "zlib") == TEXT * 3
    assert len(calls) == 3
