"""ORC-style block compression framing + the codec table.

Wire format parity: 3-byte little-endian header = (block_length << 1) |
is_original, i.e. 23-bit length + 1 LSB "stored uncompressed" escape so
incompressible blocks never grow (reference decode:
/root/reference/src/compression.rs:362-382; format doc :214-239). The
reference's zlib codec is raw deflate with no zlib header
(/root/reference/src/compression.rs:195-212) — mirrored here: every
deflate writer below emits raw deflate that any inflater reads.

Codec table: like the reference's registry (its src/compression.rs:82-148),
one implementation per codec and direction:

- zlib: the default (LZ) strategy at levels 1-9 encodes through the
  system libdeflate (ctypes) where it is installed, else stdlib zlib;
  Huffman-only and other strategies, level 0 and the -1 default encode
  with stdlib zlib; libdeflate inflates (stdlib zlib where it is missing,
  and for a foreign block that inflates beyond MAX_BLOCK);
- snappy: pyarrow's bundled C codec, both directions;
- lz4: pyarrow ``lz4_raw`` encodes, system liblz4 decodes (ctypes);
- zstd: pyarrow encodes, system libzstd decodes (ctypes);
- lzo: the from-spec LZO1X kernel (kernels/lzo.py), both directions —
  there is no liblzo2 to call.

libdeflate compresses the LZ arm ~3x cheaper than stdlib zlib at the
same level number, and its output is a little smaller. Its bytes are not
zlib's, so zlib block bytes depend on whether libdeflate is present (the
block tag and every reader are the same either way). It inflates any raw
deflate ~2-3x faster than stdlib zlib.

ORC framing carries only the COMPRESSED length, and pyarrow's
decompress needs the exact output size up front, so lz4, zstd and zlib
decode through the system libraries' one-shot calls (``_c_decoder``),
which report the output size (libzstd also takes frames without
Frame_Content_Size and skippable frames). The libraries load on first
use, so importing this module never fails; decoding lz4 or zstd without
them raises OrcUnsupportedError naming the library, and without
libdeflate zlib encodes and decodes with stdlib zlib alone.
"""

from __future__ import annotations

import ctypes
import ctypes.util
import functools
import threading
import zlib

import numpy as np
import pyarrow as pa

from orc_rs_spark.kernels.lzo import lzo1x_compress, lzo1x_decompress

MAX_BLOCK = (1 << 23) - 1
# snappy/lz4/zstd blocks are capped at the declared compressionBlockSize
# (256 KiB, writer.py postscript field 3)
LZ_BLOCK = 256 * 1024

# codec-appropriate defaults when the caller doesn't pick a level: zlib 6
# (stdlib default-ish, matches the historical output bytes), zstd 3 (the
# ORC Java writer / Spark default — level 1, pyarrow's own default, costs
# ~4% size on token data for little speed gain at these block sizes)
DEFAULT_LEVELS = {"zlib": 6, "zstd": 3}


def _deflate(data: bytes, level: int = 6, strategy: int = zlib.Z_DEFAULT_STRATEGY) -> bytes:
    # the LZ arm at zlib's levels 1-9 goes through libdeflate where the
    # system has it; other strategies (libdeflate has none), level 0, the
    # -1 default and levels zlib rejects stay on stdlib zlib
    if strategy == zlib.Z_DEFAULT_STRATEGY and 1 <= level <= 9:
        compress = _system_lib("deflate", _bind_deflate)
        if compress is not None:
            return compress(data, level)
    c = zlib.compressobj(level, zlib.DEFLATED, -15, 8, strategy)
    return c.compress(data) + c.flush()


def _thread_handles(alloc, free):
    """``get(*args)``: this thread's C handle from ``alloc(*args)``, one per
    argument tuple, made on first use and freed with the thread.
    libdeflate's compressors and decompressors are not thread-safe, and
    Spark's local mode encodes and decodes on many threads of one process."""

    class Handle:
        def __init__(self, args):
            self.ptr = alloc(*args)
            if not self.ptr:
                raise MemoryError(f"{alloc.__name__}{args} failed")

        def __del__(self):
            free(self.ptr)

    tls = threading.local()

    def get(*args):
        handles = getattr(tls, "handles", None)
        if handles is None:
            handles = tls.handles = {}
        handle = handles.get(args)
        if handle is None:
            handle = handles[args] = Handle(args)
        return handle.ptr

    return get


def _bind_deflate(lib):
    """``compress(data, level)`` over libdeflate's one-shot raw deflate:
    one compressor per thread and level; the output buffer is sized per
    call from the compressor's bound and not kept."""
    alloc = lib.libdeflate_alloc_compressor
    alloc.restype = ctypes.c_void_p
    alloc.argtypes = [ctypes.c_int]
    free = lib.libdeflate_free_compressor
    free.restype = None
    free.argtypes = [ctypes.c_void_p]
    bound = lib.libdeflate_deflate_compress_bound
    bound.restype = ctypes.c_size_t
    bound.argtypes = [ctypes.c_void_p, ctypes.c_size_t]
    run = lib.libdeflate_deflate_compress
    run.restype = ctypes.c_size_t
    run.argtypes = [ctypes.c_void_p, ctypes.c_char_p, ctypes.c_size_t,
                    ctypes.c_char_p, ctypes.c_size_t]
    compressor = _thread_handles(alloc, free)

    def compress(data, level: int) -> bytes:
        comp = compressor(level)
        src = data if isinstance(data, bytes) else bytes(data)
        cap = bound(comp, len(src))
        out = ctypes.create_string_buffer(cap)
        n = run(comp, src, len(src), out, cap)
        if n == 0:  # cannot happen at the bound; never emit a broken block
            raise ValueError("libdeflate: output exceeded its own bound")
        return ctypes.string_at(out, n)

    return compress


def _bind_inflate(lib):
    """``(call, size)`` over libdeflate's one-shot raw inflate, for
    ``_c_decoder``: one decompressor per thread. libdeflate tells corrupt
    data (``call`` raises ValueError) from an output larger than the
    buffer (``call`` returns -1), so the retry is one MAX_BLOCK try.
    Like stdlib zlib it ignores bytes after the final deflate block."""
    alloc = lib.libdeflate_alloc_decompressor
    alloc.restype = ctypes.c_void_p
    alloc.argtypes = []
    free = lib.libdeflate_free_decompressor
    free.restype = None
    free.argtypes = [ctypes.c_void_p]
    run = lib.libdeflate_deflate_decompress
    run.restype = ctypes.c_int
    run.argtypes = [ctypes.c_void_p, ctypes.c_char_p, ctypes.c_size_t, ctypes.c_void_p,
                    ctypes.c_size_t, ctypes.POINTER(ctypes.c_size_t)]
    decompressor = _thread_handles(alloc, free)

    def call(src, dst, cap):
        n = ctypes.c_size_t()
        rc = run(decompressor(), src, len(src), dst, cap, ctypes.byref(n))
        if rc == 0:
            return n.value
        if rc == 3:  # LIBDEFLATE_INSUFFICIENT_SPACE
            return -1
        # LIBDEFLATE_SHORT_OUTPUT (2) needs a NULL size pointer
        raise ValueError(f"libdeflate: bad data (result {rc})")

    return call, lambda src: MAX_BLOCK


def _inflate(data: bytes) -> bytes:
    return zlib.decompress(data, wbits=-15)


_SNAPPY = pa.Codec("snappy")
_LZ4 = pa.Codec("lz4_raw")


@functools.cache
def _zstd_codec(level: int) -> pa.Codec:
    return pa.Codec("zstd", compression_level=level)


def _snappy_decompress(data: bytes) -> bytes:
    # a snappy block opens with its uncompressed length (LEB128 varint),
    # the exact size pyarrow's decompress needs
    ulen = 0
    shift = 0
    pos = 0
    while True:
        if pos >= len(data):
            raise ValueError("snappy: truncated length preamble")
        byte = data[pos]
        pos += 1
        ulen |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return bytes(_SNAPPY.decompress(data, decompressed_size=ulen))


def lz4_block_size(data: bytes) -> int:
    """Exact decompressed size of one LZ4 block from a header-only walk.

    LZ4 block framing does not carry the output size and ORC's 3-byte
    block headers only carry the COMPRESSED length — this scan (skip
    literals, sum lengths, never copy a byte) recovers it, so the liblz4
    decoder can tell an output larger than its working buffer from a
    corrupt block."""
    mb = bytes(data)
    n = len(mb)
    pos = 0
    out_len = 0
    while pos < n:
        token = mb[pos]
        pos += 1
        lit_len = token >> 4
        if lit_len == 15:
            while True:
                if pos >= n:
                    raise ValueError("lz4: truncated literal length")
                b = mb[pos]
                pos += 1
                lit_len += b
                if b != 255:
                    break
        pos += lit_len
        if pos > n:
            raise ValueError("lz4: truncated literals")
        out_len += lit_len
        if pos >= n:
            break
        pos += 2  # match offset (validated by the real decoder)
        if pos > n:
            raise ValueError("lz4: truncated offset")
        match_len = (token & 0xF) + 4
        if (token & 0xF) == 15:
            while True:
                if pos >= n:
                    raise ValueError("lz4: truncated match length")
                b = mb[pos]
                pos += 1
                match_len += b
                if b != 255:
                    break
        out_len += match_len
    return out_len


def _bind_lz4(lib):
    f = lib.LZ4_decompress_safe
    f.restype = ctypes.c_int
    f.argtypes = [ctypes.c_char_p, ctypes.c_void_p, ctypes.c_int, ctypes.c_int]
    return (lambda src, dst, cap: f(src, dst, len(src), cap)), lz4_block_size


def _bind_zstd(lib):
    f = lib.ZSTD_decompress
    f.restype = ctypes.c_size_t
    f.argtypes = [ctypes.c_void_p, ctypes.c_size_t, ctypes.c_char_p, ctypes.c_size_t]
    is_error = lib.ZSTD_isError
    is_error.restype = ctypes.c_uint
    is_error.argtypes = [ctypes.c_size_t]
    bound = lib.ZSTD_decompressBound
    bound.restype = ctypes.c_ulonglong
    bound.argtypes = [ctypes.c_char_p, ctypes.c_size_t]

    def call(src, dst, cap):
        n = f(dst, cap, src, len(src))
        return -1 if is_error(n) else n

    def size(src):
        n = bound(src, len(src))
        if n >= (1 << 64) - 2:  # ZSTD_CONTENTSIZE_ERROR / _UNKNOWN
            raise ValueError("zstd: libzstd rejected the frame")
        return n

    return call, size


@functools.cache
def _system_lib(name: str, bind):
    """``bind(lib)`` over the system C library lib<name>, or None when it
    is absent. Loaded on first use: find_library runs ldconfig."""
    path = ctypes.util.find_library(name)
    if path is None:
        return None
    try:
        return bind(ctypes.CDLL(path))
    except (OSError, AttributeError):
        return None


def _c_decoder(name: str, bind, fallback=None):
    """Block decoder over a system library's one-shot decompress call.

    ``bind(lib)`` returns ``(call, size)``: ``call(src, dst, cap)`` writes
    into the ``cap``-byte buffer at address ``dst`` and returns the output
    length, or -1 on failure; ``size(src)`` is the capacity to retry at.
    ORC framing carries only the COMPRESSED length, so the first try's
    buffer is sized from it, per call, and no buffer outlives its call
    (Spark's local mode decodes on many threads of one process; an 8 MiB
    buffer kept per thread shows up in peak RSS). A failure may be
    corruption OR an output larger than the buffer (a foreign writer may
    declare a bigger compressionBlockSize — the 23-bit header caps only
    the COMPRESSED chunk): liblz4 and libzstd cannot tell which, so their
    ``size`` is the exact output size (or libzstd's bound) and a failure
    within it is corruption; libdeflate can, so it raises on corrupt data
    and retries at MAX_BLOCK. A block that fails at its retry size raises
    ValueError, or goes to ``fallback`` when there is one (stdlib zlib's
    inflate has no output cap). Without the library ``fallback`` decodes,
    or OrcUnsupportedError names the library."""

    def decode(data: bytes) -> bytes:
        bound = _system_lib(name, bind)
        if bound is None:
            if fallback is not None:
                return fallback(data)
            raise _errors().OrcUnsupportedError(
                f"decoding this codec needs the system library lib{name}, "
                "which is not installed")
        call, size = bound
        cap = min(MAX_BLOCK, max(LZ_BLOCK, 4 * len(data)))
        buf = np.empty(cap, dtype=np.uint8)  # untouched pages cost nothing
        n = call(data, buf.ctypes.data, cap)
        if n < 0:
            need = size(data)
            if need > cap:
                buf = np.empty(need, dtype=np.uint8)
                n = call(data, buf.ctypes.data, need)
            if n < 0:
                if fallback is not None:
                    return fallback(data)
                raise ValueError(f"lib{name} rejected the block")
        return buf[:n].tobytes()

    return decode


# Every encoder takes (data, level); codecs without a level ignore it.
_ENCODERS = {
    "zlib": _deflate,
    "snappy": lambda b, lv: bytes(_SNAPPY.compress(b)),
    "lz4": lambda b, lv: bytes(_LZ4.compress(b)),
    "zstd": lambda b, lv: bytes(_zstd_codec(lv).compress(b)),
    "lzo": lambda b, lv: lzo1x_compress(b),
}
_DECODERS = {
    "zlib": _c_decoder("deflate", _bind_inflate, fallback=_inflate),
    "snappy": _snappy_decompress,
    "lz4": _c_decoder("lz4", _bind_lz4),
    "zstd": _c_decoder("zstd", _bind_zstd),
    "lzo": lzo1x_decompress,
}
CODECS = ("none", "zlib", "snappy", "lzo", "lz4", "zstd")


def _errors():
    # imported on use: orcfile's package init imports the reader, which
    # imports this module
    from orc_rs_spark.orcfile import errors

    return errors


def _unknown_codec(codec: str):
    return _errors().OrcUnsupportedError(f"unknown compression codec {codec!r}")


def block_compress(data: bytes, codec: str = "zlib", level: int | None = None,
                   max_block: int | None = None,
                   strategy: int = zlib.Z_DEFAULT_STRATEGY) -> bytes:
    """Frame ``data`` into compressed blocks; keeps originals when smaller.

    ``level`` is the codec's own compression level (zlib 1-9, zstd 1-22);
    ``None`` picks the codec default (DEFAULT_LEVELS — zlib 6, zstd 3);
    snappy/lz4/lzo have no level knob and ignore it; a zlib level that
    stdlib zlib rejects raises its ValueError whether or not libdeflate
    is present. ``strategy`` is zlib's deflate strategy: the default
    (LZ matching) encodes through libdeflate where it is installed;
    ``zlib.Z_HUFFMAN_ONLY`` encodes through stdlib zlib, skips the LZ
    match search and only Huffman-codes the bytes, which is smaller on
    streams whose repeats are single bytes, not strings (see
    ``chunk._maybe_block``). Both emit plain raw deflate, so the block
    still reads as ``zlib``; other codecs reject a strategy.
    ``max_block`` caps the DECOMPRESSED block size below the format's
    8 MiB header limit — pass the file's declared compressionBlockSize
    when appending sections to a foreign file (readers may size their
    buffers from that declaration). Each codec has one encoder (see the module docstring);
    any block it fails to shrink takes the is-original escape, so output
    never grows beyond 3 bytes per block."""
    if codec == "none":
        return data
    if codec not in _ENCODERS:
        raise _unknown_codec(codec)
    if level is None:
        level = DEFAULT_LEVELS.get(codec, 0)
    cap = MAX_BLOCK if codec == "zlib" else LZ_BLOCK
    if max_block is not None:
        cap = min(cap, max_block)
    encode = _ENCODERS[codec]
    if strategy != zlib.Z_DEFAULT_STRATEGY:
        if codec != "zlib":
            raise ValueError(f"a deflate strategy applies to zlib blocks, not {codec!r}")
        encode = functools.partial(_deflate, strategy=strategy)
    out: list = []
    for i in range(0, len(data), cap):
        block = data[i : i + cap]
        comp = encode(block, level)
        if len(comp) < len(block):
            header = (len(comp) << 1) | 0
            out.append(header.to_bytes(3, "little"))
            out.append(comp)
        else:
            header = (len(block) << 1) | 1
            out.append(header.to_bytes(3, "little"))
            out.append(block)
    return b"".join(out)


def iter_blocks(data, codec: str, pos: int = 0):
    """Yield the decompressed blocks of the ORC-framed stream ``data``,
    starting at the block boundary ``pos``. Lazy, so a positional reader
    stops decoding once it has the bytes it needs.

    A stream that ends inside a block header or a block, or a block the
    codec cannot decode, raises OrcFormatError naming the codec (chained
    to the decoder's own error); an unknown codec or a missing system
    library raises OrcUnsupportedError."""
    decode = _DECODERS.get(codec)
    if decode is None:
        raise _unknown_codec(codec)
    n = len(data)
    while pos < n:
        if pos + 3 > n:
            raise _errors().OrcFormatError(
                f"{codec}: stream ends inside a block header ({n - pos} of 3 bytes)")
        header = int.from_bytes(data[pos : pos + 3], "little")
        pos += 3
        length = header >> 1
        block = bytes(data[pos : pos + length])
        if len(block) != length:
            raise _errors().OrcFormatError(f"{codec}: compressed stream truncated")
        pos += length
        if header & 1:
            yield block
            continue
        try:
            piece = decode(block)
        except (ValueError, OSError, zlib.error) as e:
            errors = _errors()
            if isinstance(e, errors.OrcError):  # a missing system library
                raise
            raise errors.OrcFormatError(f"{codec}: corrupt compressed block ({e})") from e
        yield piece


def block_decompress(data: bytes, codec: str = "zlib") -> bytes:
    """Inverse of ``block_compress`` over a whole ORC-framed stream."""
    if codec == "none":
        return data
    return b"".join(iter_blocks(data, codec))
