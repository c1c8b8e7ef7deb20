"""Standalone whole-chunk integer codecs: frame-of-reference, bit-packing,
sorted dictionary, frequency-ranked dictionary, raw.

These are the north-star codecs absent from the reference (SURVEY.md §2.5):
FoR and plain bit-packing as single-header chunk formats (fully vectorized,
one NumPy pass per chunk — no per-frame loop; on the delta-vs-FoR tradeoff
see "Can Delta Compete with Frame-of-Reference for Lightweight Integer
Compression?", VLDB 2024 — PAPERS.md — which motivates keeping both and
letting the measured-trial selector choose), sorted dictionary per the ORC
dictionary requirement (/root/reference/src/column_reader/binary_reader.rs:154-230
reads one; ORC spec requires sorted symbol order), and a raw little-endian
fallback for incompressible data. The rank dictionary orders its symbols
by descending frequency instead, so Zipf-distributed tokens get small
ranks that fit one or two varint bytes and leave zlib a skewed byte
stream to work on; writing those bytes as planes lets zlib's Huffman
stage code them close to the ranks' zero-order entropy.

Layout conventions (self-describing per chunk, all lengths varint):
- for:     varint(zigzag(min)) + 1B width + bitpacked(v - min)
- bitpack: 1B width + bitpacked(zigzag(v))
- dict:    varint(n_dict) + varint(len(dict_stream)) + rlev2(sorted values)
           + rlev2(indices, unsigned)
- rankplanes: varint(n_dict) + varint(len(dict_stream))
           + rlev2(values by descending frequency, ties by ascending
             value) + the ranks' LEB128 bytes as planes: plane 0 holds
             byte 0 of every rank (its low 7 bits + continuation flag),
             plane 1 byte 1 of every rank >= 128, and so on. Each byte
             position gets its own run of bytes, so the block
             compressor's Huffman stage sees each position's statistics
             apart (the control/data split of Stream VByte, Lemire et
             al. 2018); both directions are a few whole-array ops per
             plane.
- rankdict (decode only, chunk format v3): the same header and
           dictionary + varint(rank of each value), in value order
- raw:     1B item size (4|8) + little-endian values
"""

from __future__ import annotations

import numpy as np

from orc_rs_spark.kernels.bitpack import bit_lengths, bitpack, bitunpack
from orc_rs_spark.kernels.rlev2 import rlev2_decode, rlev2_encode
from orc_rs_spark.kernels.varint import uvarint, varint_decode, varint_encode
from orc_rs_spark.kernels.zigzag import zigzag_decode, zigzag_encode


# ----------------------------------------------------------- frame of ref


def for_encode(values: np.ndarray) -> bytes:
    v = np.ascontiguousarray(values, dtype=np.int64)
    if len(v) == 0:
        return b""
    base = int(v.min())
    adj = v.astype(np.uint64) - np.int64(base).astype(np.uint64)  # wraparound-exact
    w = max(1, int(bit_lengths(adj).max(initial=1)))
    return (
        varint_encode(zigzag_encode(np.array([base], dtype=np.int64)))
        + bytes([w])
        + bitpack(adj, w)
    )


def for_decode(buf: bytes, count: int) -> np.ndarray:
    if count == 0:
        return np.empty(0, dtype=np.int64)
    b = np.frombuffer(buf, dtype=np.uint8)
    try:
        u, used = varint_decode(b, 1)
        if used == len(b):
            raise ValueError("stream truncated after the base")
        adj = bitunpack(b[used + 1 :], int(b[used]), count)
    except ValueError as e:
        raise ValueError(f"for: {e}") from None
    return (adj + np.int64(zigzag_decode(u)[0]).astype(np.uint64)).astype(np.int64)


# ----------------------------------------------------------- bit packing


def bitpack_encode(values: np.ndarray) -> bytes:
    v = np.ascontiguousarray(values, dtype=np.int64)
    if len(v) == 0:
        return b""
    z = zigzag_encode(v)
    w = max(1, int(bit_lengths(z).max(initial=1)))
    return bytes([w]) + bitpack(z, w)


def bitpack_decode(buf: bytes, count: int) -> np.ndarray:
    if count == 0:
        return np.empty(0, dtype=np.int64)
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        raise ValueError(f"bitpack: empty stream for {count} values")
    try:
        return zigzag_decode(bitunpack(b[1:], int(b[0]), count))
    except ValueError as e:
        raise ValueError(f"bitpack: {e}") from None


# ----------------------------------------------------------- dictionary


# integer codecs whose streams open with the header and dictionary that
# read_dictionary parses
DICTIONARY_CODECS = ("dict", "rankdict", "rankplanes")


def read_dictionary(b: np.ndarray, count: int, codec: str) -> tuple[np.ndarray, int]:
    """(dictionary values, offset of the index or rank bytes): the header
    and RLEv2 dictionary that every codec in ``DICTIONARY_CODECS`` opens
    with. Every one of the stream's ``count`` values decodes to one of
    these, so a value not among them is not in the stream. Corrupt input
    raises ValueError naming ``codec``."""
    try:
        hdr, used = varint_decode(b, 2)
    except ValueError as e:
        raise ValueError(f"{codec}: header: {e}") from None
    n_dict, dict_len = int(hdr[0]), int(hdr[1])
    if n_dict == 0:
        raise ValueError(f"{codec}: empty dictionary for {count} values")
    if used + dict_len > len(b):
        raise ValueError(f"{codec}: {dict_len}-byte dictionary runs past the {len(b)}-byte buffer")
    try:
        values = rlev2_decode(b[used : used + dict_len], n_dict, signed=True)
    except ValueError as e:
        raise ValueError(f"{codec}: {e}") from None
    return values, used + dict_len


def _check_ranks(ranks: np.ndarray, n_dict: int, codec: str) -> None:
    if int(ranks.max()) >= n_dict:
        raise ValueError(f"{codec}: rank {int(ranks.max())} outside the {n_dict}-entry dictionary")


def dict_encode(values: np.ndarray) -> bytes:
    """Sorted symbol table (np.unique is sorted) + RLEv2 index stream.

    The sorted table makes the dictionary stream itself monotone, so it
    delta-encodes well.
    """
    v = np.ascontiguousarray(values, dtype=np.int64)
    if len(v) == 0:
        return b""
    uniq, inverse = np.unique(v, return_inverse=True)
    dict_stream = rlev2_encode(uniq, signed=True)
    idx_stream = rlev2_encode(inverse.astype(np.int64), signed=False)
    return uvarint(len(uniq)) + uvarint(len(dict_stream)) + dict_stream + idx_stream


def dict_decode(buf: bytes, count: int) -> np.ndarray:
    if count == 0:
        return np.empty(0, dtype=np.int64)
    b = np.frombuffer(buf, dtype=np.uint8)
    uniq, pos = read_dictionary(b, count, "dict")
    try:
        idx = rlev2_decode(b[pos:], count, signed=False)
    except ValueError as e:
        raise ValueError(f"dict: {e}") from None
    # as unsigned, an index that wrapped negative fails the bound check too
    _check_ranks(idx.view(np.uint64), len(uniq), "dict")
    return uniq[idx]


# ----------------------------------------------------------- rank dictionary

# value ranges up to this wide are counted with np.bincount; wider ones
# with np.unique (both give the same order)
_BINCOUNT_SPAN = 1 << 20


def _rank_table(v: np.ndarray, bincount: bool) -> tuple[np.ndarray, np.ndarray]:
    """(distinct values by descending count then ascending value, rank of
    each element of ``v``)."""
    if bincount:
        lo = v.min()
        counts = np.bincount(v - lo)
        uniq = np.flatnonzero(counts)
        order = np.argsort(-counts[uniq], kind="stable")  # uniq ascends: ties by value
        rank_of = np.empty(len(counts), dtype=np.uint32)
        rank_of[uniq[order]] = np.arange(len(uniq), dtype=np.uint32)
        return uniq[order] + lo, rank_of[v - lo]
    uniq, inverse, counts = np.unique(v, return_inverse=True, return_counts=True)
    order = np.argsort(-counts, kind="stable")
    rank_of = np.empty(len(uniq), dtype=np.uint32)
    rank_of[order] = np.arange(len(uniq), dtype=np.uint32)
    return uniq[order], rank_of[inverse]


def rankplanes_encode(values: np.ndarray) -> bytes:
    """Frequency-ranked symbol table (RLEv2), then the ranks' LEB128 bytes
    as planes: the first byte of every rank, then the second byte of every
    rank >= 128, and so on."""
    v = np.ascontiguousarray(values, dtype=np.int64)
    if len(v) == 0:
        return b""
    by_rank, ranks = _rank_table(v, int(v.max()) - int(v.min()) < _BINCOUNT_SPAN)
    dict_stream = rlev2_encode(by_rank, signed=True)
    planes = []
    s = ranks
    while len(s):
        # low 7 bits, plus the continuation bit exactly when s >= 0x80
        planes.append((s | np.minimum(s, 0x80)).astype(np.uint8))
        s = s[s >= 0x80] >> 7
    return (
        uvarint(len(by_rank)) + uvarint(len(dict_stream)) + dict_stream
        + np.concatenate(planes).tobytes()
    )


def rankplanes_decode(buf: bytes, count: int) -> np.ndarray:
    if count == 0:
        return np.empty(0, dtype=np.int64)
    b = np.frombuffer(buf, dtype=np.uint8)
    by_rank, pos = read_dictionary(b, count, "rankplanes")
    n_dict = len(by_rank)
    # a rank below n_dict has at most this many bytes
    max_planes = max(1, ((n_dict - 1).bit_length() + 6) // 7)
    dt = np.uint32 if max_planes <= 4 else np.uint64
    plane = b[pos : pos + count]
    if len(plane) < count:
        raise ValueError(f"rankplanes: plane 0 holds {len(plane)} of its {count} bytes")
    ranks = (plane & np.uint8(0x7F)).astype(dt)
    pos += count
    live = np.flatnonzero(plane >= 0x80)  # the ranks that go on to the next plane
    for j in range(1, max_planes):
        if not len(live):
            break
        plane = b[pos : pos + len(live)]
        if len(plane) < len(live):
            raise ValueError(f"rankplanes: plane {j} holds {len(plane)} of its {len(live)} bytes")
        ranks[live] |= (plane & np.uint8(0x7F)).astype(dt) << dt(7 * j)
        pos += len(live)
        live = live[plane >= 0x80]
    if len(live):
        raise ValueError(
            f"rankplanes: a rank runs past {max_planes} bytes, outside the {n_dict}-entry dictionary")
    if pos != len(b):
        raise ValueError(f"rankplanes: {len(b) - pos} bytes follow the last plane")
    _check_ranks(ranks, n_dict, "rankplanes")
    return by_rank[ranks]


def rankdict_decode(buf: bytes, count: int) -> np.ndarray:
    """Chunk format v3's rank codec: the same dictionary, then one LEB128
    varint per rank in value order. Decode only; ``rankplanes`` encodes."""
    if count == 0:
        return np.empty(0, dtype=np.int64)
    b = np.frombuffer(buf, dtype=np.uint8)
    by_rank, pos = read_dictionary(b, count, "rankdict")
    try:
        ranks, _ = varint_decode(b[pos:], count)
    except ValueError as e:
        raise ValueError(f"rankdict: {e}") from None
    _check_ranks(ranks, len(by_rank), "rankdict")
    return by_rank[ranks]


# ----------------------------------------------------------- raw


def raw_encode(values: np.ndarray) -> bytes:
    v = np.ascontiguousarray(values, dtype=np.int64)
    if len(v) == 0:
        return b""
    if v.size and (v.min() >= -(2**31)) and (v.max() < 2**31):
        return bytes([4]) + v.astype("<i4").tobytes()
    return bytes([8]) + v.astype("<i8").tobytes()


def raw_decode(buf: bytes, count: int) -> np.ndarray:
    if count == 0:
        return np.empty(0, dtype=np.int64)
    b = memoryview(buf)
    if len(b) == 0:
        raise ValueError(f"raw: empty stream for {count} values")
    size = b[0]
    if size not in (4, 8):
        raise ValueError(f"raw: item size {size}, not 4 or 8")
    if len(b) < 1 + count * size:
        raise ValueError(f"raw: {len(b) - 1} bytes hold fewer than {count} {size}-byte values")
    return np.frombuffer(b[1 : 1 + count * size], dtype=f"<i{size}").astype(np.int64)
