"""ORC file writer: wire-compatible encode side of orcfile/reader.py.

The reference is decode-only; this closes the loop — files written here
are read back by Spark's native JVM ORC reader (the cross-engine proof in
tests/test_orcfile.py) and by our own reader. Layout per the public ORC v1
spec: 3-byte "ORC" header, stripes (data streams then a protobuf stripe
footer), file footer (type tree, stripe directory, column statistics),
postscript, 1-byte postscript length.

Encoding choices (all DIRECT_V2-era): ints/dates through RLEv2, strings
and binary direct (RLEv2 LENGTH + payload) or sorted DICTIONARY_V2,
boolean/byte RLE, raw-LE floats, timestamps as base-2015 seconds + nano
SECONDARY with ORC's trailing-zero suppression, decimals as unbounded
zigzag varints + RLEv2 scale stream. Files carry ROW_INDEX row groups
(default stride 10000) with positions + per-group statistics at every
nesting level, optional per-group bloom filters, a Metadata section of
per-stripe statistics, and footer min/max (row_index_stride=0 restores
the plain layout). Streams are individually block-framed when
compression is zlib.
"""

from __future__ import annotations

import re
import struct as _struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from orc_rs_spark.kernels.blockcomp import LZ_BLOCK, block_compress
from orc_rs_spark.kernels.byte_rle import boolean_rle_encode, byte_rle_encode
from orc_rs_spark.kernels.rlev2 import rlev2_encode
from orc_rs_spark.kernels.varint import uvarint
from orc_rs_spark.orcfile import proto
from orc_rs_spark.orcfile.reader import TS_BASE_SECONDS

# ------------------------------------------------------- protobuf encoder


def _field_varint(num: int, val: int) -> bytes:
    return uvarint(num << 3) + uvarint(val)


def _field_bytes(num: int, payload: bytes) -> bytes:
    return uvarint((num << 3) | 2) + uvarint(len(payload)) + payload


def _field_packed(num: int, vals: list[int]) -> bytes:
    body = b"".join(uvarint(v) for v in vals)
    return _field_bytes(num, body)


def _field_sint(num: int, v: int) -> bytes:
    """sint64 field: zigzag varint."""
    u = (v << 1) if v >= 0 else ((-v) << 1) - 1
    return uvarint(num << 3) + uvarint(u)


def _field_double(num: int, v: float) -> bytes:
    return uvarint((num << 3) | 1) + _struct.pack("<d", v)


_INT_STAT_KINDS = ("byte", "short", "int", "long")
_STR_STAT_KINDS = ("string", "varchar", "char")


_I64_MAX = (1 << 63) - 1


def _stats_body(n_values: int, has_null: bool, kind: str | None = None,
                mn=None, mx=None, sm=None) -> bytes:
    """ColumnStatistics protobuf body (counts + typed min/max/sum when
    given). Date bounds arrive as epoch days, timestamp bounds as UTC
    millis; ``sm`` is the exact column sum (int kinds -> IntegerStatistics
    sum, float/double -> DoubleStatistics sum, boolean -> BucketStatistics
    true count) — omitted when it cannot be represented (beyond sint64),
    matching ORC Java's treat-overflow-as-unknown."""
    body = _field_varint(1, int(n_values))
    if kind in _INT_STAT_KINDS and (mn is not None or sm is not None):
        sub = b""
        if mn is not None and mx is not None:
            sub += _field_sint(1, int(mn)) + _field_sint(2, int(mx))
        if sm is not None and -_I64_MAX - 1 <= int(sm) <= _I64_MAX:
            sub += _field_sint(3, int(sm))
        if sub:
            body += _field_bytes(2, sub)
    elif kind in ("float", "double") and (mn is not None or sm is not None):
        sub = b""
        if mn is not None and mx is not None and mn == mn and mx == mx:
            # NaN min/max says nothing: omit
            sub += _field_double(1, float(mn)) + _field_double(2, float(mx))
        if sm is not None and sm == sm:
            sub += _field_double(3, float(sm))
        if sub:
            body += _field_bytes(3, sub)
    elif mn is not None and mx is not None:
        if kind in _STR_STAT_KINDS:
            body += _field_bytes(4, _field_bytes(1, str(mn).encode()) + _field_bytes(2, str(mx).encode()))
        elif kind == "date":
            body += _field_bytes(7, _field_sint(1, int(mn)) + _field_sint(2, int(mx)))
        elif kind in ("timestamp", "timestamp_instant"):
            pair = (_field_sint(1, int(mn)) + _field_sint(2, int(mx))
                    + _field_sint(3, int(mn)) + _field_sint(4, int(mx)))
            body += _field_bytes(9, pair)
    if kind == "boolean" and sm is not None:
        body += _field_bytes(5, _field_packed(1, [int(sm)]))
    body += _field_varint(10, 1 if has_null else 0)
    return body


# ------------------------------------------------------------ type tree

_KIND = {
    "boolean": 0, "byte": 1, "short": 2, "int": 3, "long": 4, "float": 5,
    "double": 6, "string": 7, "binary": 8, "timestamp": 9, "list": 10,
    "map": 11, "struct": 12, "union": 13, "decimal": 14, "date": 15,
    "varchar": 16, "char": 17,
}

_STREAM_ENUM = {
    "PRESENT": 0, "DATA": 1, "LENGTH": 2, "DICTIONARY_DATA": 3,
    "SECONDARY": 5, "ROW_INDEX": 6,
}
_STREAM_NAME = {v: k for k, v in _STREAM_ENUM.items()}


def _arrow_to_orc_kind(t: pa.DataType) -> str:
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_int8(t):
        return "byte"
    if pa.types.is_int16(t):
        return "short"
    if pa.types.is_int32(t):
        return "int"
    if pa.types.is_int64(t):
        return "long"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date32(t):
        return "date"
    if pa.types.is_decimal(t):
        if not pa.types.is_decimal128(t):
            # write_column splits mantissas as 2x int64 words (decimal128);
            # decimal256 would silently corrupt
            raise TypeError(f"only decimal128 maps to ORC decimal, got {t}")
        return "decimal"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list"
    if pa.types.is_map(t):
        return "map"
    if pa.types.is_struct(t):
        return "struct"
    if pa.types.is_union(t):
        return "union"
    raise TypeError(f"no ORC mapping for arrow type {t}")


def _flatten_types(schema_or_type, out: list, field_meta=None) -> int:
    """Pre-order walk assigning ORC column ids; returns this node's id.

    A string field may carry Arrow field metadata ``orc_type`` of
    ``varchar(N)`` / ``char(N)`` to write the length-bounded ORC kinds
    (maximum_length carried per the reference, src/schema.rs:185-200)."""
    my_id = len(out)
    if isinstance(schema_or_type, pa.Schema):
        node = {"kind": "struct", "names": list(schema_or_type.names), "subtypes": [],
                "type": None}
        out.append(node)
        for f in schema_or_type:
            node["subtypes"].append(_flatten_types(f.type, out, f.metadata))
        return my_id
    t = schema_or_type
    kind = _arrow_to_orc_kind(t)
    max_length = 0
    if field_meta and b"orc_type" in field_meta:
        spec = field_meta[b"orc_type"].decode()
        m = re.fullmatch(r"(varchar|char)\((\d+)\)", spec)
        if not m or kind != "string":
            raise ValueError(f"orc_type metadata {spec!r} requires a string field")
        kind = m.group(1)
        max_length = int(m.group(2))
    node = {"kind": kind, "names": [], "subtypes": [], "type": t,
            "max_length": max_length}
    out.append(node)
    if kind == "struct":
        node["names"] = [t.field(i).name for i in range(t.num_fields)]
        for i in range(t.num_fields):
            node["subtypes"].append(_flatten_types(t.field(i).type, out, t.field(i).metadata))
    elif kind == "union":
        for i in range(t.num_fields):
            node["subtypes"].append(_flatten_types(t.field(i).type, out))
    elif kind == "list":
        node["subtypes"].append(_flatten_types(t.value_type, out))
    elif kind == "map":
        node["subtypes"].append(_flatten_types(t.key_type, out))
        node["subtypes"].append(_flatten_types(t.item_type, out))
    return my_id


def _type_message(node: dict) -> bytes:
    msg = _field_varint(1, _KIND[node["kind"]])
    if node["subtypes"]:
        msg += _field_packed(2, node["subtypes"])
    for name in node["names"]:
        msg += _field_bytes(3, name.encode())
    if node.get("max_length"):
        msg += _field_varint(4, node["max_length"])
    t = node["type"]
    if t is not None and pa.types.is_decimal(t):
        msg += _field_varint(5, t.precision) + _field_varint(6, t.scale)
    return msg


# --------------------------------------------------------- column encode


def _zigzag_varints(vals) -> bytes:
    """Zigzag base-128 varints for arbitrary-width Python ints (decimal
    mantissas; inverse of reader._varint_bigints)."""
    out = bytearray()
    for v in vals:
        u = ((-v) << 1) - 1 if v < 0 else v << 1
        while True:
            b = u & 0x7F
            u >>= 7
            if u:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    return bytes(out)


def _format_nanos(nanos: np.ndarray) -> np.ndarray:
    """ORC trailing-zero suppression: for z in 2..8 trailing decimal zeros,
    encoded = (n / 10^z) << 3 | (z - 1); the reader multiplies (v >> 3) by
    10^(low3 + 1) when low3 != 0. Zero nanos encode as 0."""
    n = nanos.astype(np.int64)
    work = n.copy()
    zeros = np.zeros_like(n)
    for _ in range(8):
        div = (work % 10 == 0) & (work != 0)
        work = np.where(div, work // 10, work)
        zeros += div.astype(np.int64)
    zeros = np.minimum(zeros, 8)
    supp = (zeros >= 2) & (n != 0)
    stripped = n // np.power(10, np.where(supp, zeros, 0))
    enc = np.where(supp, (stripped << 3) | (zeros - 1), n << 3)
    return np.where(n == 0, 0, enc)


def _walk_dense(types: list[dict], col: int, arr, out: dict[int, pa.Array]) -> None:
    """Collect each column id's array (nested children reached by the same
    recursion write_column uses) — pass 1 of the indexed stripe encode."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    out[col] = arr
    node = types[col]
    kind = node["kind"]
    dense = arr.drop_null() if arr.null_count else arr
    if kind == "struct":
        for i, sub in enumerate(node["subtypes"]):
            _walk_dense(types, sub, dense.field(i), out)
    elif kind == "list":
        _walk_dense(types, node["subtypes"][0], dense.flatten(), out)
    elif kind == "map":
        _walk_dense(types, node["subtypes"][0], dense.keys, out)
        _walk_dense(types, node["subtypes"][1], dense.items, out)
    elif kind == "union":
        tags = np.asarray(dense.type_codes)
        offsets = np.asarray(dense.offsets)
        for ci, sub in enumerate(node["subtypes"]):
            child = dense.field(ci).take(pa.array(offsets[tags == ci]))
            _walk_dense(types, sub, child, out)


def _dictionary_streams(sorted_dict: pa.Array) -> list[tuple[int, bytes]]:
    """DICTIONARY_DATA + symbol LENGTH raw streams for a sorted dictionary."""
    obuf = np.frombuffer(sorted_dict.buffers()[1], dtype=np.int32).astype(np.int64)
    dlens = np.diff(obuf)
    dbody = sorted_dict.buffers()[2]
    return [
        (3, dbody.to_pybytes()[: int(obuf[-1])] if dbody else b""),
        (2, rlev2_encode(dlens, signed=False, strict_orc=True)),
    ]


class _Bits:
    """Deferred boolean stream payload: raw bits, packed/encoded by the
    indexed assembler so bit offsets at row-group boundaries are exact."""

    __slots__ = ("bits",)

    def __init__(self, bits: np.ndarray):
        self.bits = np.asarray(bits, dtype=bool)


class _StripeWriter:
    def __init__(self, types: list[dict], codec: str,
                 forced_strings: dict[int, pa.Array | None] | None = None,
                 force_present: frozenset | set = frozenset(),
                 defer_bits: bool = False,
                 emit_dict_streams: bool = True,
                 codec_level: int | None = None):
        self.types = types
        self.codec = codec
        self.codec_level = codec_level
        self.forced_strings = forced_strings
        self.force_present = force_present
        self.defer_bits = defer_bits
        self.emit_dict_streams = emit_dict_streams
        self.streams: list[tuple[int, int, object]] = []  # (column, kind_enum, bytes|_Bits)
        self.encodings: dict[int, tuple[int, int]] = {}  # col -> (kind_enum, dict_size)
        self.stats: dict[int, tuple[int, bool]] = {}  # col -> (n_values, has_null)
        # col -> (min, max) captured during encode (indexed mode): ints as
        # ints, dates as epoch days, timestamps as UTC millis, strings as
        # str — EVERY level of nesting, so list children prune too
        self.minmax: dict[int, tuple] = {}
        # col -> exact non-null sum (Python int for int kinds — never
        # wraps; float for float/double; true count for boolean), feeding
        # IntegerStatistics/DoubleStatistics sum and BucketStatistics —
        # what metadata-only SUM/COUNT_IF pushdown reads back
        self.sums: dict[int, int | float] = {}

    def _emit(self, col: int, kind_enum: int, raw: bytes):
        # every compressed chunk's DECOMPRESSED size is capped at the
        # postscript's declared compressionBlockSize (LZ_BLOCK) — readers
        # may size decode buffers from that declaration, so zlib must not
        # chunk at the 8 MiB header limit (round-5 ADVICE)
        data = (
            block_compress(raw, self.codec, level=self.codec_level,
                           max_block=LZ_BLOCK)
            if self.codec != "none" else raw
        )
        self.streams.append((col, kind_enum, data))

    def _emit_bits(self, col: int, kind_enum: int, bits: np.ndarray):
        if self.defer_bits:
            self.streams.append((col, kind_enum, _Bits(bits)))
        else:
            self._emit(col, kind_enum, boolean_rle_encode(bits))

    def write_column(self, col: int, arr: pa.Array):
        node = self.types[col]
        kind = node["kind"]
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        has_null = arr.null_count > 0
        self.stats[col] = (len(arr) - arr.null_count, has_null)
        self.encodings[col] = (0, 0)  # DIRECT default
        if has_null or col in self.force_present:
            present = ~np.asarray(arr.is_null().to_numpy(zero_copy_only=False))
            self._emit_bits(col, 0, present)
            dense = arr.drop_null()
        else:
            dense = arr

        if kind == "struct":
            for i, sub in enumerate(node["subtypes"]):
                self.write_column(sub, dense.field(i))
            return
        if kind == "union":
            # ORC union (R13): TAG byte-RLE stream; child c carries only
            # rows with tag == c, in row order
            if has_null:
                raise TypeError("nullable union columns not supported (reader matches)")
            tags = np.asarray(dense.type_codes)
            self._emit(col, 1, byte_rle_encode(tags.astype(np.uint8)))
            offsets = np.asarray(dense.offsets)
            for ci, sub in enumerate(node["subtypes"]):
                sel = tags == ci
                child_rows = dense.field(ci).take(pa.array(offsets[sel]))
                self.write_column(sub, child_rows)
            return
        if kind in ("list", "map"):
            self.encodings[col] = (2, 0)  # DIRECT_V2
            offsets = dense.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            lengths = np.diff(offsets)
            self._emit(col, 2, rlev2_encode(lengths, signed=False, strict_orc=True))
            if kind == "list":
                self.write_column(node["subtypes"][0], dense.flatten())
            else:
                self.write_column(node["subtypes"][0], dense.keys)
                self.write_column(node["subtypes"][1], dense.items)
            return
        if kind == "boolean":
            v = dense.to_numpy(zero_copy_only=False).astype(bool)
            if len(v):
                self.sums[col] = int(v.sum())
            self._emit_bits(col, 1, v)
            return
        if kind == "byte":
            v = dense.to_numpy(zero_copy_only=False).astype(np.uint8)
            self._emit(col, 1, byte_rle_encode(v))
            return
        if kind in ("short", "int", "long", "date"):
            self.encodings[col] = (2, 0)
            if kind == "date":
                v = dense.cast(pa.int32()).to_numpy(zero_copy_only=False).astype(np.int64)
            else:
                v = dense.to_numpy(zero_copy_only=False).astype(np.int64)
            if len(v):
                mn, mx = int(v.min()), int(v.max())
                self.minmax[col] = (mn, mx)
                if kind != "date":  # ORC DateStatistics carries no sum
                    # int64 accumulate is exact when n*|bound| cannot reach
                    # 2^63; otherwise fall back to Python-int summation
                    if max(abs(mn), abs(mx)) < (1 << 62) // max(len(v), 1):
                        self.sums[col] = int(v.sum())
                    else:
                        self.sums[col] = int(sum(v.tolist()))
            self._emit(col, 1, rlev2_encode(v, signed=True, strict_orc=True))
            return
        if kind in ("float", "double"):
            v = dense.to_numpy(zero_copy_only=False)
            if len(v):
                self.minmax[col] = (float(v.min()), float(v.max()))
                self.sums[col] = float(v.astype(np.float64).sum())
            self._emit(col, 1, v.astype("<f4" if kind == "float" else "<f8").tobytes())
            return
        if kind in ("string", "varchar", "char", "binary"):
            if pa.types.is_large_string(dense.type):
                dense = dense.cast(pa.string())
            if pa.types.is_large_binary(dense.type):
                dense = dense.cast(pa.binary())
            if kind != "binary" and len(dense):
                mm = pc.min_max(dense)
                self.minmax[col] = (mm["min"].as_py(), mm["max"].as_py())
            sorted_dict = None
            if kind != "binary":
                if self.forced_strings is not None:
                    # stripe-global decision handed down by the indexed
                    # assembler (must be identical for every row group)
                    sorted_dict = self.forced_strings.get(col)
                elif len(dense):
                    uniq = pc.unique(dense)
                    # ORC writer heuristic: dictionary pays when the
                    # distinct ratio is low (Java default threshold 0.8)
                    if len(uniq) / len(dense) <= 0.5:
                        sorted_dict = uniq.take(pc.array_sort_indices(uniq))
            if sorted_dict is not None:
                idx = pc.index_in(dense, value_set=sorted_dict)
                idx_np = idx.to_numpy(zero_copy_only=False).astype(np.int64)
                self.encodings[col] = (3, len(sorted_dict))  # DICTIONARY_V2
                self._emit(col, 1, rlev2_encode(idx_np, signed=False, strict_orc=True))
                if self.emit_dict_streams:
                    for knum, raw in _dictionary_streams(sorted_dict):
                        self._emit(col, knum, raw)
                return
            self.encodings[col] = (2, 0)  # DIRECT_V2
            obuf = dense.buffers()[1]
            offsets = np.frombuffer(obuf, dtype=np.int32)[
                dense.offset : dense.offset + len(dense) + 1
            ].astype(np.int64)
            lengths = np.diff(offsets)
            payload = dense.buffers()[2]
            body = (
                payload.to_pybytes()[int(offsets[0]) : int(offsets[-1])]
                if payload is not None and len(dense)
                else b""
            )
            self._emit(col, 1, body)
            self._emit(col, 2, rlev2_encode(lengths, signed=False, strict_orc=True))
            return
        if kind == "timestamp":
            self.encodings[col] = (2, 0)
            ns = dense.cast(pa.timestamp("ns")).cast(pa.int64()).to_numpy(zero_copy_only=False)
            # JVM convention, byte-calibrated against Spark's ORC writer:
            # nanos = positive fraction (floor), seconds = epoch millis
            # divided with JAVA division (trunc toward zero), minus base
            floor_secs = np.floor_divide(ns, 1_000_000_000)
            nanos = ns - floor_secs * 1_000_000_000
            millis = np.floor_divide(ns, 1_000_000)
            secs_tz = np.where(millis >= 0, millis // 1000, -((-millis) // 1000))
            rel = secs_tz - TS_BASE_SECONDS
            if len(ns):
                # UTC millis, widened outward (floor min / ceil max) so the
                # statistics stay a superset of the nanosecond data
                self.minmax[col] = (
                    int(ns.min()) // 1_000_000, -((-int(ns.max())) // 1_000_000)
                )
            self._emit(col, 1, rlev2_encode(rel, signed=True, strict_orc=True))
            self._emit(col, 5, rlev2_encode(_format_nanos(nanos), signed=False, strict_orc=True))
            return
        if kind == "decimal":
            self.encodings[col] = (2, 0)
            t = dense.type
            words = np.frombuffer(dense.buffers()[1], dtype=np.int64).reshape(-1, 2)
            words = words[dense.offset : dense.offset + len(dense)]
            mantissas = [int(hi) << 64 | (int(lo) & 0xFFFFFFFFFFFFFFFF) for lo, hi in words]
            mantissas = [m - (1 << 128) if m >= (1 << 127) else m for m in mantissas]
            self._emit(col, 1, _zigzag_varints(mantissas))
            scales = np.full(len(dense), t.scale, dtype=np.int64)
            self._emit(col, 5, rlev2_encode(scales, signed=True, strict_orc=True))
            return
        raise TypeError(f"ORC writer: unsupported kind {kind!r}")


class OrcWriter:
    """Incremental ORC writer: feed Arrow batches as they arrive; a stripe
    flushes to disk every ``stripe_rows`` rows, so peak memory is bounded
    by one stripe plus one incoming batch regardless of how large the
    partition is (the reference's bounded-batch read loop,
    /root/reference/src/stripe.rs:53-84, applied to the write side —
    the whole-partition-buffering sink was a 100 TB task-memory hazard)."""

    def __init__(self, path: str, schema: pa.Schema, compression: str = "zlib",
                 stripe_rows: int = 65536, row_index_stride: int = 10000,
                 bloom_columns: list[str] | None = None,
                 user_metadata: dict[str, bytes] | None = None,
                 compression_level: int | None = None):
        self.schema = schema
        self.compression = compression
        # None = the codec's default (blockcomp.DEFAULT_LEVELS: zlib 6,
        # zstd 3); snappy/lz4 have no level knob
        self.compression_level = compression_level
        self.stripe_rows = stripe_rows
        self.types: list[dict] = []
        _flatten_types(schema, self.types)
        # opt-in per-row-group bloom filters (Java's orc.bloom.filter.columns
        # analogue); resolved to top-level column ids — int/date/string
        # kinds plus float/double (doubleToLongBits, Java addDouble parity)
        self.bloom_cols: dict[int, int] = {}  # col_id -> top-level position
        if bloom_columns:
            if row_index_stride <= 0:
                raise ValueError("bloom_columns requires a row index stride")
            root = self.types[0]
            for name in bloom_columns:
                if name not in root["names"]:
                    raise ValueError(f"bloom column {name!r} not in schema")
                pos = root["names"].index(name)
                sub = root["subtypes"][pos]
                kind = self.types[sub]["kind"]
                if kind not in ("byte", "short", "int", "long", "date",
                                "float", "double", "string", "varchar", "char"):
                    raise ValueError(f"bloom filters unsupported for {kind} column {name!r}")
                self.bloom_cols[sub] = pos
        self.row_index_stride = row_index_stride
        # footer user-metadata KV pairs (UserMetadataItem, Footer field 5
        # — the surface the reference exposes via Reader::metadata,
        # src/tail.rs:100-104): caller pairs plus a writer-lineage stamp,
        # so every file records which engine produced it
        self.user_metadata: dict[str, bytes] = dict(user_metadata or {})
        if "orc_rs_spark.writer" not in self.user_metadata:
            from orc_rs_spark import __version__ as _v

            self.user_metadata["orc_rs_spark.writer"] = f"orc_rs_spark/{_v}".encode()
        # all five codec tags have real encoders, one per codec
        # (kernels/blockcomp.py): zlib (stdlib raw deflate), snappy, lz4
        # and zstd (pyarrow's C codecs), lzo (from-spec LZO1X,
        # kernels/lzo.py; the reference can't read kind 3 at all).
        self.codec_enum = {"none": 0, "zlib": 1, "snappy": 2, "lzo": 3,
                           "lz4": 4, "zstd": 5}[compression]
        self._f = open(path, "wb")
        self._f.write(b"ORC")
        self._pos = 3
        self._stripe_infos: list[dict] = []
        self._total_values = [0] * len(self.types)
        self._any_null = [False] * len(self.types)
        # per-stripe serialized ColumnStatistics (Metadata section) and
        # file-level min/max accumulators for the footer statistics
        self._stripe_stats: list[list[bytes]] = []
        self._col_min: list = [None] * len(self.types)
        self._col_max: list = [None] * len(self.types)
        self._col_sum: list = [None] * len(self.types)
        self.num_rows = 0
        self._buf: list[pa.RecordBatch] = []
        self._buf_rows = 0
        self.max_buffered_rows = 0  # high-water mark, asserted in tests
        self._closed = False

    def __enter__(self) -> "OrcWriter":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None:
            self.close()
        else:
            self.abort()

    def abort(self) -> None:
        """Close the handle WITHOUT writing a footer (the file stays
        unreadable-by-design after a failed write — no half-valid tails)."""
        if not self._closed:
            self._f.close()
            self._closed = True

    def write_batch(self, batch: pa.RecordBatch) -> None:
        if batch.num_rows == 0:
            return
        self._buf.append(batch)
        self._buf_rows += batch.num_rows
        self.max_buffered_rows = max(self.max_buffered_rows, self._buf_rows)
        while self._buf_rows >= self.stripe_rows:
            self._flush_stripe(self._take(self.stripe_rows))

    def write_table(self, table: pa.Table) -> None:
        for b in table.to_batches(max_chunksize=self.stripe_rows):
            self.write_batch(b)

    def _take(self, n: int) -> pa.Table:
        tbl = pa.Table.from_batches(self._buf, schema=self.schema)
        rest = tbl.slice(n)
        self._buf = rest.to_batches() if rest.num_rows else []
        self._buf_rows = rest.num_rows
        return tbl.slice(0, n)

    def _flush_stripe(self, tbl: pa.Table) -> None:
        if tbl.num_rows == 0:
            return
        if self.row_index_stride > 0:
            self._flush_stripe_indexed(tbl)
        else:
            self._flush_stripe_plain(tbl)

    def _write_stripe_tail(self, tbl, offset, index_len, data_len, sfooter_streams,
                           encodings, stats, stripe_stats) -> None:
        """Common stripe epilogue: footer, directory entry, accumulators."""
        sfooter = sfooter_streams
        for col in range(len(self.types)):
            enc, dsize = encodings.get(col, (0, 0))
            body = _field_varint(1, enc)
            if dsize:
                body += _field_varint(2, dsize)
            sfooter += _field_bytes(2, body)
        sfooter += _field_bytes(3, b"UTC")
        sfooter_comp = (
            block_compress(sfooter, self.compression,
                           level=self.compression_level, max_block=LZ_BLOCK)
            if self.compression != "none" else sfooter
        )
        self._f.write(sfooter_comp)
        self._pos += len(sfooter_comp)
        for col in range(len(self.types)):
            nv, hn = stats.get(col, (tbl.num_rows, False))
            self._total_values[col] += nv
            self._any_null[col] = self._any_null[col] or hn
        self._stripe_stats.append(stripe_stats)
        self._stripe_infos.append(
            {"offset": offset, "index_length": index_len, "data_length": data_len,
             "footer_length": len(sfooter_comp), "number_of_rows": tbl.num_rows}
        )
        self.num_rows += tbl.num_rows

    def _flush_stripe_plain(self, tbl: pa.Table) -> None:
        sw = _StripeWriter(self.types, self.compression,
                           codec_level=self.compression_level)
        sw.stats[0] = (tbl.num_rows, False)
        for i, sub in enumerate(self.types[0]["subtypes"]):
            sw.write_column(sub, tbl.column(i))
        offset = self._pos
        data_len = 0
        sfooter = b""
        for col, kind_enum, data in sw.streams:
            self._f.write(data)
            self._pos += len(data)
            data_len += len(data)
            sfooter += _field_bytes(
                1, _field_varint(1, kind_enum) + _field_varint(2, col) + _field_varint(3, len(data))
            )
        stripe_stats = []
        for col in range(len(self.types)):
            nv, hn = sw.stats.get(col, (tbl.num_rows, False))
            mn, mx = sw.minmax.get(col, (None, None))
            sm = sw.sums.get(col)
            self._accumulate_file_stats(col, mn, mx, sm)
            stripe_stats.append(
                _stats_body(nv, hn, self.types[col]["kind"], mn, mx, sm))
        self._write_stripe_tail(tbl, offset, 0, data_len, sfooter, sw.encodings,
                                sw.stats, stripe_stats)

    def _accumulate_file_stats(self, col: int, mn, mx, sm) -> None:
        if mn is not None:
            self._col_min[col] = mn if self._col_min[col] is None else min(self._col_min[col], mn)
            self._col_max[col] = mx if self._col_max[col] is None else max(self._col_max[col], mx)
        if sm is not None:
            self._col_sum[col] = sm if self._col_sum[col] is None else self._col_sum[col] + sm

    def _flush_stripe_indexed(self, tbl: pa.Table) -> None:
        """Stripe with ROW_INDEX streams: every row group's streams start at
        recorded positions. Value streams restart their runs and compression
        blocks at group boundaries (positions are then plain offsets);
        bit-packed boolean streams stay CONTINUOUS — group positions carry
        the in-byte bit offset, exactly like the Java writer — so unindexed
        readers decode the stripe unchanged."""
        stride = self.row_index_stride
        n = tbl.num_rows
        types = self.types
        comp = self.compression != "none"
        groups = [(s, min(stride, n - s)) for s in range(0, n, stride)]

        # ---- pass 1: stripe-wide facts that must not vary per group:
        # which columns need a PRESENT stream, and each string column's
        # dictionary-vs-direct decision (with its stripe-global dictionary)
        dense_cols: dict[int, pa.Array] = {}
        for i, sub in enumerate(types[0]["subtypes"]):
            _walk_dense(types, sub, tbl.column(i), dense_cols)
        force_present = frozenset(c for c, a in dense_cols.items() if a.null_count > 0)
        forced: dict[int, pa.Array | None] = {}
        for c, a in dense_cols.items():
            if types[c]["kind"] in _STR_STAT_KINDS:
                d = a.drop_null() if a.null_count else a
                if pa.types.is_large_string(d.type):
                    d = d.cast(pa.string())
                forced[c] = None
                if len(d):
                    uniq = pc.unique(d)
                    if len(uniq) / len(d) <= 0.5:
                        forced[c] = uniq.take(pc.array_sort_indices(uniq))

        # ---- pass 2: encode each row group with restarted runs
        chunk_lists: dict[tuple[int, int], list] = {}
        order: list[tuple[int, int]] = []
        group_counts: dict[int, list[tuple[int, bool]]] = {}
        # per-group (min, max) captured DURING encode for every column at
        # every nesting level (int/date/ts/float/string leaves) — list
        # children get real pruning statistics, not counts-only entries
        group_mm: dict[int, list[tuple]] = {}
        group_sums: dict[int, list] = {}
        encodings: dict[int, tuple[int, int]] = {}
        for g, (s, ln) in enumerate(groups):
            mw = _StripeWriter(types, "none", forced_strings=forced,
                               force_present=force_present, defer_bits=True,
                               emit_dict_streams=False)
            mw.stats[0] = (ln, False)
            gt = tbl.slice(s, ln)
            for i, sub in enumerate(types[0]["subtypes"]):
                mw.write_column(sub, gt.column(i))
            keys = [(c, k) for c, k, _ in mw.streams]
            if g == 0:
                order = keys
                for key in order:
                    chunk_lists[key] = []
                encodings = dict(mw.encodings)
            elif keys != order:  # deterministic by construction
                raise AssertionError("row-group stream sets diverged")
            for c, k, payload in mw.streams:
                chunk_lists[(c, k)].append(payload)
            for c in range(len(types)):
                group_counts.setdefault(c, []).append(mw.stats[c])
            for c, mm in mw.minmax.items():
                group_mm.setdefault(c, [(None, None)] * len(groups))[g] = mm
            for c, gs in mw.sums.items():
                group_sums.setdefault(c, [None] * len(groups))[g] = gs

        # ---- assemble data streams + positions
        stream_bytes: dict[tuple[int, int], bytes] = {}
        stream_positions: dict[tuple[int, int], list[list[int]]] = {}
        for key in order:
            chunks = chunk_lists[key]
            if isinstance(chunks[0], _Bits):
                # continuous bit stream; byte-RLE runs + compression blocks
                # restart at each group's covering byte, positions carry
                # (pending-bytes=0, bit-in-byte) like the Java writer
                bit_counts = [len(c.bits) for c in chunks]
                bounds_bits = np.concatenate(([0], np.cumsum(bit_counts))).astype(np.int64)
                allbits = (
                    np.concatenate([c.bits for c in chunks])
                    if len(chunks) > 1 else chunks[0].bits
                )
                bytestream = np.packbits(allbits)
                seg_starts = [int(b // 8) for b in bounds_bits[:-1]] + [len(bytestream)]
                enc_parts, offs, off = [], [], 0
                for g in range(len(chunks)):
                    lo, hi = seg_starts[g], seg_starts[g + 1]
                    raw = byte_rle_encode(bytestream[lo:hi]) if hi > lo else b""
                    enc = block_compress(raw, self.compression, level=self.compression_level, max_block=LZ_BLOCK) if comp else raw
                    offs.append(off)
                    off += len(enc)
                    enc_parts.append(enc)
                stream_bytes[key] = b"".join(enc_parts)
                stream_positions[key] = [
                    ([offs[g], 0] if comp else [offs[g]]) + [0, int(bounds_bits[g] % 8)]
                    for g in range(len(chunks))
                ]
            else:
                enc_parts, offs, off = [], [], 0
                for raw in chunks:
                    enc = block_compress(raw, self.compression, level=self.compression_level, max_block=LZ_BLOCK) if comp else raw
                    offs.append(off)
                    off += len(enc)
                    enc_parts.append(enc)
                stream_bytes[key] = b"".join(enc_parts)
                stream_positions[key] = [
                    [offs[g], 0] if comp else [offs[g]] for g in range(len(chunks))
                ]

        # stripe-global dictionary streams (no positions)
        dict_streams: list[tuple[int, int, bytes]] = []
        for c, d in forced.items():
            if d is not None:
                for knum, raw in _dictionary_streams(d):
                    data = block_compress(raw, self.compression, level=self.compression_level, max_block=LZ_BLOCK) if comp else raw
                    dict_streams.append((c, knum, data))

        # ---- ROW_INDEX streams: one per column, one entry per group
        index_streams: list[tuple[int, bytes]] = []
        for col in range(len(types)):
            enc_kind, _dsize = encodings.get(col, (0, 0))
            enc_name = "DICTIONARY_V2" if enc_kind == 3 else "DIRECT_V2"
            layout = proto.stream_position_layout(types[col]["kind"], enc_name)
            entries = b""
            for g in range(len(groups)):
                slots: list[int] = []
                for kindname, extra in layout:
                    key = (col, _STREAM_ENUM[kindname])
                    if key not in stream_bytes:
                        continue
                    p = list(stream_positions[key][g])
                    want = (2 if comp else 1) + extra
                    p += [0] * (want - len(p))
                    if len(p) != want:
                        raise AssertionError(f"position width for col {col} {kindname}")
                    slots += p
                nv, hn = group_counts[col][g]
                mn, mx = group_mm.get(col, [(None, None)] * len(groups))[g]
                gsm = group_sums.get(col, [None] * len(groups))[g]
                stats = _stats_body(nv, hn, types[col]["kind"], mn, mx, gsm)
                entry = (_field_packed(1, slots) if slots else b"") + _field_bytes(2, stats)
                entries += _field_bytes(1, entry)
            index_streams.append(
                (col, block_compress(entries, self.compression,
                                level=self.compression_level, max_block=LZ_BLOCK)
                 if comp else entries)
            )

        # ---- bloom filter streams (opt-in): one BLOOM_FILTER_UTF8 per
        # chosen column, one filter per row group, Java hash contracts
        # (bytecode-verified: signed-shift Thomas Wang for ints,
        # Murmur3 hash64 seed 104729 for utf8)
        bloom_streams: dict[int, bytes] = {}
        if self.bloom_cols:
            from orc_rs_spark.kernels.orc_bloom import (
                OrcBloom,
                optimal_bits,
                optimal_k,
            )

            m = optimal_bits(stride)
            kh = optimal_k(stride, m)
            for col, pos_i in self.bloom_cols.items():
                kind = types[col]["kind"]
                body = b""
                for (s, ln) in groups:
                    sl = tbl.column(pos_i).slice(s, ln)
                    if isinstance(sl, pa.ChunkedArray):
                        sl = sl.combine_chunks()
                    dense = sl.drop_null() if sl.null_count else sl
                    bf = OrcBloom(m, kh)
                    if kind in ("byte", "short", "int", "long", "date"):
                        if kind == "date":
                            dense = dense.cast(pa.int32())
                        vals = dense.to_numpy(zero_copy_only=False).astype(np.int64)
                        bf.add_longs(vals)
                    elif kind in ("float", "double"):
                        bf.add_doubles(dense.to_numpy(zero_copy_only=False))
                    else:
                        # hash straight from the Arrow offsets/payload
                        # buffers — no per-value python objects, one
                        # slice copy (for the 7-byte tail-gather slack)
                        from orc_rs_spark.kernels.strings import arrow_string_views

                        starts, lengths, data = arrow_string_views(dense)
                        begin = int(starts[0]) if len(starts) else 0
                        end = int(starts[-1] + lengths[-1]) if len(starts) else 0
                        buf = np.zeros(end - begin + 7, dtype=np.uint8)
                        buf[: end - begin] = data[begin:end]
                        bf.add_string_parts(buf, starts - begin, lengths)
                    body += _field_bytes(1, bf.to_proto_body())
                bloom_streams[col] = (
                    block_compress(body, self.compression,
                                   level=self.compression_level, max_block=LZ_BLOCK)
                    if comp else body
                )

        # ---- physical layout: index region (ROW_INDEX then the column's
        # bloom, matching the Java writer's interleaving), data region,
        # stripe footer
        offset = self._pos
        index_len = 0
        sfooter = b""
        for col, data in index_streams:
            self._f.write(data)
            self._pos += len(data)
            index_len += len(data)
            sfooter += _field_bytes(
                1, _field_varint(1, 6) + _field_varint(2, col) + _field_varint(3, len(data))
            )
            bl = bloom_streams.get(col)
            if bl is not None:
                self._f.write(bl)
                self._pos += len(bl)
                index_len += len(bl)
                sfooter += _field_bytes(
                    1, _field_varint(1, 8) + _field_varint(2, col) + _field_varint(3, len(bl))
                )
        data_len = 0
        for col, kind_enum, data in (
            [(c, k, stream_bytes[(c, k)]) for c, k in order] + dict_streams
        ):
            self._f.write(data)
            self._pos += len(data)
            data_len += len(data)
            sfooter += _field_bytes(
                1, _field_varint(1, kind_enum) + _field_varint(2, col) + _field_varint(3, len(data))
            )

        # stripe-level statistics (Metadata section) + file-level min/max
        stripe_stats = []
        stats_map = {}
        for col in range(len(types)):
            nv = sum(v for v, _ in group_counts[col])
            hn = any(h for _, h in group_counts[col])
            stats_map[col] = (nv, hn)
            mns = [m for m, _ in group_mm.get(col, []) if m is not None]
            mxs = [m for _, m in group_mm.get(col, []) if m is not None]
            sms = [x for x in group_sums.get(col, []) if x is not None]
            sm = sum(sms) if sms else None
            mn = min(mns) if mns else None
            mx = max(mxs) if mxs else None
            self._accumulate_file_stats(col, mn, mx, sm)
            stripe_stats.append(_stats_body(nv, hn, types[col]["kind"], mn, mx, sm))
        self._write_stripe_tail(tbl, offset, index_len, data_len, sfooter,
                                encodings, stats_map, stripe_stats)

    def close(self) -> None:
        if self._closed:
            return
        if self._buf_rows:
            self._flush_stripe(self._take(self._buf_rows))
        content_length = self._pos

        # Metadata section: per-stripe ColumnStatistics — the stripe-level
        # pruning index prune_stripes consumes (the reference parses it at
        # src/tail.rs:113-132 but never uses it; we use it)
        metadata = b""
        if self._stripe_stats:
            for per_col in self._stripe_stats:
                ss = b"".join(_field_bytes(1, body) for body in per_col)
                metadata += _field_bytes(1, ss)
            metadata = (
                block_compress(metadata, self.compression,
                               level=self.compression_level, max_block=LZ_BLOCK)
                if self.compression != "none" else metadata
            )
            self._f.write(metadata)

        footer = _field_varint(1, 3)  # headerLength
        footer += _field_varint(2, content_length)
        for si in self._stripe_infos:
            body = (
                _field_varint(1, si["offset"])
                + _field_varint(2, si["index_length"])
                + _field_varint(3, si["data_length"])
                + _field_varint(4, si["footer_length"])
                + _field_varint(5, si["number_of_rows"])
            )
            footer += _field_bytes(3, body)
        for node in self.types:
            footer += _field_bytes(4, _type_message(node))
        for k, v in self.user_metadata.items():
            item = _field_bytes(1, k.encode("utf-8")) + _field_bytes(2, bytes(v))
            footer += _field_bytes(5, item)
        footer += _field_varint(6, self.num_rows)
        for col in range(len(self.types)):
            footer += _field_bytes(
                7,
                _stats_body(self._total_values[col], self._any_null[col],
                            self.types[col]["kind"], self._col_min[col],
                            self._col_max[col], self._col_sum[col]),
            )
        footer += _field_varint(8, self.row_index_stride)
        footer += _field_varint(9, 1)  # writer: ORC C++ code slot (non-Java)
        footer_comp = (
            block_compress(footer, self.compression,
                           level=self.compression_level, max_block=LZ_BLOCK)
            if self.compression != "none" else footer
        )
        self._f.write(footer_comp)

        ps = _field_varint(1, len(footer_comp))
        ps += _field_varint(2, self.codec_enum)
        ps += _field_varint(3, LZ_BLOCK)
        ps += _field_packed(4, [0, 12])
        ps += _field_varint(5, len(metadata))
        ps += _field_varint(6, 6)  # writerVersion
        ps += _field_bytes(8000, b"ORC")
        if len(ps) > 255:
            raise ValueError("postscript too long")
        self._f.write(ps)
        self._f.write(bytes([len(ps)]))
        self._f.close()
        self._closed = True


def write_orc(table: pa.Table | pa.RecordBatch, path: str, compression: str = "zlib",
              stripe_rows: int = 65536, row_index_stride: int = 10000,
              bloom_columns: list[str] | None = None,
              user_metadata: dict[str, bytes] | None = None,
              compression_level: int | None = None) -> None:
    """Write an Arrow table as one ORC file (row-group indexed by default)."""
    if isinstance(table, pa.RecordBatch):
        table = pa.Table.from_batches([table])
    w = OrcWriter(path, table.schema, compression=compression, stripe_rows=stripe_rows,
                  row_index_stride=row_index_stride, bloom_columns=bloom_columns,
                  user_metadata=user_metadata, compression_level=compression_level)
    w.write_table(table)
    w.close()
