"""Generic any-schema columnar encode/decode.

The reference reads arbitrary ORC schemas (type tree -> readers,
/root/reference/src/schema.rs + /root/reference/src/column_reader/mod.rs:
32-267 factory); the token-table chunk format covers the north-star input.
This module closes the generality gap: encode ANY flat-ish DataFrame
(ints of all widths, floats, strings, binary, booleans, dates,
timestamps, lists of ints) into self-describing generic chunks — one
stream per column, per-column codec auto-selection, PRESENT bitmaps for
nulls — and decode it back bit-identically.

Type -> stream mapping mirrors SURVEY.md §1.2's table:
int8/16/32/64 -> int codecs; float/double -> float codec (raw/BSS);
string/binary -> string codecs; boolean -> boolean RLE; date32 -> days
through int codecs; timestamp -> micros through int codecs.

Composite types (list/struct/map, arbitrarily nested, nullable at every
level) use a recursive self-delimiting FRAME, the generic analogue of the
reference's type-tree reader factory
(/root/reference/src/column_reader/complex_type_reader.rs:13-156):

    frame := varint(len(present_rle)) present_rle   # 0 -> no nulls
             varint(len(tag)) tag                   # utf-8 codec tag
             varint(len(payload)) payload

leaf payload = dense codec bytes; list/map payload = LENGTH stream +
child frame(s); struct payload = concatenated child frames. Decimal
precision <= 18 rides the int codecs on the low mantissa word; wider
decimals split the i128 into lo/hi 64-bit streams (dec2), matching the
reference's i128 mantissa path (numeric_reader.rs:314-383).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from orc_rs_spark.chunk import _maybe_block, _scatter, _unwrap_present, _validity, _wrap_present
from orc_rs_spark.kernels.blockcomp import block_decompress
from orc_rs_spark.kernels.byte_rle import boolean_rle_decode, boolean_rle_encode
from orc_rs_spark.kernels.floats import float_decode, float_encode
from orc_rs_spark.kernels.select import INT_CODECS, STR_CODECS, encode_ints_auto, encode_strings_auto
from orc_rs_spark.kernels.varint import uvarint, varint_decode, varint_encode

GENERIC_CHUNK_DDL = (
    "part_id int, n_rows bigint, schema_json string, codecs array<string>, "
    "block_codecs array<string>, streams array<binary>, enc_bytes bigint"
)

GENERIC_ARROW_SCHEMA = pa.schema(
    [
        ("part_id", pa.int32()),
        ("n_rows", pa.int64()),
        ("schema_json", pa.string()),
        ("codecs", pa.list_(pa.string())),
        ("block_codecs", pa.list_(pa.string())),
        ("streams", pa.list_(pa.binary())),
        ("enc_bytes", pa.int64()),
    ]
)


def _encode_column(arr: pa.Array) -> tuple[str, bytes]:
    """One dense (null-free) column -> (codec tag, payload)."""
    t = arr.type
    if pa.types.is_boolean(t):
        v = arr.to_numpy(zero_copy_only=False).astype(bool)
        return "bool_rle", boolean_rle_encode(v)
    if pa.types.is_integer(t):
        v = arr.to_numpy(zero_copy_only=False).astype(np.int64)
        codec, enc = encode_ints_auto(v)
        return f"int:{codec}", enc
    if pa.types.is_floating(t):
        v = arr.to_numpy(zero_copy_only=False)
        return "float", float_encode(v)
    if pa.types.is_date32(t):
        v = arr.cast(pa.int32()).to_numpy(zero_copy_only=False).astype(np.int64)
        codec, enc = encode_ints_auto(v)
        return f"date:{codec}", enc
    if pa.types.is_timestamp(t):
        v = arr.cast(pa.int64()).to_numpy(zero_copy_only=False)
        codec, enc = encode_ints_auto(v)
        return f"ts:{codec}", enc
    if pa.types.is_decimal(t):
        # R5 pattern: the unscaled mantissa through the int codecs (the
        # reference decodes zigzag-varint mantissas + a scale stream,
        # /root/reference/src/column_reader/numeric_reader.rs:314-383;
        # here scale is fixed per column so it lives in the schema)
        if not pa.types.is_decimal128(t):
            # the 2-word mantissa split below is decimal128-only; a
            # decimal256 column would silently mis-decode
            raise TypeError(f"only decimal128 supported, got {t}")
        words = np.frombuffer(arr.buffers()[1], dtype=np.int64).reshape(-1, 2)
        words = words[arr.offset : arr.offset + len(arr)]
        if t.precision <= 18:
            codec, enc = encode_ints_auto(words[:, 0].copy())
            return f"dec:{codec}", enc
        # i128 two-word path: lo (unsigned, stored via signed view) + hi
        lo = words[:, 0].copy()
        hi = words[:, 1].copy()
        lc, lenc = encode_ints_auto(lo)
        hc, henc = encode_ints_auto(hi)
        hdr = varint_encode(np.array([len(lenc)], dtype=np.uint64))
        return f"dec2:{lc}:{hc}", hdr + lenc + henc
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        codec, enc = encode_strings_auto(arr)
        return f"str:{codec}", enc
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        # binary reuses the string machinery on raw bytes (R8)
        codec, enc = encode_strings_auto(arr)
        return f"bin:{codec}", enc
    if pa.types.is_list(t) and pa.types.is_integer(t.value_type) and arr.flatten().null_count == 0:
        offsets = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        lengths = np.diff(offsets)
        flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
        if len(flat) >= (1 << 31):
            raise ValueError("list chunk too large: values must be < 2^31")
        lc, lenc = encode_ints_auto(lengths)
        vc, venc = encode_ints_auto(flat, boundaries=np.cumsum(lengths))
        hdr = varint_encode(np.array([len(lenc), len(flat)], dtype=np.uint64))
        return f"list:{lc}:{vc}", hdr + lenc + venc
    if pa.types.is_list(t) and pa.types.is_floating(t.value_type) and arr.flatten().null_count == 0:
        offsets = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        lengths = np.diff(offsets)
        flat = arr.flatten().to_numpy(zero_copy_only=False)
        lc, lenc = encode_ints_auto(lengths)
        venc = float_encode(flat)
        hdr = varint_encode(np.array([len(lenc), len(flat)], dtype=np.uint64))
        return f"flist:{lc}", hdr + lenc + venc
    if pa.types.is_list(t) or pa.types.is_map(t) or pa.types.is_struct(t):
        return _encode_composite(arr)
    raise TypeError(f"unsupported column type for generic encode: {t}")


# --------------------------------------------------- recursive frame format


def _frame_bytes(present: np.ndarray | None, tag: str, payload: bytes) -> bytes:
    prle = b"" if present is None else boolean_rle_encode(present)
    tb = tag.encode()
    return b"".join((uvarint(len(prle)), prle, uvarint(len(tb)), tb,
                     uvarint(len(payload)), payload))


def encode_frame(arr: pa.Array) -> bytes:
    """Self-delimiting recursive frame for an arbitrary (nullable) array."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    present = _validity(arr)
    dense = arr.drop_null() if present is not None else arr
    t = dense.type
    if pa.types.is_struct(t):
        payload = b"".join(encode_frame(dense.field(i)) for i in range(t.num_fields))
        return _frame_bytes(present, f"struct:{t.num_fields}", payload)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        offsets = dense.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        lengths = np.diff(offsets)
        lc, lenc = encode_ints_auto(lengths)
        hdr = varint_encode(np.array([len(lenc)], dtype=np.uint64))
        return _frame_bytes(present, f"Lst:{lc}", hdr + lenc + encode_frame(dense.flatten()))
    if pa.types.is_map(t):
        offsets = dense.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        lengths = np.diff(offsets)
        lc, lenc = encode_ints_auto(lengths)
        hdr = varint_encode(np.array([len(lenc)], dtype=np.uint64))
        return _frame_bytes(
            present, f"Map:{lc}", hdr + lenc + encode_frame(dense.keys) + encode_frame(dense.items)
        )
    tag, payload = _encode_column(dense)
    return _frame_bytes(present, tag, payload)


def _encode_composite(arr: pa.Array) -> tuple[str, bytes]:
    """Composite column entry point: the whole column is one frame (its own
    PRESENT is inside the frame, so the caller wraps an all-valid prefix)."""
    return "frame", encode_frame(arr)


def _frame_field(buf: bytes, pos: int, what: str) -> tuple[int, int]:
    """(length header at ``pos``, position after the ``length`` bytes it
    announces); a cut header or a length past the buffer is a ValueError."""
    hdr, used = varint_decode(np.frombuffer(buf, dtype=np.uint8)[pos : pos + 10], 1)
    pos += used
    n = int(hdr[0])
    if pos + n > len(buf):
        raise ValueError(
            f"generic frame: {what} of {n} bytes at offset {pos} runs past "
            f"the {len(buf)}-byte buffer"
        )
    return n, pos


def decode_frame(buf: bytes, pos: int, n: int, dtype: pa.DataType) -> tuple[pa.Array, int]:
    """Decode one frame at ``pos`` expecting ``n`` rows of ``dtype``."""
    plen, pos = _frame_field(buf, pos, "PRESENT stream")
    present = None
    if plen:
        present = boolean_rle_decode(np.frombuffer(buf[pos : pos + plen], dtype=np.uint8), n)
        present = present.astype(bool)
        pos += plen
    n_dense = int(present.sum()) if present is not None else n
    tlen, pos = _frame_field(buf, pos, "tag")
    tag = buf[pos : pos + tlen].decode()
    pos += tlen
    paylen, pos = _frame_field(buf, pos, f"{tag!r} payload")
    end = pos + paylen
    if tag.startswith("struct:"):
        fields = []
        for i in range(dtype.num_fields):
            child, pos = decode_frame(buf, pos, n_dense, dtype.field(i).type)
            fields.append(child)
        dense = pa.StructArray.from_arrays(fields, names=[dtype.field(i).name for i in range(dtype.num_fields)])
    elif tag.startswith(("Lst:", "Map:")):
        lc = tag.partition(":")[2]
        llen, pos = _frame_field(buf, pos, f"{tag!r} LENGTH stream")
        lengths = INT_CODECS[lc][1](np.frombuffer(buf[pos : pos + llen], dtype=np.uint8), n_dense)
        pos += llen
        offsets = pa.array(np.concatenate(([0], np.cumsum(lengths))).astype(np.int32))
        n_child = int(lengths.sum())
        if tag.startswith("Lst:"):
            child, pos = decode_frame(buf, pos, n_child, dtype.value_type)
            dense = pa.ListArray.from_arrays(offsets, child)
        else:
            keys, pos = decode_frame(buf, pos, n_child, dtype.key_type)
            items, pos = decode_frame(buf, pos, n_child, dtype.item_type)
            dense = pa.MapArray.from_arrays(offsets, keys, items)
    else:
        dense = _decode_column(tag, buf[pos:end], n_dense, dtype)
        pos = end
    return _scatter(dense, present), pos


def _decode_column(tag: str, payload: bytes, n: int, dtype: pa.DataType) -> pa.Array:
    kind, _, rest = tag.partition(":")
    if kind == "bool_rle":
        return pa.array(boolean_rle_decode(payload, n))
    if kind in ("int", "date", "ts"):
        v = INT_CODECS[rest][1](payload, n)
        if kind == "int":
            return pa.array(v).cast(dtype)
        if kind == "date":
            return pa.array(v.astype(np.int32)).cast(pa.date32())
        return pa.array(v).cast(dtype)
    if kind == "float":
        return pa.array(float_decode(payload, n)).cast(dtype)
    if kind == "dec":
        unscaled = INT_CODECS[rest][1](payload, n)
        pairs = np.zeros((n, 2), dtype=np.int64)
        pairs[:, 0] = unscaled
        pairs[:, 1] = unscaled >> 63  # sign extension of the high word
        return pa.Array.from_buffers(dtype, n, [None, pa.py_buffer(pairs.tobytes())])
    if kind == "dec2":
        lc, _, hc = rest.partition(":")
        b = np.frombuffer(payload, dtype=np.uint8)
        hdr, used = varint_decode(b[:10], 1)
        llen = int(hdr[0])
        lo = INT_CODECS[lc][1](b[used : used + llen], n)
        hi = INT_CODECS[hc][1](b[used + llen :], n)
        pairs = np.empty((n, 2), dtype=np.int64)
        pairs[:, 0] = lo
        pairs[:, 1] = hi
        return pa.Array.from_buffers(dtype, n, [None, pa.py_buffer(pairs.tobytes())])
    if kind == "frame":
        arr, _ = decode_frame(bytes(payload), 0, n, dtype)
        return arr
    if kind in ("str", "bin"):
        out = STR_CODECS[rest][1](payload, n)
        return out.cast(dtype) if out.type != dtype else out
    if kind in ("list", "flist"):
        lc = rest.partition(":")[0] if kind == "list" else rest
        vc = rest.partition(":")[2] if kind == "list" else None
        b = np.frombuffer(payload, dtype=np.uint8)
        hdr, used = varint_decode(b[:20], 2)
        len_len, n_values = int(hdr[0]), int(hdr[1])
        lengths = INT_CODECS[lc][1](b[used : used + len_len], n)
        tail = b[used + len_len :]
        if kind == "list":
            flat = INT_CODECS[vc][1](tail, n_values)
        else:
            flat = float_decode(tail.tobytes(), n_values)
        offsets = np.concatenate(([0], np.cumsum(lengths)))
        values = pa.array(flat).cast(dtype.value_type)
        return pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), values)
    raise ValueError(f"unknown codec tag {tag}")


def encode_generic_batch(batch: pa.RecordBatch, part_id: int, block_codec: str = "zlib") -> dict:
    codecs = []
    block_tags = []
    streams = []
    for i, name in enumerate(batch.schema.names):
        arr = batch.column(i)
        present = _validity(arr)
        dense = arr.drop_null() if present is not None else arr
        tag, payload = _encode_column(dense)
        comp, btag = _maybe_block(_wrap_present(present, payload), block_codec)
        codecs.append(tag)
        block_tags.append(btag)
        streams.append(comp)
    return {
        "part_id": part_id,
        "n_rows": batch.num_rows,
        "schema_json": batch.schema.serialize().to_pybytes().hex(),
        "codecs": codecs,
        "block_codecs": block_tags,
        "streams": streams,
        "enc_bytes": sum(len(s) for s in streams),
    }


def decode_generic_chunk(row: dict) -> pa.RecordBatch:
    sj = row["schema_json"]
    if isinstance(sj, bytes):
        sj = sj.decode()
    schema = pa.ipc.read_schema(pa.py_buffer(bytes.fromhex(sj)))
    n = int(row["n_rows"])
    arrays = []
    for i, field in enumerate(schema):
        raw = row["streams"][i]
        bt = row["block_codecs"][i]
        buf = block_decompress(raw, bt) if bt != "none" else raw
        present, payload = _unwrap_present(bytes(buf), n)
        n_dense = int(present.sum()) if present is not None else n
        dense = _decode_column(row["codecs"][i], payload, n_dense, field.type)
        arrays.append(_scatter(dense, present))
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def encode_generic_table(df: DataFrame, block_codec: str = "zlib") -> DataFrame:
    """Any supported-schema DataFrame -> generic chunk table."""
    from pyspark import TaskContext

    def enc(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        for b in batches:
            if b.num_rows == 0:
                continue
            row = encode_generic_batch(b, pid, block_codec)
            yield pa.RecordBatch.from_pylist([row], schema=GENERIC_ARROW_SCHEMA)

    return df.mapInArrow(enc, GENERIC_CHUNK_DDL)


def decode_generic_table(chunks: DataFrame, ddl: str) -> DataFrame:
    """Generic chunk table -> rows (caller supplies the original DDL)."""

    def dec(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            for row in b.to_pylist():
                yield decode_generic_chunk(row)

    return chunks.mapInArrow(dec, ddl)
