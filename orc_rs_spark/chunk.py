"""Stripe-like encoded chunk format.

Mapping to the reference's data model (SURVEY.md §1.3): ORC stripe -> chunk
(one per group of rows inside a Spark partition); ORC stream -> one framed
binary column of the chunk row; ColumnEncoding.kind -> the per-stream
``codecs`` tags (/root/reference/src/proto/orc_proto.proto:148-162).

Chunk streams, one binary COLUMN each (`s_doc_id`, `s_n_tok`, `s_tokens`,
`s_source`) rather than ORC's single packed byte range: storing the chunk
table in parquet makes each stream independently column-prunable at the
I/O level — a metadata projection (doc_id + n_tok) never reads token
bytes off disk, which ORC's stripe layout cannot do without its (unused in
the reference, /root/reference/src/stripe.rs:171) index machinery. The
``stream_lengths`` metadata keeps the ORC stream-list view of the same
facts (/root/reference/src/proto/orc_proto.proto:121-146).

Stream roles: s_n_tok is the tokens LENGTH stream (the R12 list-offsets
pattern: /root/reference/src/column_reader/complex_type_reader.rs:130-144);
each stream carries an optional PRESENT prefix (GenericReader null demux,
/root/reference/src/column_reader/mod.rs:339-377) and is independently
block-compressed (ORC-style zlib framing) when that wins.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa

from orc_rs_spark.kernels.blockcomp import block_compress, block_decompress
from orc_rs_spark.kernels.bloom import bloom_build
from orc_rs_spark.kernels.byte_rle import boolean_rle_decode, boolean_rle_encode
from orc_rs_spark.kernels.select import INT_CODECS, STR_CODECS, encode_ints_auto, encode_strings_auto
from orc_rs_spark.kernels.varint import varint_decode, varint_encode

CODEC_VERSION = "2"  # bumped: per-stream columns replaced the packed blob

STREAMS = ("doc_id", "n_tok", "tokens", "source")
STREAM_COLS = ("s_doc_id", "s_n_tok", "s_tokens", "s_source")

# Spark-side schema of the chunk table (keep in sync with CHUNK_ARROW_SCHEMA)
CHUNK_DDL = (
    "chunk_id string, part_id int, source string, codec string, "
    "block_codec string, n_rows bigint, n_values bigint, "
    "stream_lengths array<bigint>, "
    "s_doc_id binary, s_n_tok binary, s_tokens binary, s_source binary, "
    "bloom binary, orig_bytes bigint, enc_bytes bigint, "
    "min_val bigint, max_val bigint"
)

CHUNK_ARROW_SCHEMA = pa.schema(
    [
        ("chunk_id", pa.string()),
        ("part_id", pa.int32()),
        ("source", pa.string()),
        ("codec", pa.string()),
        ("block_codec", pa.string()),
        ("n_rows", pa.int64()),
        ("n_values", pa.int64()),
        ("stream_lengths", pa.list_(pa.int64())),
        ("s_doc_id", pa.binary()),
        ("s_n_tok", pa.binary()),
        ("s_tokens", pa.binary()),
        ("s_source", pa.binary()),
        ("bloom", pa.binary()),
        ("orig_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("min_val", pa.int64()),
        ("max_val", pa.int64()),
    ]
)


def _uvarint(x: int) -> bytes:
    return varint_encode(np.array([x], dtype=np.uint64))


def _maybe_bloom(flat: np.ndarray, max_distinct: int = 1 << 16) -> bytes:
    """Bloom filters pay only on low-distinct chunks: at ~10 bits per
    distinct value a mostly-unique 1M-token chunk would spend >30% of its
    encoded size on the filter (Spark's ORC writer also defaults bloom
    off). Empty bytes = no filter = 'must decode unless min/max prunes'."""
    if len(flat) == 0:
        return b""
    sample = flat[:: max(1, len(flat) // 4096)][:4096]
    if len(np.unique(sample)) / len(sample) > 0.5 and len(flat) > max_distinct:
        return b""
    u = np.unique(flat)
    return bloom_build(u) if len(u) <= max_distinct else b""


def _list_parts(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(lengths int64, flat int64 values) from a list<int> array, zero-copy."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        raise ValueError("null token arrays not supported")
    values = arr.flatten()
    if values.null_count:
        raise ValueError("null token elements are not supported")
    offsets = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = values.to_numpy(zero_copy_only=False).astype(np.int64)
    return np.diff(offsets), flat


def _validity(arr: pa.Array) -> np.ndarray | None:
    """Validity bitmap as bool array, or None when there are no nulls."""
    if arr.null_count == 0:
        return None
    return ~np.asarray(arr.is_null().to_numpy(zero_copy_only=False))


def _wrap_present(present: np.ndarray | None, payload: bytes) -> bytes:
    """PRESENT-stream framing: varint(len(present_rle)) + present + payload.

    Mirrors the reference's GenericReader protocol — DATA streams carry only
    the non-null values; the PRESENT bitmap (boolean RLE, C2) demultiplexes
    (/root/reference/src/column_reader/mod.rs:344-351: no placeholders for
    nulls). present=None -> length 0 -> all-valid.
    """
    if present is None:
        return _uvarint(0) + payload
    pb = boolean_rle_encode(present)
    return _uvarint(len(pb)) + pb + payload


def _unwrap_present(buf: bytes, n_rows: int) -> tuple[np.ndarray | None, bytes]:
    b = np.frombuffer(buf, dtype=np.uint8)
    hdr, used = varint_decode(b[:10], 1)
    plen = int(hdr[0])
    if plen == 0:
        return None, buf[used:]
    present = boolean_rle_decode(b[used : used + plen], n_rows)
    return present, buf[used + plen :]


def _scatter(dense: pa.Array, present: np.ndarray | None) -> pa.Array:
    """Expand a dense (non-null-only) array back to full length with nulls."""
    if present is None:
        return dense
    idx = np.full(len(present), -1, dtype=np.int64)
    idx[present] = np.arange(len(dense))
    return dense.take(pa.array(idx, mask=~present))


def _maybe_block(data: bytes, block_codec: str) -> tuple[bytes, str]:
    if block_codec == "none" or len(data) < 64:
        return data, "none"
    # level 7, kept deliberately after a controlled r3 re-measure: dropping
    # to 6 saves ~6% encode wall but costs 0.1-0.7% bytes, and the
    # <=Spark-ORC size gate fails at level 6 on small tables (1.007) while
    # holding at 7 (0.989-0.999). The bytes gate wins the tradeoff.
    comp = block_compress(data, block_codec, level=7)
    if len(comp) < len(data):
        return comp, block_codec
    return data, "none"


def encode_chunk(
    batch: pa.RecordBatch, part_id: int, block_codec: str = "zlib", build_bloom: bool = False
) -> dict:
    """One RecordBatch of (doc_id, tokens, n_tok, source) -> one chunk row."""
    doc_id = batch.column("doc_id")
    tokens = batch.column("tokens")
    source = batch.column("source")
    n_rows = batch.num_rows
    if doc_id.null_count:
        raise ValueError("doc_id is the row identity and must be non-null")
    # PRESENT bitmaps (GenericReader pattern): DATA streams hold only
    # non-null values; null rows are re-expanded at decode
    tok_present = _validity(tokens)
    src_present = _validity(source)
    dense_tokens = tokens.drop_null() if tok_present is not None else tokens
    dense_source = source.drop_null() if src_present is not None else source
    lengths, flat = _list_parts(dense_tokens)
    # decode_chunk reconstructs int32 tokens/offsets; reject inputs that
    # would silently truncate (ADVICE r01: range-validate at encode time)
    min_val = int(flat.min()) if len(flat) else 0
    max_val = int(flat.max()) if len(flat) else 0
    if min_val < -(1 << 31) or max_val >= (1 << 31):
        raise ValueError(
            f"token values [{min_val}, {max_val}] exceed int32; chunk format "
            "v2 stores int32 tokens — split the column or widen the format"
        )
    if len(flat) >= (1 << 31):
        raise ValueError("chunk too large: total token count must be < 2^31")
    # n_tok is documented as derived (== size(tokens)); a mismatching input
    # would round-trip to silently altered n_tok, so verify it cheaply here
    if "n_tok" in batch.schema.names:
        ntok = batch.column("n_tok")
        if tok_present is not None:
            ntok = ntok.filter(pa.array(tok_present))
        if ntok.null_count or not np.array_equal(
            ntok.to_numpy(zero_copy_only=False).astype(np.int64), lengths
        ):
            raise ValueError("n_tok must equal size(tokens): n_tok is derived")
    c_doc, s_doc = encode_strings_auto(doc_id)
    c_len, s_len = encode_ints_auto(lengths)
    # row-aligned RLEv2 frames: token regimes are per-document, so frames
    # that respect row offsets stay homogeneous (~10% smaller than the grid)
    c_tok, s_tok = encode_ints_auto(flat, boundaries=np.cumsum(lengths))
    c_src, s_src = encode_strings_auto(dense_source)
    streams = []
    block_tags = []
    for raw, present in (
        (s_doc, None),
        (s_len, tok_present),
        (s_tok, None),  # tokens DATA shares the n_tok stream's PRESENT
        (s_src, src_present),
    ):
        comp, tag = _maybe_block(_wrap_present(present, raw), block_codec)
        streams.append(comp)
        block_tags.append(tag)
    orig_bytes = (
        sum(len(x) for x in (doc_id.buffers() + source.buffers()) if x is not None)
        + flat.nbytes
        + lengths.nbytes
    )
    h = hashlib.sha1()
    h.update(CODEC_VERSION.encode())
    h.update(str(part_id).encode())
    if n_rows:
        h.update(str(doc_id[0]).encode())
        h.update(str(doc_id[n_rows - 1]).encode())
    h.update(str(n_rows).encode())
    srcs = source.unique()
    return {
        "chunk_id": h.hexdigest(),
        "part_id": part_id,
        "source": str(srcs[0]) if len(srcs) == 1 else "mixed",
        "codec": ",".join((c_doc, c_len, c_tok, c_src)),
        "block_codec": ",".join(block_tags),
        "n_rows": n_rows,
        "n_values": int(lengths.sum()),
        "stream_lengths": [len(s) for s in streams],
        "s_doc_id": streams[0],
        "s_n_tok": streams[1],
        "s_tokens": streams[2],
        "s_source": streams[3],
        "bloom": _maybe_bloom(flat) if build_bloom else b"",
        "orig_bytes": int(orig_bytes),
        "enc_bytes": sum(len(s) for s in streams),
        "min_val": min_val,
        "max_val": max_val,
    }


# chunk columns each output column needs (n_tok rides the tokens LENGTH
# stream; tokens needs its LENGTH stream too)
COLUMN_STREAMS = {
    "doc_id": ("s_doc_id",),
    "n_tok": ("s_n_tok",),
    "tokens": ("s_n_tok", "s_tokens"),
    "source": ("s_source",),
}
CHUNK_META_COLS = ("codec", "block_codec", "n_rows", "n_values")


def chunk_columns_for(columns: tuple[str, ...] | None) -> list[str]:
    """Chunk-table columns needed to decode ``columns`` (for df.select so
    parquet prunes unneeded stream bytes at the I/O level)."""
    cols = tuple(columns) if columns else STREAMS
    need = list(CHUNK_META_COLS)
    for c in cols:
        for s in COLUMN_STREAMS[c]:
            if s not in need:
                need.append(s)
    return need


def decode_chunk(row: dict, columns: tuple[str, ...] | None = None) -> pa.RecordBatch:
    """Chunk row -> RecordBatch (doc_id, tokens, n_tok, source).

    ``columns`` projects at the STREAM level: unselected streams are never
    decompressed or decoded — and when the caller also projects the chunk
    DataFrame (``chunk_columns_for``), their bytes are never even read.
    """
    cols = tuple(columns) if columns else STREAMS
    codecs = row["codec"].split(",")
    block_tags = row["block_codec"].split(",")
    n_rows = int(row["n_rows"])
    n_values = int(row["n_values"])

    def stream(i: int, name: str):
        part = row[name]
        raw = block_decompress(part, block_tags[i]) if block_tags[i] != "none" else part
        return _unwrap_present(raw, n_rows)

    out_arrays = []
    out_names = []
    if "tokens" in cols or "n_tok" in cols:
        tok_present, len_payload = stream(1, "s_n_tok")
        n_dense = int(tok_present.sum()) if tok_present is not None else n_rows
        lengths = INT_CODECS[codecs[1]][1](len_payload, n_dense)
    if "doc_id" in cols:
        _, payload = stream(0, "s_doc_id")
        out_arrays.append(STR_CODECS[codecs[0]][1](payload, n_rows))
        out_names.append("doc_id")
    if "tokens" in cols:
        _, payload = stream(2, "s_tokens")
        flat = INT_CODECS[codecs[2]][1](payload, n_values)
        offsets64 = np.concatenate(([0], np.cumsum(lengths)))
        dense_tokens = pa.ListArray.from_arrays(
            pa.array(offsets64.astype(np.int32)), pa.array(flat.astype(np.int32))
        )
        out_arrays.append(_scatter(dense_tokens, tok_present))
        out_names.append("tokens")
    if "n_tok" in cols:
        out_arrays.append(_scatter(pa.array(lengths.astype(np.int32)), tok_present))
        out_names.append("n_tok")
    if "source" in cols:
        src_present, payload = stream(3, "s_source")
        n_src = int(src_present.sum()) if src_present is not None else n_rows
        out_arrays.append(_scatter(STR_CODECS[codecs[3]][1](payload, n_src), src_present))
        out_names.append("source")
    return pa.RecordBatch.from_arrays(out_arrays, names=out_names)
