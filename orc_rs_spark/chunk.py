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
import zlib

import numpy as np
import pyarrow as pa

from orc_rs_spark.kernels.blockcomp import block_compress, block_decompress
from orc_rs_spark.kernels.byte_rle import boolean_rle_decode, boolean_rle_encode
from orc_rs_spark.kernels.intcodecs import DICTIONARY_CODECS, read_dictionary
from orc_rs_spark.kernels.select import INT_CODECS, STR_CODECS, encode_ints_auto, encode_strings_auto
from orc_rs_spark.kernels.varint import uvarint, varint_decode

# "2": per-stream columns replaced the packed blob; "3": the tokens stream
# may be a frequency-ranked dictionary ("rankdict"); "4": its ranks are
# written as byte planes ("rankplanes"), and zlib blocks may be
# Huffman-only. Decode dispatches on each stream's codec tag, so v2 and v3
# chunks still decode.
CODEC_VERSION = "4"

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
        return uvarint(0) + payload
    pb = boolean_rle_encode(present)
    return uvarint(len(pb)) + pb + payload


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


# _maybe_block prices both deflate strategies on this many slices of this
# many bytes, spread over the stream (its head may be a dictionary)
_PROBE_SLICES = 4
_PROBE_SPAN = 16 * 1024
_STRATEGIES = (zlib.Z_DEFAULT_STRATEGY, zlib.Z_HUFFMAN_ONLY)


def _maybe_block(data: bytes, block_codec: str) -> tuple[bytes, str]:
    if block_codec == "none" or len(data) < 64:
        return data, "none"
    # level 7 holds size_vs_spark_orc below 1.0 on small tables (at level
    # 6 one read 1.007). zlib blocks also pick their deflate strategy per
    # stream: LZ matching pays on runs and repeated strings, but on rank
    # planes it costs bytes that Huffman-only coding keeps (and ~2x the
    # CPU), and which one wins is measured, not assumed. The LZ arm is
    # written by libdeflate where the system has it (stdlib zlib
    # otherwise), the Huffman-only arm by stdlib zlib, so both arms and
    # their probes are priced by the engine that writes them
    if block_codec != "zlib":
        comp = block_compress(data, block_codec, level=7)
    elif len(data) <= _PROBE_SLICES * _PROBE_SPAN:
        comp = min((block_compress(data, "zlib", 7, strategy=st) for st in _STRATEGIES), key=len)
    else:
        n, k = len(data), _PROBE_SLICES
        probe = b"".join(
            data[start : start + _PROBE_SPAN]
            for start in (n * (2 * i + 1) // (2 * k) - _PROBE_SPAN // 2 for i in range(k))
        )
        strategy = min(_STRATEGIES, key=lambda st: len(block_compress(probe, "zlib", 7, strategy=st)))
        comp = block_compress(data, "zlib", 7, strategy=strategy)
    if len(comp) < len(data):
        return comp, block_codec
    return data, "none"


def encode_chunk(batch: pa.RecordBatch, part_id: int, block_codec: str = "zlib") -> dict:
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
            f"v{CODEC_VERSION} stores int32 tokens — split the column or widen the format"
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
    # Array.nbytes counts only this slice's part of buffers it may share
    # with its neighbours, so the figure does not depend on batching
    orig_bytes = doc_id.nbytes + source.nbytes + flat.nbytes + lengths.nbytes
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
        "bloom": b"",  # unused; the column stays so older chunk tables still read
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


def _decoder(table: dict, tag: str, stream: str):
    """The decode kernel for one stream's codec tag; an unknown tag (a
    chunk from a newer writer, or a corrupt ``codec`` column) is a
    ValueError naming the tag and the stream."""
    try:
        return table[tag][1]
    except KeyError:
        raise ValueError(
            f"unknown codec {tag!r} for stream {stream} (this reader knows "
            f"{sorted(table)}; chunk format v{CODEC_VERSION})"
        ) from None


def _stream_tags(row: dict) -> tuple[list[str], list[str]]:
    """(codec tag, block codec tag) of each of a chunk row's streams."""
    codecs = row["codec"].split(",")
    block_tags = row["block_codec"].split(",")
    if len(codecs) != len(STREAM_COLS) or len(block_tags) != len(STREAM_COLS):
        raise ValueError(
            f"chunk codec tags {row['codec']!r} / {row['block_codec']!r} do not "
            f"name one codec per stream of {STREAM_COLS}"
        )
    return codecs, block_tags


def _inflate(row: dict, block_tags: list[str], i: int) -> bytes:
    """Stream ``i`` of a chunk row with its block compression undone
    (PRESENT prefix and codec payload)."""
    part = row[STREAM_COLS[i]]
    return block_decompress(part, block_tags[i]) if block_tags[i] != "none" else part


def decode_chunk(row: dict, columns: tuple[str, ...] | None = None) -> pa.RecordBatch:
    """Chunk row -> RecordBatch (doc_id, tokens, n_tok, source).

    ``columns`` projects at the STREAM level: unselected streams are never
    decompressed or decoded — and when the caller also projects the chunk
    DataFrame (``chunk_columns_for``), their bytes are never even read.
    """
    cols = tuple(columns) if columns else STREAMS
    codecs, block_tags = _stream_tags(row)
    n_rows = int(row["n_rows"])
    n_values = int(row["n_values"])

    out_arrays = []
    out_names = []
    if "tokens" in cols or "n_tok" in cols:
        tok_present, len_payload = _unwrap_present(_inflate(row, block_tags, 1), n_rows)
        n_dense = int(tok_present.sum()) if tok_present is not None else n_rows
        lengths = _decoder(INT_CODECS, codecs[1], "s_n_tok")(len_payload, n_dense)
    if "doc_id" in cols:
        _, payload = _unwrap_present(_inflate(row, block_tags, 0), n_rows)
        out_arrays.append(_decoder(STR_CODECS, codecs[0], "s_doc_id")(payload, n_rows))
        out_names.append("doc_id")
    if "tokens" in cols:
        _, payload = _unwrap_present(_inflate(row, block_tags, 2), n_rows)
        flat = _decoder(INT_CODECS, codecs[2], "s_tokens")(payload, n_values)
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
        src_present, payload = _unwrap_present(_inflate(row, block_tags, 3), n_rows)
        n_src = int(src_present.sum()) if src_present is not None else n_rows
        decode_src = _decoder(STR_CODECS, codecs[3], "s_source")
        out_arrays.append(_scatter(decode_src(payload, n_src), src_present))
        out_names.append("source")
    return pa.RecordBatch.from_arrays(out_arrays, names=out_names)


def search_chunk(row: dict, token: int) -> pa.RecordBatch | None:
    """The rows of one chunk whose tokens contain ``token`` (as
    ``decode_chunk`` gives them), or None when there are none.

    A token stream coded with a dictionary (``DICTIONARY_CODECS``) opens
    with every distinct token of the chunk: the chunk is skipped after
    reading that dictionary alone when ``token`` is not in it, with no
    index or rank decode. Other codecs, and chunks that hold the token,
    decode in full and keep the rows that contain it.
    """
    if int(row["n_values"]) == 0:
        return None
    codecs, block_tags = _stream_tags(row)
    if codecs[2] in DICTIONARY_CODECS:
        raw = _inflate(row, block_tags, 2)
        _, payload = _unwrap_present(raw, int(row["n_rows"]))
        b = np.frombuffer(payload, dtype=np.uint8)
        values, _ = read_dictionary(b, int(row["n_values"]), codecs[2])
        if not (values == token).any():
            return None
        # a hit decodes the stream just inflated: stored uncompressed, a
        # stream's block tag is "none"
        block_tags[2] = "none"
        row = {**row, "s_tokens": raw, "block_codec": ",".join(block_tags)}
    rb = decode_chunk(row)
    tok = rb.column("tokens")
    lengths = np.diff(tok.offsets.to_numpy(zero_copy_only=False).astype(np.int64))
    flat = tok.flatten().to_numpy(zero_copy_only=False)
    hit_rows = np.unique(
        np.searchsorted(np.cumsum(lengths), np.flatnonzero(flat == token), side="right")
    )
    return rb.take(pa.array(hit_rows)) if len(hit_rows) else None
