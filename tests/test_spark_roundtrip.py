"""End-to-end distributed round-trip: encode -> chunk table -> decode ->
identity join (the north star's core invariant, BASELINE.json:15).
Tests that CLAIM bit-identity call verify_roundtrip(exact=True) — the
byte-for-byte array comparison; the default hash-proxy mode is pinned
against it in test_verify_roundtrip_hash_mode_detects_tampering.
"""

import base64
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pytest

from orc_rs_spark import chunk as chunk_mod
from orc_rs_spark.chunk import decode_chunk, encode_chunk
from orc_rs_spark.decoder import decode_table, verify_roundtrip
from orc_rs_spark.encoder import encode_table
from orc_rs_spark.fixtures import token_table, token_df
from orc_rs_spark.kernels.blockcomp import block_compress, block_decompress
from orc_rs_spark.kernels.intcodecs import rankplanes_encode


# ------------------------------------------------------- local (no Spark)


def test_chunk_roundtrip_local():
    tbl = token_table(500, seed=42)
    batch = tbl.to_batches()[0]
    row = encode_chunk(batch, part_id=0)
    out = decode_chunk(row)
    assert out.column("doc_id").to_pylist() == batch.column("doc_id").to_pylist()
    assert out.column("source").to_pylist() == batch.column("source").to_pylist()
    assert out.column("n_tok").to_pylist() == batch.column("n_tok").to_pylist()
    assert out.column("tokens").to_pylist() == batch.column("tokens").to_pylist()


def test_chunk_compresses():
    tbl = token_table(2000, seed=1)
    batch = tbl.to_batches()[0]
    row = encode_chunk(batch, part_id=0)
    assert row["enc_bytes"] < row["orig_bytes"] / 2
    assert row["n_rows"] == 2000
    assert row["n_values"] == int(np.sum(batch.column("n_tok").to_numpy()))


def test_chunk_id_deterministic():
    tbl = token_table(300, seed=7)
    b = tbl.to_batches()[0]
    assert encode_chunk(b, 3)["chunk_id"] == encode_chunk(b, 3)["chunk_id"]
    assert encode_chunk(b, 3)["chunk_id"] != encode_chunk(b, 4)["chunk_id"]


def test_chunk_empty_tokens_rows():
    # rows with empty token arrays must survive
    tokens = pa.ListArray.from_arrays(
        pa.array([0, 0, 3, 3], type=pa.int32()), pa.array([1, 2, 3], type=pa.int32())
    )
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(["a", "b", "c"]),
            tokens,
            pa.array([0, 3, 0], type=pa.int32()),
            pa.array(["web", "web", "code"]),
        ],
        names=["doc_id", "tokens", "n_tok", "source"],
    )
    out = decode_chunk(encode_chunk(batch, 0))
    assert out.column("tokens").to_pylist() == [[], [1, 2, 3], []]


def _zipf_batch(n_rows: int, seed: int) -> pa.RecordBatch:
    """Zipf(1.1) token ids over a shuffled 128k vocabulary, as LM corpora have."""
    rng = np.random.default_rng(seed)
    vocab = 128_256
    lengths = rng.integers(50, 400, n_rows)
    cdf = np.cumsum(np.arange(1, vocab + 1, dtype=np.float64) ** -1.1)
    ranks = np.searchsorted(cdf / cdf[-1], rng.random(int(lengths.sum())), side="right")
    flat = rng.permutation(vocab)[np.minimum(ranks, vocab - 1)].astype(np.int32)
    offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int32)
    return pa.RecordBatch.from_arrays(
        [
            pa.array([f"doc{i}" for i in range(n_rows)]),
            pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat)),
            pa.array(lengths.astype(np.int32)),
            pa.array(["web"] * n_rows),
        ],
        names=["doc_id", "tokens", "n_tok", "source"],
    )


def test_zipf_tokens_pick_rankplanes(monkeypatch):
    """Frequency-ranked ids of Zipf tokens take one or two varint bytes
    that zlib still shrinks; a frame of reference packs 17-bit ids it
    cannot. The whole chunk must come out >= 25% smaller."""
    batch = _zipf_batch(800, seed=11)
    row = encode_chunk(batch, 0)
    assert row["codec"].split(",")[2] == "rankplanes"
    assert decode_chunk(row).column("tokens").equals(batch.column("tokens"))

    auto = chunk_mod.encode_ints_auto

    def tokens_through_for(values, boundaries=None):
        if boundaries is None:  # the lengths stream keeps its own pick
            return auto(values)
        return "for", chunk_mod.INT_CODECS["for"][0](values)

    monkeypatch.setattr(chunk_mod, "encode_ints_auto", tokens_through_for)
    forced = encode_chunk(batch, 0)
    assert forced["codec"].split(",")[2] == "for"
    assert row["enc_bytes"] <= 0.75 * forced["enc_bytes"], (row["enc_bytes"], forced["enc_bytes"])


def test_zipf_chunk_smaller_than_v3_path():
    """Rank planes with the deflate strategy priced per stream beat the
    format v3 token stream (LEB128 rankdict ranks, zlib level 7)."""
    from tests.test_codecs import rankdict_encode

    batch = _zipf_batch(800, seed=11)
    row = encode_chunk(batch, 0)
    _, flat = chunk_mod._list_parts(batch.column("tokens"))
    v3 = block_compress(chunk_mod._wrap_present(None, rankdict_encode(flat)), "zlib", level=7)
    assert row["block_codec"].split(",")[2] == "zlib"
    assert len(row["s_tokens"]) < 0.97 * len(v3), (len(row["s_tokens"]), len(v3))


def _zipf_planes(n: int) -> bytes:
    return rankplanes_encode(_zipf_batch(n, seed=3).column("tokens").flatten().to_numpy())


def _runs(n: int) -> bytes:
    rng = np.random.default_rng(4)
    values = rng.integers(0, 1 << 20, n // 40)
    return np.repeat(values, rng.integers(1, 80, len(values))).astype("<i4").tobytes()[: 4 * n]


@pytest.mark.parametrize(
    "data,strategy,probed",
    [
        (_zipf_planes(60), zlib.Z_HUFFMAN_ONLY, False),  # compressed both ways
        (_zipf_planes(600), zlib.Z_HUFFMAN_ONLY, True),  # priced on slices
        (_runs(10_000), zlib.Z_DEFAULT_STRATEGY, False),
        (_runs(200_000), zlib.Z_DEFAULT_STRATEGY, True),
    ],
    ids=["zipf-small", "zipf-probed", "runs-small", "runs-probed"],
)
def test_maybe_block_prices_deflate_strategy(data, strategy, probed):
    """Huffman-only deflate wins on Zipf rank planes and LZ matching on
    run-heavy data; either block is plain raw deflate under the zlib tag."""
    assert probed == (len(data) > chunk_mod._PROBE_SLICES * chunk_mod._PROBE_SPAN)
    comp, tag = chunk_mod._maybe_block(data, "zlib")
    assert tag == "zlib"
    assert comp == block_compress(data, "zlib", level=7, strategy=strategy)
    other = ({zlib.Z_HUFFMAN_ONLY, zlib.Z_DEFAULT_STRATEGY} - {strategy}).pop()
    assert len(comp) < len(block_compress(data, "zlib", level=7, strategy=other))
    assert block_decompress(comp, "zlib") == data


def test_orig_bytes_does_not_depend_on_batching():
    """A slice of a larger batch and the same rows on their own report the
    same orig_bytes (and the same streams)."""
    rng = np.random.default_rng(9)
    n = 1000
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([f"doc-{i:012d}" for i in range(n)]),
            pa.array(
                [None if i % 11 == 5 else list(rng.integers(0, 500, i % 7)) for i in range(n)],
                type=pa.list_(pa.int32()),
            ),
            pa.array([None if i % 11 == 5 else i % 7 for i in range(n)], type=pa.int32()),
            pa.array([None if i % 13 == 0 else ["web", "code"][i % 2] for i in range(n)]),
        ],
        names=["doc_id", "tokens", "n_tok", "source"],
    )
    part = batch.slice(200, 100)
    alone = pa.RecordBatch.from_pylist(part.to_pylist(), schema=part.schema)
    sliced_row, alone_row = encode_chunk(part, 0), encode_chunk(alone, 0)
    assert sliced_row["orig_bytes"] == alone_row["orig_bytes"]
    for key in chunk_mod.STREAM_COLS + ("enc_bytes",):
        assert sliced_row[key] == alone_row[key]


DATA_DIR = os.path.join(os.path.dirname(__file__), "data")
V2_CHUNKS = os.path.join(DATA_DIR, "chunks_v2.json")
V3_CHUNKS = os.path.join(DATA_DIR, "chunks_v3.json")


def _pinned_rows(path: str = V2_CHUNKS):
    with open(path) as f:
        cases = json.load(f)
    for case in cases:
        row = dict(case["row"])
        for col in chunk_mod.STREAM_COLS + ("bloom",):
            row[col] = base64.b64decode(row[col])
        yield row, case["expect"]


@pytest.mark.parametrize("i", range(4), ids=["for", "bitpack", "dict", "rlev2"])
def test_v2_chunks_still_decode(i):
    """Chunk rows written by the format v2 encoder (one per token codec:
    for, bitpack, dict, rlev2; with nulls and zlib blocks) decode
    bit-identically under the current reader."""
    row, expect = list(_pinned_rows())[i]
    assert row["codec"].split(",")[2] == ["for", "bitpack", "dict", "rlev2"][i]
    out = decode_chunk(row)
    assert out.to_pydict() == expect
    assert out.column("tokens").type == pa.list_(pa.int32())


@pytest.mark.parametrize("i", range(2))
def test_v3_chunks_still_decode(i):
    """Chunk rows written by the format v3 encoder (rankdict tokens with
    multi-byte ranks, null token and source rows, zlib blocks) decode
    bit-identically under the current reader."""
    row, expect = list(_pinned_rows(V3_CHUNKS))[i]
    assert row["codec"].split(",")[2] == "rankdict"
    assert row["block_codec"].split(",")[2] == "zlib"
    out = decode_chunk(row)
    assert out.to_pydict() == expect
    assert out.column("tokens").type == pa.list_(pa.int32())


@pytest.mark.parametrize(
    "codec,match",
    [
        ("str_direct,for,huffman,str_dict", "unknown codec 'huffman' for stream s_tokens"),
        ("str_zstd,for,for,str_dict", "unknown codec 'str_zstd' for stream s_doc_id"),
        ("str_direct,for,for", "do not name one codec per stream"),
    ],
    ids=["int-tag", "str-tag", "short-list"],
)
def test_decode_chunk_unknown_codec_names_stream(codec, match):
    row, _ = next(_pinned_rows())
    row["codec"] = codec
    with pytest.raises(ValueError, match=match):
        decode_chunk(row)


def _rows_with(rb: pa.RecordBatch, token: int) -> pa.RecordBatch:
    """decode_chunk's batch filtered to the rows whose tokens hold ``token``."""
    keep = [i for i, t in enumerate(rb.column("tokens").to_pylist()) if t and token in t]
    return rb.take(pa.array(keep, type=pa.int64()))


def _spy_decoder(monkeypatch, tag: str) -> list:
    """Count calls to the token decoder of ``tag``."""
    enc, dec = chunk_mod.INT_CODECS[tag]
    calls = []

    def spy(buf, count):
        calls.append(count)
        return dec(buf, count)

    monkeypatch.setitem(chunk_mod.INT_CODECS, tag, (enc, spy))
    return calls


def test_search_skips_rankplanes_chunk_by_its_dictionary(monkeypatch):
    """A token absent from a chunk but inside its [min_val, max_val] is
    found absent in the rank dictionary: no rank plane is decoded, even
    with more distinct tokens than a Bloom filter was ever built for."""
    batch = _zipf_batch(4000, seed=5)
    row = encode_chunk(batch, 0)
    assert row["codec"].split(",")[2] == "rankplanes"
    flat = batch.column("tokens").flatten().to_numpy()
    present = np.unique(flat)
    assert len(present) > 65_536
    absent = int(np.setdiff1d(np.arange(row["min_val"], row["max_val"] + 1), present)[0])
    rb = decode_chunk(row)
    calls = _spy_decoder(monkeypatch, "rankplanes")
    assert chunk_mod.search_chunk(row, absent) is None
    assert calls == []
    for token in (int(flat[0]), int(present[-1])):
        assert chunk_mod.search_chunk(row, token).to_pydict() == _rows_with(rb, token).to_pydict()
    assert len(calls) == 2


@pytest.mark.parametrize(
    "path,i,tag",
    [(V2_CHUNKS, 2, "dict"), (V3_CHUNKS, 0, "rankdict"), (V3_CHUNKS, 1, "rankdict"),
     (V2_CHUNKS, 3, "rlev2")],
    ids=["v2-dict", "v3-rankdict0", "v3-rankdict1", "v2-rlev2"],
)
def test_search_chunk_equals_decode_then_filter(monkeypatch, path, i, tag):
    """Every token of a pinned chunk finds exactly the rows decode plus a
    row filter finds; an absent token finds none, and a dictionary codec
    tells so without decoding its indices or ranks."""
    row, _ = list(_pinned_rows(path))[i]
    assert row["codec"].split(",")[2] == tag
    rb = decode_chunk(row)
    tokens = sorted({t for ts in rb.column("tokens").to_pylist() if ts for t in ts})
    for token in tokens:
        assert chunk_mod.search_chunk(row, token).to_pydict() == _rows_with(rb, token).to_pydict()
    calls = _spy_decoder(monkeypatch, tag)
    assert chunk_mod.search_chunk(row, max(tokens) + 1) is None
    assert chunk_mod.search_chunk(row, min(tokens) - 1) is None
    assert len(calls) == (0 if tag in chunk_mod.DICTIONARY_CODECS else 2)


# ------------------------------------------------------- distributed


@pytest.mark.spark
def test_spark_roundtrip_bit_identity(spark):
    df = token_df(spark, 3000, seed=42, partitions=4)
    chunks = encode_table(df, partitions=4)
    chunks = chunks.cache()
    n_chunks = chunks.count()
    assert n_chunks >= 4
    decoded = decode_table(chunks)
    n, bad = verify_roundtrip(df, decoded, exact=True)
    assert n == 3000
    assert bad == 0
    chunks.unpersist()


@pytest.mark.spark
def test_spark_chunk_stats(spark):
    df = token_df(spark, 1000, seed=3, partitions=2)
    chunks = encode_table(df, partitions=2).cache()
    from pyspark.sql import functions as F

    agg = chunks.agg(
        F.sum("n_rows").alias("rows"),
        F.sum("enc_bytes").alias("enc"),
        F.sum("orig_bytes").alias("orig"),
    ).collect()[0]
    assert agg["rows"] == 1000
    assert agg["enc"] < agg["orig"]
    chunks.unpersist()


def test_chunk_nullable_roundtrip():
    tokens = pa.array([[1, 2, 3], None, [], [7]], type=pa.list_(pa.int32()))
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(["a", "b", "c", "d"]),
            tokens,
            pa.array([3, None, 0, 1], type=pa.int32()),
            pa.array(["web", None, "code", None]),
        ],
        names=["doc_id", "tokens", "n_tok", "source"],
    )
    out = decode_chunk(encode_chunk(batch, 0))
    assert out.column("tokens").to_pylist() == [[1, 2, 3], None, [], [7]]
    assert out.column("source").to_pylist() == ["web", None, "code", None]
    assert out.column("n_tok").to_pylist() == [3, None, 0, 1]


def test_chunk_rejects_null_token_elements():
    # a null *element* inside an array, not a null array: the format has no
    # place for it, and hash-mode verify_roundtrip could not see where it sat
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(["a", "b"]),
            pa.array([[1, None, 3], [4]], type=pa.list_(pa.int32())),
            pa.array([3, 1], type=pa.int32()),
            pa.array(["web", "code"]),
        ],
        names=["doc_id", "tokens", "n_tok", "source"],
    )
    with pytest.raises(ValueError, match="null token elements are not supported"):
        encode_chunk(batch, 0)
    # a sliced batch is judged by the elements its own rows reference
    with pytest.raises(ValueError, match="null token elements"):
        encode_chunk(batch.slice(0, 1), 0)
    out = decode_chunk(encode_chunk(batch.slice(1, 1), 0))
    assert out.column("tokens").to_pylist() == [[4]]


@pytest.mark.spark
def test_spark_roundtrip_with_nulls(spark):
    rows = [
        ("a", [1, 2], 2, "web"),
        ("b", None, None, None),
        ("c", [], 0, "code"),
    ] * 50
    rows = [(f"{r[0]}{i}", *r[1:]) for i, r in enumerate(rows)]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>, n_tok int, source string")
    chunks = encode_table(df, partitions=2)
    n, bad = verify_roundtrip(df, decode_table(chunks))
    assert n == 150 and bad == 0


def test_decode_chunk_column_projection():
    tbl = token_table(300, seed=5)
    batch = tbl.to_batches()[0]
    row = encode_chunk(batch, 0)
    just_ids = decode_chunk(row, columns=("doc_id",))
    assert just_ids.schema.names == ["doc_id"]
    assert just_ids.column(0).to_pylist() == batch.column("doc_id").to_pylist()
    meta = decode_chunk(row, columns=("doc_id", "n_tok"))
    assert meta.schema.names == ["doc_id", "n_tok"]
    assert meta.column("n_tok").to_pylist() == batch.column("n_tok").to_pylist()


@pytest.mark.spark
def test_decode_table_column_projection(spark):
    df = token_df(spark, 500, seed=8, partitions=2)
    chunks = encode_table(df, partitions=2).cache()
    proj = decode_table(chunks, columns=("doc_id", "n_tok"))
    assert proj.columns == ["doc_id", "n_tok"]
    assert proj.count() == 500
    total = proj.agg({"n_tok": "sum"}).collect()[0][0]
    want = df.agg({"n_tok": "sum"}).collect()[0][0]
    assert total == want
    chunks.unpersist()


@pytest.mark.spark
def test_compact_chunks(spark):
    df = token_df(spark, 2000, seed=21, partitions=8)
    small = encode_table(df, partitions=8, chunk_rows=256).cache()
    n_small = small.count()
    from orc_rs_spark.encoder import compact_chunks

    big = compact_chunks(small, target_rows=2000).cache()
    n_big = big.count()
    assert n_big < n_small  # the point: fewer chunks to track and scan
    from pyspark.sql import functions as F

    small_bytes = small.agg(F.sum("enc_bytes")).collect()[0][0]
    big_bytes = big.agg(F.sum("enc_bytes")).collect()[0][0]
    assert big_bytes < small_bytes * 1.10  # bytes stay ~flat (see docstring)
    n, bad = verify_roundtrip(df, decode_table(big))
    assert n == 2000 and bad == 0
    small.unpersist()
    big.unpersist()


def test_jvm_reads_lz_codecs(spark, tmp_path):
    """ORC files our writer compresses with snappy/lz4/zstd (pyarrow's C
    encoders behind the codec table, kernels/blockcomp.py) must decode in
    Spark's native JVM ORC reader — proof that our block framing around
    those bitstreams conforms, plus a real size win for the LZ codecs vs
    storing blocks uncompressed (compressible sorted-key data)."""
    import os

    from orc_rs_spark.orcfile.reader import OrcFileReader
    from orc_rs_spark.orcfile.writer import write_orc

    n = 20000
    tbl = pa.table({
        "k": pa.array(np.arange(n, dtype=np.int64) * 3),
        "s": pa.array([f"prefix-shared-{i % 211:06d}" for i in range(n)]),
        "toks": pa.array(
            [np.arange(i % 37, dtype=np.int32).tolist() for i in range(n)],
            pa.list_(pa.int32()),
        ),
    })
    want_k = int(tbl.column("k").to_pandas().sum())
    sizes = {}
    for codec in ("none", "snappy", "lz4", "zstd"):
        path = str(tmp_path / f"jvm_{codec}.orc")
        write_orc(tbl, path, compression=codec)
        sizes[codec] = os.path.getsize(path)
        assert OrcFileReader(path).read_all().equals(tbl)
        df = spark.read.orc(path)
        assert df.count() == n
        got = df.agg({"k": "sum"}).first()[0]
        assert got == want_k, codec
    # snappy/lz4 genuinely compress (strings/keys here are match-rich)
    assert sizes["snappy"] < sizes["none"] * 0.9
    assert sizes["lz4"] < sizes["none"] * 0.9


@pytest.mark.spark
def test_verify_roundtrip_hash_mode_detects_tampering(spark):
    """The hash-proxy verify (default) must agree with exact mode: 0 bad on
    identical data, and every tampered row class detected — changed token
    value (same length), changed length, dropped row, nulled array."""
    from pyspark.sql import functions as F

    df = token_df(spark, 400, seed=7, partitions=2).cache()
    df.count()

    # identical copies agree in both modes
    for exact in (False, True):
        n, bad = verify_roundtrip(df, df, exact=exact)
        assert n == 400
        assert bad == 0

    # value tamper: bump one element of one doc's tokens (length preserved)
    victim = df.orderBy("doc_id").limit(1).collect()[0]["doc_id"]
    tampered_val = df.withColumn(
        "tokens",
        F.when(
            F.col("doc_id") == victim,
            F.transform("tokens", lambda x, i: F.when(i == 0, x + 1).otherwise(x)),
        ).otherwise(F.col("tokens")),
    )
    # length tamper: drop the first token but keep n_tok (decode would
    # normally keep them consistent; verify must still catch it)
    tampered_len = df.withColumn(
        "tokens",
        F.when(
            F.col("doc_id") == victim, F.slice("tokens", 2, 10_000_000)
        ).otherwise(F.col("tokens")),
    )
    # null tamper: whole array nulled
    tampered_null = df.withColumn(
        "tokens",
        F.when(F.col("doc_id") == victim, F.lit(None).cast("array<int>")).otherwise(
            F.col("tokens")
        ),
    )
    # dropped row
    dropped = df.where(F.col("doc_id") != victim)

    for tam, want_n in (
        (tampered_val, 400),
        (tampered_len, 400),
        (tampered_null, 400),
        (dropped, 400),  # full outer keeps the orphan original row
    ):
        for exact in (False, True):
            n, bad = verify_roundtrip(df, tam, exact=exact)
            assert n == want_n, f"exact={exact}"
            assert bad == 1, f"exact={exact}"
    df.unpersist()
