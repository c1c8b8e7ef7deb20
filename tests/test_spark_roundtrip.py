"""End-to-end distributed round-trip: encode -> chunk table -> decode ->
identity join (the north star's core invariant, BASELINE.json:15).
Tests that CLAIM bit-identity call verify_roundtrip(exact=True) — the
byte-for-byte array comparison; the default hash-proxy mode is pinned
against it in test_verify_roundtrip_hash_mode_detects_tampering.
"""

import numpy as np
import pyarrow as pa
import pytest

from orc_rs_spark.chunk import decode_chunk, encode_chunk
from orc_rs_spark.decoder import decode_table, verify_roundtrip
from orc_rs_spark.encoder import encode_table
from orc_rs_spark.fixtures import token_table, token_df


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
    """ORC files our writer compresses with the from-spec snappy/lz4/zstd
    encoders (kernels/lzblocks.py, kernels/zstd_enc.py) must decode in
    Spark's native JVM ORC reader — third-party proof the encode bitstreams
    conform, plus a real size win for the LZ codecs vs the old tag-only
    escape (compressible sorted-key data)."""
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
