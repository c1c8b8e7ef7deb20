"""Float codec kernels + chunk-pruning behavior."""

import numpy as np
import pytest

from orc_rs_spark.kernels.floats import float_decode, float_encode

RNG = np.random.default_rng(42)


@pytest.mark.parametrize("mode", [0, 1, None])
@pytest.mark.parametrize("dtype", ["<f4", "<f8"])
def test_float_roundtrip(mode, dtype):
    v = RNG.standard_normal(10_000).astype(dtype)
    v[::97] = np.inf
    v[::89] = -np.inf
    v[::83] = 0.0
    enc = float_encode(v, mode=mode)
    np.testing.assert_array_equal(float_decode(enc, len(v)), v)


def test_float_nan_bitpattern_preserved():
    v = np.array([np.nan, 1.5, -0.0], dtype="<f8")
    dec = float_decode(float_encode(v, mode=1), 3)
    assert dec.tobytes() == v.tobytes()  # bit-exact incl. NaN payload, -0.0


def test_float_empty():
    assert len(float_decode(float_encode(np.array([], dtype="<f8")), 0)) == 0


@pytest.mark.spark
def test_search_token_prunes_chunks(spark):
    """The min/max stats and each chunk's token dictionary must skip
    chunks that can't contain the probe; correctness checked against a
    plain explode-filter."""
    from pyspark.sql import functions as F

    from orc_rs_spark.decoder import search_token
    from orc_rs_spark.encoder import encode_table
    from orc_rs_spark.fixtures import token_df

    df = token_df(spark, 1000, seed=2, partitions=4).cache()
    chunks = encode_table(df, partitions=4).cache()
    probe = int(
        df.select(F.explode("tokens").alias("t")).where(F.col("t") > 0).first()["t"]
    )
    got = {r["doc_id"] for r in search_token(chunks, probe).collect()}
    want = {
        r["doc_id"]
        for r in df.where(F.array_contains("tokens", probe)).select("doc_id").collect()
    }
    assert got == want and len(want) > 0
    # absent token: stats prune everything, nothing decodes
    assert search_token(chunks, 2**31 - 7).count() == 0
    df.unpersist()
    chunks.unpersist()


@pytest.mark.spark
def test_chunk_scan_pushes_stat_filters(spark, tmp_path):
    """min/max predicates must reach the parquet scan of the chunk table
    (PushedFilters), so chunk pruning is I/O-level, not post-scan."""
    from orc_rs_spark.encoder import encode_table
    from orc_rs_spark.fixtures import token_df

    df = token_df(spark, 500, seed=3, partitions=2)
    encode_table(df, partitions=2).write.parquet(str(tmp_path / "chunks"))
    chunks = spark.read.parquet(str(tmp_path / "chunks"))
    from pyspark.sql import functions as F

    plan = (
        chunks.where((F.col("min_val") <= 5) & (F.col("max_val") >= 5))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan
    assert "LessThanOrEqual(min_val,5)" in plan or "min_val" in plan.split("PushedFilters")[1][:200]
