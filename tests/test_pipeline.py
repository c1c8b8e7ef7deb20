"""Checkpointed encode job: lineage, crash resume, partition-exactness."""

import datetime

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from orc_rs_spark.decoder import decode_table, verify_roundtrip
from orc_rs_spark.fixtures import token_df, token_table
from orc_rs_spark.pipeline import done_buckets, encode_job


@pytest.mark.spark
def test_encode_job_with_crash_resume(spark, tmp_path):
    chunks_dir = str(tmp_path / "chunks")
    cp_dir = str(tmp_path / "checkpoint")
    df = token_df(spark, 2000, seed=42, partitions=4).cache()
    df.count()

    # crash after the first wave
    with pytest.raises(RuntimeError, match="injected failure"):
        encode_job(spark, df, chunks_dir, cp_dir, n_buckets=8, wave_size=4, fail_after_waves=1)

    done_first = done_buckets(spark, cp_dir)
    assert len(done_first) == 4  # exactly one wave checkpointed

    # resume: must encode only the remaining buckets
    summary = encode_job(spark, df, chunks_dir, cp_dir, n_buckets=8, wave_size=4)
    assert summary["buckets_skipped"] == 4
    assert summary["buckets_encoded"] == 4

    # every bucket done, no duplicates, full bit-identity
    assert done_buckets(spark, cp_dir) == set(range(8))
    chunks = spark.read.parquet(chunks_dir)
    assert chunks.select("chunk_id").distinct().count() == chunks.count()
    decoded = decode_table(chunks)
    n, bad = verify_roundtrip(df, decoded, exact=True)
    assert n == 2000 and bad == 0

    # lineage has per-bucket metrics
    cp = spark.read.parquet(cp_dir)
    row = cp.filter(F.col("n_rows") > 0).first()
    assert row["enc_bytes"] > 0 and row["wall_ms"] >= 0 and len(row["chunk_ids"]) >= 1
    df.unpersist()


@pytest.mark.spark
def test_encode_job_idempotent_rerun(spark, tmp_path):
    chunks_dir = str(tmp_path / "chunks")
    cp_dir = str(tmp_path / "checkpoint")
    df = token_df(spark, 500, seed=1, partitions=2)
    s1 = encode_job(spark, df, chunks_dir, cp_dir, n_buckets=4, wave_size=4)
    assert s1["buckets_encoded"] == 4
    n_chunks = spark.read.parquet(chunks_dir).count()
    # rerun: everything checkpointed -> no new work, no new chunks
    s2 = encode_job(spark, df, chunks_dir, cp_dir, n_buckets=4, wave_size=4)
    assert s2["buckets_encoded"] == 0 and s2["waves"] == 0
    assert spark.read.parquet(chunks_dir).count() == n_chunks


@pytest.mark.spark
def test_crash_between_write_and_checkpoint_no_duplicates(spark, tmp_path):
    """A wave that wrote chunks but died before checkpointing must not
    leave duplicates after the retry (dynamic partition overwrite)."""
    chunks_dir = str(tmp_path / "chunks")
    cp_dir = str(tmp_path / "checkpoint")
    df = token_df(spark, 800, seed=9, partitions=2).cache()
    df.count()
    with pytest.raises(RuntimeError, match="between chunk write"):
        encode_job(
            spark, df, chunks_dir, cp_dir, n_buckets=4, wave_size=2,
            fail_between_write_and_checkpoint=True,
        )
    # orphan chunks exist for wave 0, checkpoint empty
    assert done_buckets(spark, cp_dir) == set()
    orphans = spark.read.parquet(chunks_dir).count()
    assert orphans > 0
    # retry from scratch: buckets rewritten in place, no dupes
    encode_job(spark, df, chunks_dir, cp_dir, n_buckets=4, wave_size=2)
    chunks = spark.read.parquet(chunks_dir)
    assert chunks.select("chunk_id").distinct().count() == chunks.count()
    n, bad = verify_roundtrip(df, decode_table(chunks))
    assert n == 800 and bad == 0
    df.unpersist()


@pytest.mark.spark
def test_encode_table_rejects_wrong_shape(spark):
    from orc_rs_spark.encoder import encode_table

    df = spark.createDataFrame([(1, "x")], "a bigint, b string")
    with pytest.raises(ValueError, match="missing column"):
        encode_table(df)


@pytest.mark.spark
def test_resume_refuses_old_partition_scheme(spark, tmp_path):
    """A checkpoint written under a different bucket-map version must not
    resume (half the rows would map into already-'done' buckets)."""
    from orc_rs_spark.pipeline import CHECKPOINT_DDL

    cp_dir = str(tmp_path / "cp_v1")
    # simulate a v1-era checkpoint row
    spark.createDataFrame(
        [(0, "done", 1, ["c0"], 10, 100, 50, 5, 1, 1)], CHECKPOINT_DDL
    ).write.parquet(cp_dir)
    with pytest.raises(ValueError, match="scheme version"):
        done_buckets(spark, cp_dir)

    # pre-versioning checkpoints (no scheme_version column) refuse too
    cp_dir2 = str(tmp_path / "cp_legacy")
    spark.createDataFrame(
        [(0, "done")], "part_id int, status string"
    ).write.parquet(cp_dir2)
    with pytest.raises(ValueError, match="scheme version"):
        done_buckets(spark, cp_dir2)


def test_decimal256_rejected():
    import pyarrow as pa

    from orc_rs_spark.generic import _encode_column
    from orc_rs_spark.orcfile.writer import _arrow_to_orc_kind

    arr = pa.array([1, 2], type=pa.decimal256(50, 2))
    with pytest.raises(TypeError, match="decimal128"):
        _encode_column(arr)
    with pytest.raises(TypeError, match="decimal128"):
        _arrow_to_orc_kind(pa.decimal256(50, 2))


@pytest.mark.spark
def test_encode_job_wave_runs_two_spark_jobs(spark, tmp_path):
    """One wave is the shuffle map and the chunk write: no sampling job,
    no lineage re-read, no Spark checkpoint write, no checkpoint query."""
    import pyarrow.parquet as pq

    pq.write_table(token_table(600, seed=3), str(tmp_path / "in.parquet"))
    df = spark.read.parquet(str(tmp_path / "in.parquet"))  # schema resolved here
    sc = spark.sparkContext
    sc.setJobGroup("encode-one-wave", "one encode_job wave")
    try:
        summary = encode_job(
            spark, df, str(tmp_path / "chunks"), str(tmp_path / "cp"), n_buckets=4, wave_size=4
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert summary["waves"] == 1 and summary["rows"] == 600
    assert 1 <= len(sc.statusTracker().getJobIdsForGroup("encode-one-wave")) <= 2


@pytest.mark.spark
def test_encode_job_leaves_session_overwrite_mode(spark, tmp_path):
    """Dynamic partition overwrite is a per-write option: the session's
    partitionOverwriteMode is the same after encode_job, so a later user
    overwrite still replaces the whole table."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")  # the default, whatever ran before
    df = token_df(spark, 300, seed=5, partitions=2)
    encode_job(spark, df, str(tmp_path / "chunks"), str(tmp_path / "cp"), n_buckets=2, wave_size=2)
    assert spark.conf.get(key).lower() == "static"
    out = str(tmp_path / "user")
    spark.range(4).selectExpr("id", "id % 2 AS p").write.partitionBy("p").parquet(out)
    spark.range(1).selectExpr("id", "0 AS p").write.partitionBy("p").mode("overwrite").parquet(out)
    assert spark.read.parquet(out).count() == 1


@pytest.mark.spark
def test_resume_over_non_contiguous_pending_set(spark, tmp_path):
    """Buckets {1, 4} already done, then n_buckets=8, wave_size=3: the
    waves [0, 2, 3] and [5, 6, 7] encode every other bucket exactly once
    and the table round-trips exactly."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from orc_rs_spark.pipeline import _append_checkpoint

    chunks_dir = str(tmp_path / "chunks")
    df = token_df(spark, 1600, seed=11, partitions=4).cache()
    df.count()
    encode_job(spark, df, chunks_dir, str(tmp_path / "cp_all"), n_buckets=8, wave_size=8)
    # keep buckets 1 and 4 (chunks + checkpoint rows), drop the rest
    for b in (0, 2, 3, 5, 6, 7):
        shutil.rmtree(tmp_path / "chunks" / f"part_id={b}")
    all_rows = pq.read_table(str(tmp_path / "cp_all"))
    kept = all_rows.filter(pc.is_in(all_rows.column("part_id"), pa.array([1, 4], pa.int32())))
    cp_dir = str(tmp_path / "cp")
    _append_checkpoint(spark, cp_dir, kept.to_pylist())
    assert done_buckets(spark, cp_dir) == {1, 4}
    kept_files = sorted(p.name for b in (1, 4) for p in (tmp_path / "chunks" / f"part_id={b}").iterdir())

    summary = encode_job(spark, df, chunks_dir, cp_dir, n_buckets=8, wave_size=3)
    # done buckets are not rewritten (a rewrite names its files anew)
    assert sorted(
        p.name for b in (1, 4) for p in (tmp_path / "chunks" / f"part_id={b}").iterdir()
    ) == kept_files
    assert (summary["buckets_skipped"], summary["buckets_encoded"], summary["waves"]) == (2, 6, 2)
    cp = spark.read.parquet(cp_dir)
    assert sorted(r["part_id"] for r in cp.collect()) == list(range(8))
    chunks = spark.read.parquet(chunks_dir)
    assert chunks.select("chunk_id").distinct().count() == chunks.count()
    n, bad = verify_roundtrip(df, decode_table(chunks), exact=True)
    assert n == 1600 and bad == 0
    df.unpersist()


@pytest.mark.spark
def test_checkpoint_mixes_spark_and_driver_written_waves(spark, tmp_path):
    """A checkpoint holding a wave written by Spark (the earlier writer)
    and one written on the driver reads through done_buckets and through
    spark.read.parquet, ts included."""
    from orc_rs_spark.pipeline import (
        CHECKPOINT_DDL,
        PARTITION_SCHEME_VERSION,
        _append_checkpoint,
    )

    cp_dir = str(tmp_path / "cp")
    v = PARTITION_SCHEME_VERSION
    spark.createDataFrame(
        [(0, "done", 1, ["c0"], 10, 100, 50, 5, 1, v), (1, "done", 0, [], 0, 0, 0, 5, 1, v)],
        CHECKPOINT_DDL,
    ).withColumn("ts", F.current_timestamp()).write.mode("append").parquet(cp_dir)
    ts = datetime.datetime(2026, 1, 2, 3, 4, 5, 678901, tzinfo=datetime.timezone.utc)
    _append_checkpoint(spark, cp_dir, [{
        "part_id": 2, "status": "done", "n_chunks": 2, "chunk_ids": ["c2", "c3"],
        "n_rows": 20, "orig_bytes": 200, "enc_bytes": 90, "wall_ms": 7, "attempt": 1,
        "scheme_version": v, "ts": ts,
    }])
    assert done_buckets(spark, cp_dir) == {0, 1, 2}
    cp = spark.read.parquet(cp_dir)
    assert cp.schema.simpleString() == spark.createDataFrame(
        [], CHECKPOINT_DDL + ", ts timestamp").schema.simpleString()
    rows = {r["part_id"]: r for r in cp.collect()}
    assert sorted(rows) == [0, 1, 2]
    assert all(r["ts"] is not None for r in rows.values())
    assert rows[2]["chunk_ids"] == ["c2", "c3"] and rows[2]["enc_bytes"] == 90
    assert rows[2]["ts"] == ts.replace(tzinfo=None)  # the session time zone is UTC


@pytest.mark.spark
def test_checkpoint_rows_match_chunk_table_groupby(spark, tmp_path):
    """The driver-read lineage equals a Spark groupBy over the chunk
    table (the oracle), bucket by bucket, and sums to the summary."""
    chunks_dir = str(tmp_path / "chunks")
    cp_dir = str(tmp_path / "cp")
    df = token_df(spark, 13000, seed=21, partitions=3)
    summary = encode_job(spark, df, chunks_dir, cp_dir, n_buckets=2, wave_size=1)
    oracle = (
        spark.read.parquet(chunks_dir).groupBy("part_id").agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sort_array(F.collect_list("chunk_id")).alias("chunk_ids"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("orig_bytes").alias("orig_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
        )
    )
    cols = ["part_id", "n_chunks", "chunk_ids", "n_rows", "orig_bytes", "enc_bytes"]
    got = (
        spark.read.parquet(cp_dir)
        .withColumn("chunk_ids", F.sort_array("chunk_ids"))
        .select(*cols)
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, oracle.select(*cols).collect()))
    assert got.filter(F.col("n_chunks") > 1).count() >= 1  # a bucket spans chunks
    assert summary["rows"] == 13000
    assert summary["chunks"] == sum(r["n_chunks"] for r in got.collect())
    assert summary["enc_bytes"] == sum(r["enc_bytes"] for r in got.collect())


@pytest.mark.spark
def test_encode_job_paths_resolve_like_spark_writes(spark, tmp_path):
    """chunks_dir and checkpoint_dir resolve through the session's Hadoop
    configuration, as Spark's own writes do: with fs.defaultFS on another
    filesystem (a viewfs mount of ``remote`` at the path of ``local``),
    the driver reads the lineage and writes the checkpoint where Spark
    wrote the chunks, not on the driver's local disk."""
    import uuid

    # FileSystem instances are cached per scheme and authority: a fresh
    # mount table name per run
    mount = f"encode{uuid.uuid4().hex[:8]}"
    link = f"fs.viewfs.mounttable.{mount}.link.{tmp_path / 'local'}"
    (tmp_path / "remote").mkdir()
    df = token_df(spark, 500, seed=17, partitions=2).cache()
    df.count()
    spark.conf.set("fs.defaultFS", f"viewfs://{mount}/")
    spark.conf.set(link, (tmp_path / "remote").as_uri())
    chunks_dir, cp_dir = str(tmp_path / "local" / "chunks"), str(tmp_path / "local" / "cp")
    try:
        summary = encode_job(spark, df, chunks_dir, cp_dir, n_buckets=2, wave_size=2)
        done = done_buckets(spark, cp_dir)
        again = encode_job(spark, df, chunks_dir, cp_dir, n_buckets=2, wave_size=2)
    finally:
        spark.conf.unset("fs.defaultFS")
        spark.conf.unset(link)
    assert summary["rows"] == 500 and summary["chunks"] >= 2
    assert done == {0, 1}
    assert (again["buckets_skipped"], again["waves"]) == (2, 0)
    assert not (tmp_path / "local").exists()
    cp = spark.read.parquet(str(tmp_path / "remote" / "cp"))
    assert sorted(r["n_rows"] for r in cp.collect()) == sorted(
        r["n"] for r in spark.read.parquet(str(tmp_path / "remote" / "chunks"))
        .groupBy("part_id").agg(F.sum("n_rows").alias("n")).collect()
    )
    df.unpersist()
