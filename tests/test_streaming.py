"""Structured Streaming encode: drain-and-stop, incremental files,
exactly-once on restart."""

import os

import pyarrow.parquet as pq
import pytest

from orc_rs_spark.decoder import decode_table, verify_roundtrip
from orc_rs_spark.fixtures import token_table
from orc_rs_spark.streaming import encode_stream


def _write_files(d, n_files, rows_per_file, seed0):
    import pyarrow as pa

    os.makedirs(d, exist_ok=True)
    for i in range(n_files):
        tbl = token_table(rows_per_file, seed=seed0 + i)
        ids = pa.array([f"f{seed0 + i}-{x}" for x in tbl.column("doc_id").to_pylist()])
        tbl = tbl.set_column(0, "doc_id", ids)
        pq.write_table(tbl, f"{d}/in-{seed0 + i}.parquet")


@pytest.mark.spark
def test_streaming_encode_available_now(spark, tmp_path):
    inp = str(tmp_path / "in")
    chunks_dir = str(tmp_path / "chunks")
    cp = str(tmp_path / "cp")
    _write_files(inp, 3, 400, seed0=100)

    q = encode_stream(spark, inp, chunks_dir, cp, available_now=True)
    q.awaitTermination(120)
    chunks = spark.read.parquet(chunks_dir)
    assert chunks.count() >= 1

    original = spark.read.parquet(inp)
    n, bad = verify_roundtrip(original, decode_table(chunks))
    assert n == 1200 and bad == 0

    # new files arrive -> resume drains only the delta
    _write_files(inp, 2, 300, seed0=500)
    q2 = encode_stream(spark, inp, chunks_dir, cp, available_now=True)
    q2.awaitTermination(120)
    chunks = spark.read.parquet(chunks_dir)
    original = spark.read.parquet(inp)
    n, bad = verify_roundtrip(original, decode_table(chunks))
    assert n == 1800 and bad == 0
    # no duplicate chunk ids across micro-batches
    assert chunks.select("chunk_id").distinct().count() == chunks.count()


@pytest.mark.spark
def test_streaming_encode_leaves_session_overwrite_mode(spark, tmp_path):
    """Dynamic partition overwrite is a per-write option of the sink: the
    session's partitionOverwriteMode is the same after the stream."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")  # the default, whatever ran before
    inp = str(tmp_path / "in")
    _write_files(inp, 1, 200, seed0=7)
    q = encode_stream(spark, inp, str(tmp_path / "chunks"), str(tmp_path / "cp"))
    q.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "chunks")).count() >= 1
    assert spark.conf.get(key).lower() == "static"


@pytest.mark.spark
def test_streaming_stateful_dedup(spark, tmp_path):
    from orc_rs_spark.streaming import streaming_dedup

    inp = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp2")
    os.makedirs(inp)
    import pyarrow as pa

    pq.write_table(
        pa.table({"doc_id": ["a", "b", "c"], "text": ["xx", "yy", "xx"]}),
        f"{inp}/f1.parquet",
    )
    q = streaming_dedup(spark, inp, out, cp)
    q.awaitTermination(120)
    first = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert first == {"a", "b"}  # c is a dup of a within the batch

    # second batch: dup across micro-batches is dropped by state
    pq.write_table(
        pa.table({"doc_id": ["d", "e"], "text": ["yy", "zz"]}), f"{inp}/f2.parquet"
    )
    q2 = streaming_dedup(spark, inp, out, cp)
    q2.awaitTermination(120)
    rows = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert rows == {"a", "b", "e"}  # d's text was seen in batch 1


@pytest.mark.spark
def test_streaming_orc_sink(spark, tmp_path):
    """Micro-batches land as real ORC part files, readable by both Spark's
    native reader and our stripe-parallel source."""
    import glob

    from orc_rs_spark.orcfile.spark_source import read_orc
    from orc_rs_spark.streaming import encode_stream_orc

    inp, out, cp = str(tmp_path / "in"), str(tmp_path / "orc"), str(tmp_path / "cp")
    _write_files(inp, 2, 200, seed0=300)
    q = encode_stream_orc(spark, inp, out, cp)
    q.awaitTermination(120)
    files = glob.glob(f"{out}/batch=*/part-*.orc")
    assert files
    ours = read_orc(spark, sorted(files))
    assert ours.count() == 400
    native = spark.read.orc(sorted(files))
    assert native.count() == 400


@pytest.mark.spark
def test_streaming_windowed_rates_with_watermark(spark, tmp_path):
    """Event-time windows finalize (append-mode emit) once the watermark
    passes; late-but-within-watermark rows still count."""
    import pandas as pd

    from orc_rs_spark.streaming import stream_windowed_rates

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    os.makedirs(inp, exist_ok=True)

    def write_file(name, rows):
        from pyspark.sql import functions as F

        pdf = pd.DataFrame(rows, columns=["doc_id", "n_tok", "source", "event_time"])
        pdf["event_time"] = pd.to_datetime(pdf["event_time"])
        spark.createDataFrame(pdf).withColumn(
            "n_tok", F.col("n_tok").cast("int")
        ).coalesce(1).write.mode("overwrite").parquet(f"{inp}/{name}")

    # batch 1: two 10-min windows' worth of events
    write_file("f1", [
        ("d1", 10, "web", "2026-01-01 00:01:00"),
        ("d2", 20, "web", "2026-01-01 00:05:00"),
        ("d3", 5, "books", "2026-01-01 00:02:00"),
        ("d4", 7, "web", "2026-01-01 00:12:00"),
    ])
    q = stream_windowed_rates(spark, f"{inp}/*", out, cp,
                              window="10 minutes", watermark="5 minutes")
    q.awaitTermination(120)

    # batch 2: a late row INSIDE the watermark for window [00:10,00:20) and
    # events far ahead that push the watermark past both early windows
    write_file("f2", [
        ("d5", 11, "web", "2026-01-01 00:13:00"),
        ("d6", 1, "web", "2026-01-01 01:00:00"),
    ])
    q2 = stream_windowed_rates(spark, f"{inp}/*", out, cp,
                               window="10 minutes", watermark="5 minutes")
    q2.awaitTermination(120)
    # one more drain so the watermark from batch 2 finalizes its windows
    write_file("f3", [("d7", 2, "web", "2026-01-01 02:00:00")])
    q3 = stream_windowed_rates(spark, f"{inp}/*", out, cp,
                               window="10 minutes", watermark="5 minutes")
    q3.awaitTermination(120)

    got = {
        (r.window_start.strftime("%H:%M"), r.source): (r.n_docs, r.n_tokens)
        for r in spark.read.parquet(out).collect()
    }
    assert got[("00:00", "web")] == (2, 30)
    assert got[("00:00", "books")] == (1, 5)
    # the late d5 made it into the 00:10 window before it finalized
    assert got[("00:10", "web")] == (2, 18)
