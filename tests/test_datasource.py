"""Spark Python Data Source integration (format "orc_rs"): standard
spark.read/write pipelines over the wire ORC machinery, with Catalyst
filter pushdown into stripe/row-group pruning."""

import glob
import os

import pytest

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def registered(spark):
    from orc_rs_spark.orcfile.datasource import OrcRsDataSource

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(OrcRsDataSource)
    return spark


def _write(spark, path, n=20000, parts=3, **opts):
    df = spark.range(0, n).selectExpr(
        "id AS k",
        "CAST((id * 2654435761) % 100000 AS BIGINT) AS u",
        "CONCAT('d', CAST(id % 50 AS STRING)) AS s",
    )
    w = df.repartition(parts).write.format("orc_rs").mode("overwrite")
    for k, v in opts.items():
        w = w.option(k, v)
    w.save(path)
    return df


def test_write_then_read_roundtrip(registered, tmp_path):
    spark = registered
    out = str(tmp_path / "ds")
    df = _write(spark, out)
    assert len(glob.glob(f"{out}/*.orc")) == 3
    assert not glob.glob(f"{out}/*.tmp")
    back = spark.read.format("orc_rs").load(out)
    assert back.count() == 20000
    a = df.selectExpr("sum(k)", "sum(u)").collect()[0]
    b = back.selectExpr("sum(k)", "sum(u)").collect()[0]
    assert list(a) == list(b)
    # our own files are also readable by Spark's native ORC reader
    assert spark.read.orc(out).count() == 20000


def test_overwrite_replaces(registered, tmp_path):
    spark = registered
    out = str(tmp_path / "dsow")
    _write(spark, out, n=1000, parts=4)
    _write(spark, out, n=500, parts=1)
    assert len(glob.glob(f"{out}/*.orc")) == 1
    assert spark.read.format("orc_rs").load(out).count() == 500


def test_filter_pushdown_results(registered, tmp_path):
    import pyspark.sql.functions as F

    spark = registered
    out = str(tmp_path / "dspd")
    df = _write(spark, out, stripe_rows="4000", row_index_stride="500",
                bloom_columns="u")
    back = spark.read.format("orc_rs").load(out)
    # equality (absorbed: source residual-filters, no double data)
    want = df.limit(1).collect()[0]["u"]
    got = back.where(F.col("u") == want).collect()
    exp = df.where(F.col("u") == want).collect()
    assert sorted(r["k"] for r in got) == sorted(r["k"] for r in exp)
    # IN-list (absorbed)
    keys = [r["u"] for r in df.limit(3).collect()]
    got = back.where(F.col("u").isin(keys)).collect()
    exp = df.where(F.col("u").isin(keys)).collect()
    assert sorted(r["k"] for r in got) == sorted(r["k"] for r in exp)
    # strict range (hint-pruned, Spark re-applies the exact comparison)
    got = back.where("k > 19990").collect()
    assert sorted(r["k"] for r in got) == list(range(19991, 20000))
    # conjunction with a filter we cannot absorb (string startswith)
    got = back.where("k >= 100 AND k <= 200 AND s LIKE 'd1%'").collect()
    exp = df.where("k >= 100 AND k <= 200 AND s LIKE 'd1%'").collect()
    assert sorted(r["k"] for r in got) == sorted(r["k"] for r in exp)


def test_projection_via_schema(registered, tmp_path):
    spark = registered
    out = str(tmp_path / "dsproj")
    _write(spark, out, n=2000, parts=1)
    only = spark.read.format("orc_rs").schema("k bigint").load(out)
    assert only.columns == ["k"]
    assert only.count() == 2000


def test_declared_schema_column_order(registered, tmp_path):
    """A declared read schema in another column order than the files'
    reads back in the declared order (Spark takes batch columns by
    position, so file order would swap values or fail on the types)."""
    spark = registered
    out = str(tmp_path / "dsorder")
    df = _write(spark, out, n=2000, parts=2)
    back = spark.read.format("orc_rs").schema("s string, u bigint, k bigint").load(out)
    assert back.columns == ["s", "u", "k"]
    got = sorted(tuple(r) for r in back.where("k < 50").collect())
    exp = sorted(tuple(r) for r in df.select("s", "u", "k").where("k < 50").collect())
    assert got == exp and len(got) == 50
    pair = spark.read.format("orc_rs").schema("u bigint, k bigint").load(out)
    assert pair.where("k = 7").collect()[0]["u"] == (7 * 2654435761) % 100000


def test_sql_over_registered_format(registered, tmp_path):
    spark = registered
    out = str(tmp_path / "dssql")
    _write(spark, out, n=3000, parts=2)
    spark.read.format("orc_rs").load(out).createOrReplaceTempView("t_ds")
    row = spark.sql("SELECT COUNT(*) n, SUM(k) sk FROM t_ds WHERE k < 100").collect()[0]
    assert (row["n"], row["sk"]) == (100, sum(range(100)))


def test_null_filters_absorbed(registered, tmp_path):
    spark = registered
    out = str(tmp_path / "dsnull")
    df = spark.range(0, 4000).selectExpr(
        "id AS k", "IF(id < 500, NULL, id) AS v"
    )
    df.coalesce(1).write.format("orc_rs").mode("overwrite") \
        .option("stripe_rows", "4000").option("row_index_stride", "500").save(out)
    back = spark.read.format("orc_rs").load(out)
    assert back.where("v IS NULL").count() == 500
    assert back.where("v IS NOT NULL").count() == 3500
    got = back.where("v IS NOT NULL AND v <= 600").collect()
    assert sorted(r["k"] for r in got) == list(range(500, 601))


def test_stream_writer_exactly_once(registered, tmp_path):
    """writeStream.format("orc_rs"): batch-id-keyed file names, no temp
    leftovers, and a second availableNow run over the same checkpoint
    appends only the NEW source rows (exactly-once across restarts)."""
    spark = registered
    src = str(tmp_path / "stream_src")
    cp = str(tmp_path / "stream_cp")
    out = str(tmp_path / "stream_out")
    spark.range(0, 1000).toDF("id").write.parquet(src)

    def run():
        q = (
            spark.readStream.schema("id bigint").parquet(src)
            .writeStream.format("orc_rs")
            .option("path", out).option("checkpointLocation", cp)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run()
    assert spark.read.format("orc_rs").load(out).count() == 1000
    spark.range(1000, 1800).toDF("id").write.mode("append").parquet(src)
    run()
    back = spark.read.format("orc_rs").load(out)
    assert back.count() == 1800
    assert back.selectExpr("sum(id)").collect()[0][0] == sum(range(1800))
    assert not glob.glob(f"{out}/*.tmp") and not glob.glob(f"{out}/.stream-*")
    # files are batch-id keyed under a time-ordered prefix
    names = sorted(glob.glob(f"{out}/part-*.orc"))
    assert names and all("b0000" in os.path.basename(n).split("-")[2] for n in names)


def test_append_mode_never_clobbers(registered, tmp_path):
    """Review finding: job-unique part names — a second append job must
    add files, not overwrite the first job's part-{pid}."""
    spark = registered
    out = str(tmp_path / "dsappend")
    df = spark.range(0, 1000).toDF("k")
    df.coalesce(1).write.format("orc_rs").mode("append").save(out)
    df.coalesce(1).write.format("orc_rs").mode("append").save(out)
    assert len(glob.glob(f"{out}/*.orc")) == 2
    assert spark.read.format("orc_rs").load(out).count() == 2000


def test_timestamp_and_nan_filters_not_absorbed(registered, tmp_path):
    """Review findings: timestamp equality (session-tz semantics) and
    NaN equality (Spark's NaN = NaN is true) must NOT be absorbed — the
    source hands them back and Spark applies its own semantics."""
    spark = registered
    out = str(tmp_path / "dstsnan")
    spark.sql("""
        SELECT id AS k,
               timestamp'2024-03-01 12:00:00' + make_interval(0,0,0,0,0,0,id) AS ts,
               IF(id = 7, CAST('NaN' AS DOUBLE), CAST(id AS DOUBLE)) AS x
        FROM range(0, 100)
    """).coalesce(1).write.format("orc_rs").mode("overwrite").save(out)
    back = spark.read.format("orc_rs").load(out)
    got = back.where("ts = timestamp'2024-03-01 12:00:42'").collect()
    assert [r["k"] for r in got] == [42]
    got = back.where("x = CAST('NaN' AS DOUBLE)").collect()
    assert [r["k"] for r in got] == [7]


def test_stream_replay_with_fewer_partitions(registered, tmp_path):
    """Review finding: a replayed micro-batch that repartitioned down
    must replace the WHOLE batch — stale part files of the same batch id
    are swept at commit."""
    import pyarrow as pa

    from orc_rs_spark.orcfile.datasource import OrcRsStreamWriter

    out = str(tmp_path / "dsreplay")
    w = OrcRsStreamWriter({"path": out}, None)

    def fake_task(pid, rows):
        import pyspark

        class Ctx:
            def partitionId(self):
                return pid

            def taskAttemptId(self):
                return pid * 100 + rows

        orig = pyspark.TaskContext.get
        pyspark.TaskContext.get = staticmethod(lambda: Ctx())
        try:
            return w.write(iter([pa.record_batch(
                {"k": pa.array(list(range(rows)), type=pa.int64())})]))
        finally:
            pyspark.TaskContext.get = orig

    # first attempt of batch 3: 4 partitions
    msgs = [fake_task(pid, 10) for pid in range(4)]
    w.commit(msgs, batchId=3)
    first = sorted(glob.glob(f"{out}/part-*-q*b00000003-*.orc"))
    assert len(first) == 4
    # replay of batch 3 with only 2 partitions
    msgs = [fake_task(pid, 25) for pid in range(2)]
    w.commit(msgs, batchId=3)
    files = sorted(glob.glob(f"{out}/part-*-q*b00000003-*.orc"))
    assert len(files) == 2  # stale 00002/00003 swept
    # replay REUSED the original time prefix: identical names, no
    # watermark-visible churn for a downstream tailing stream
    assert files == first[:2]
    from orc_rs_spark.orcfile.reader import OrcFileReader

    assert sum(OrcFileReader(f).read_all().num_rows for f in files) == 50


def test_stream_reader_tails_directory(registered, tmp_path):
    """readStream.format("orc_rs"): existing files form the first
    micro-batch, files appended later form the next — O(1) offsets over
    an append-only directory."""
    spark = registered
    src = str(tmp_path / "sr_src")
    spark.range(0, 1000).toDF("k").coalesce(1).write.format("orc_rs") \
        .mode("append").save(src)
    q = (
        spark.readStream.format("orc_rs").load(src)
        .writeStream.format("memory").queryName("sr_sink")
        .option("checkpointLocation", str(tmp_path / "sr_cp")).start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT COUNT(*) FROM sr_sink").collect()[0][0] == 1000
        spark.range(1000, 1600).toDF("k").coalesce(1).write.format("orc_rs") \
            .mode("append").save(src)
        q.processAllAvailable()
        rows = spark.sql("SELECT COUNT(*) n, SUM(k) s FROM sr_sink").collect()[0]
        assert (rows["n"], rows["s"]) == (1600, sum(range(1600)))
    finally:
        q.stop()


def test_evolve_option(registered, tmp_path):
    """.option("evolve","true"): the format unions evolved schemas —
    missing columns as NULLs, widened ints, filters still pushed."""
    import pyspark.sql.functions as F

    spark = registered
    out = str(tmp_path / "dsevolve")
    spark.range(0, 1000).selectExpr(
        "id AS k", "CAST(id AS INT) AS v"
    ).coalesce(1).write.format("orc_rs").mode("append").save(out)
    spark.range(1000, 2000).selectExpr(
        "id AS k", "CAST(id AS BIGINT) AS v", "CONCAT('e', id) AS extra"
    ).coalesce(1).write.format("orc_rs").mode("append").save(out)
    back = spark.read.format("orc_rs").option("evolve", "true").load(out)
    assert [f.dataType.simpleString() for f in back.schema.fields] == [
        "bigint", "bigint", "string"
    ]
    assert back.count() == 2000
    assert back.where("extra IS NULL").count() == 1000
    got = back.where(F.col("k") == 1500).collect()
    assert len(got) == 1 and got[0]["extra"] == "e1500"
    # a declared read schema keeps its own column order
    got = (spark.read.format("orc_rs").option("evolve", "true")
           .schema("extra string, k bigint").load(out).where("k = 1500").collect())
    assert [tuple(r) for r in got] == [("e1500", 1500)]
    # strict mode still refuses the mixed directory
    with pytest.raises(Exception, match="schema mismatch"):
        spark.read.format("orc_rs").load(out).count()


def test_stream_reader_mixed_producers(registered, tmp_path):
    """Review finding: batch appends and the streaming sink must
    interleave safely under the name-watermark — both now carry
    time-ordered prefixes, so a tail sees every file from both."""
    spark = registered
    out = str(tmp_path / "mixed")
    cp1, cp2 = str(tmp_path / "mcp1"), str(tmp_path / "mcp2")
    # producer A: streaming sink writes 0..999
    psrc = str(tmp_path / "msrc")
    spark.range(0, 1000).toDF("k").write.parquet(psrc)
    q = (spark.readStream.schema("k bigint").parquet(psrc)
         .writeStream.format("orc_rs").option("path", out)
         .option("checkpointLocation", cp1).trigger(availableNow=True).start())
    q.awaitTermination(120)
    # producer B: batch append writes 1000..1499
    spark.range(1000, 1500).toDF("k").coalesce(1) \
        .write.format("orc_rs").mode("append").save(out)
    # producer A again: streaming sink appends 1500..1999
    spark.range(1500, 2000).toDF("k").write.mode("append").parquet(psrc)
    q = (spark.readStream.schema("k bigint").parquet(psrc)
         .writeStream.format("orc_rs").option("path", out)
         .option("checkpointLocation", cp1).trigger(availableNow=True).start())
    q.awaitTermination(120)
    # tail the mixed directory from scratch: nothing may be skipped
    q2 = (spark.readStream.format("orc_rs").load(out)
          .writeStream.format("memory").queryName("mixed_sink")
          .option("checkpointLocation", cp2).start())
    q2.processAllAvailable()
    r = spark.sql("SELECT COUNT(*) n, SUM(k) s FROM mixed_sink").collect()[0]
    q2.stop()
    assert (r["n"], r["s"]) == (2000, sum(range(2000)))


def test_stream_reader_evolve_option(registered, tmp_path):
    """Review finding: a schema generation change must not wedge the
    stream — evolve mode adapts every micro-batch to the union."""
    spark = registered
    out = str(tmp_path / "sevolve")
    cp = str(tmp_path / "secp")
    spark.range(0, 500).selectExpr("id AS k", "CAST(id AS INT) AS v") \
        .coalesce(1).write.format("orc_rs").mode("append").save(out)
    spark.range(500, 1000).selectExpr(
        "id AS k", "CAST(id AS BIGINT) AS v", "CONCAT('x', id) AS extra"
    ).coalesce(1).write.format("orc_rs").mode("append").save(out)
    q = (spark.readStream.format("orc_rs").option("evolve", "true").load(out)
         .writeStream.format("memory").queryName("se_sink")
         .option("checkpointLocation", cp).start())
    q.processAllAvailable()
    r = spark.sql(
        "SELECT COUNT(*) n, SUM(v) s, COUNT(extra) e FROM se_sink"
    ).collect()[0]
    q.stop()
    assert (r["n"], r["s"], r["e"]) == (1000, sum(range(1000)), 500)


def test_empty_dir_schema_hint(registered, tmp_path):
    import os

    spark = registered
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    with pytest.raises(Exception, match="schema"):
        spark.read.format("orc_rs").load(empty).count()


def test_stream_source_detects_out_of_order_producer(tmp_path):
    """A file materializing BELOW an already-planned watermark (an
    out-of-name-order producer) fails the stream loudly instead of being
    silently skipped (the O(1) name-watermark offset cannot batch it)."""
    import time

    import pyarrow as pa
    import pytest as _pytest
    from pyspark.sql.types import LongType, StructField, StructType

    from orc_rs_spark.orcfile.datasource import OrcRsStreamReader
    from orc_rs_spark.orcfile.writer import write_orc

    d = str(tmp_path / "tail_dir")
    os.makedirs(d)
    t = pa.table({"id": pa.array([1, 2], pa.int64())})
    write_orc(t, os.path.join(d, "part-zzz.orc"))
    reader = OrcRsStreamReader(
        {"path": d}, StructType([StructField("id", LongType())]))
    off = reader.latestOffset()
    assert off == {"last": "part-zzz.orc"}
    parts = reader.partitions({"last": ""}, off)  # plan the batch
    assert parts
    # the sink's idempotent REPLAY of an already-planned name is fine
    time.sleep(0.02)
    write_orc(t, os.path.join(d, "part-zzz.orc"))
    assert reader.latestOffset() == off
    # but a NEW name below the planned watermark is provably lost -> loud
    write_orc(t, os.path.join(d, "part-aaa.orc"))
    with _pytest.raises(RuntimeError, match="already-planned watermark"):
        reader.latestOffset()


@pytest.mark.parametrize("codec", ["snappy", "zstd", "lz4", "lzo"])
def test_datasource_compression_codecs(registered, tmp_path, codec):
    """format("orc_rs") with each real encoder (round 5): write through
    the data source, read back through BOTH the data source and Spark's
    native JVM ORC reader with matching aggregates."""
    spark = registered
    out = str(tmp_path / f"ds_{codec}")
    df = spark.range(5000).selectExpr(
        "id", "concat('name-', id % 97) AS name", "CAST(id * 1.5 AS DOUBLE) AS v")
    df.write.format("orc_rs").option("compression", codec).mode("overwrite").save(out)
    back = spark.read.format("orc_rs").load(out)
    assert back.count() == 5000
    want = df.selectExpr("sum(id)", "sum(v)").first()
    got = back.selectExpr("sum(id)", "sum(v)").first()
    assert got[0] == want[0] and abs(got[1] - want[1]) < 1e-6
    jvm = spark.read.orc(out)
    assert jvm.count() == 5000 and jvm.selectExpr("sum(id)").first()[0] == want[0]


def test_compact_live_tailed_dir_trips_detector(tmp_path):
    """Round-6 contract: compacting INTO a directory a stream is LIVE
    against is refused by the source — the compacted outputs sort below
    the already-planned name watermark, which is exactly the
    out-of-order-producer shape (their rows would otherwise be silently
    re-lost or re-read). Driven at the source-class level like
    test_stream_source_detects_out_of_order_producer."""
    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField, StructType

    from orc_rs_spark.orcfile.datasource import OrcRsStreamReader
    from orc_rs_spark.orcfile.writer import write_orc

    d = str(tmp_path / "live_tail")
    os.makedirs(d)
    t = pa.table({"id": pa.array(list(range(10)), pa.int64())})
    # sink-style time-ordered names
    write_orc(t, os.path.join(d, "part-1aa0-00000.orc"))
    write_orc(t, os.path.join(d, "part-1aa1-00000.orc"))
    reader = OrcRsStreamReader(
        {"path": d}, StructType([StructField("id", LongType())]))
    off = reader.latestOffset()
    assert reader.partitions({"last": ""}, off)  # plan (sets the watermark)
    # "compaction" lands a merged file whose name sorts below the watermark
    write_orc(pa.concat_tables([t, t]), os.path.join(d, "compact-00000.orc"))
    with pytest.raises(RuntimeError, match="already-planned watermark"):
        reader.latestOffset()


def test_compact_then_restart_stream(registered, tmp_path):
    """Round-6 cookbook contract (README "Compaction under a tailing
    stream"): stop the stream -> compact in place with a BELOW-watermark
    name prefix -> append new data -> restart from the SAME checkpoint.
    The compacted replacements are never re-read (their rows were already
    processed under their original names), the new files are, and a
    from-scratch tail of the final directory still sees every row once."""
    import shutil

    from orc_rs_spark.orcfile.merge import compact_orc_dir

    spark = registered
    src = str(tmp_path / "c_src")
    down = str(tmp_path / "c_down")
    cp = str(tmp_path / "c_cp")

    # gen 1: three small sink-named files via the batch writer
    for lo, hi in ((0, 400), (400, 700), (700, 1000)):
        spark.range(lo, hi).toDF("k").coalesce(1) \
            .write.format("orc_rs").mode("append").save(src)
    assert len(glob.glob(f"{src}/part-*.orc")) == 3

    def run_stream():
        q = (spark.readStream.format("orc_rs").load(src)
             .writeStream.format("orc_rs").option("path", down)
             .option("checkpointLocation", cp)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(180)

    run_stream()  # processes gen 1
    got = spark.read.format("orc_rs").load(down)
    assert got.count() == 1000

    # stream stopped: compact gen 1 in place. Output names ("compact-")
    # sort BELOW the watermark ("part-{hextime}-..."), so the restarted
    # checkpoint neither re-reads nor flags them.
    staging = str(tmp_path / "c_staging")
    n = compact_orc_dir(spark, src, staging, target_bytes=1 << 40,
                        name_prefix="compact-")
    assert n == 1000
    for f in glob.glob(f"{src}/part-*.orc"):
        os.remove(f)
    for f in glob.glob(f"{staging}/compact-*.orc"):
        shutil.move(f, os.path.join(src, os.path.basename(f)))
    assert len(glob.glob(f"{src}/*.orc")) == 1

    # gen 2 arrives above the watermark; restart from the same checkpoint
    spark.range(1000, 1600).toDF("k").coalesce(1) \
        .write.format("orc_rs").mode("append").save(src)
    run_stream()

    got = spark.read.format("orc_rs").load(down).toDF("k")
    r = got.selectExpr("COUNT(*) AS n", "SUM(k) AS s",
                       "COUNT(DISTINCT k) AS d").collect()[0]
    # exactly-once: 1600 distinct rows, no duplicate from the compacted gen
    assert (r["n"], r["s"], r["d"]) == (1600, sum(range(1600)), 1600)

    # and the compacted directory remains a valid tail-from-scratch source
    cp2 = str(tmp_path / "c_cp2")
    q2 = (spark.readStream.format("orc_rs").load(src)
          .writeStream.format("memory").queryName("compact_restart_sink")
          .option("checkpointLocation", cp2).trigger(availableNow=True).start())
    assert q2.awaitTermination(180)
    r2 = spark.sql("SELECT COUNT(*) n, SUM(k) s FROM compact_restart_sink").collect()[0]
    assert (r2["n"], r2["s"]) == (1600, sum(range(1600)))
