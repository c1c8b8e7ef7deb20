"""Checkpointed encode job: explicit partitioning, lineage, partition-exact
resume (north_rule: "resumable from checkpoint with per-partition lineage +
metrics").

Partitioning model
------------------
Every row gets an explicit deterministic bucket: ``part_key =
xxhash64(doc_id) mod n_buckets``. Hashing doc_id is the salt that defuses
``source`` skew (web ~55% of rows would melt a source-keyed partitioning).
The bucket ids are dense and known before a wave starts, so the partition
bounds are declared, not sampled: ``repartitionById`` sends each row to
its bucket's slot in the wave, one task per bucket even when the pending
set has gaps, with no sampling pass over the input. Buckets — not
Spark's internal partition ids — are the resume unit, so a rerun assigns
identical rows to identical buckets regardless of cluster size (N vs 4N
executors), and the bucket id is persisted as the chunk's ``part_id``.

Waves
-----
Buckets are processed in waves of ``wave_size``; each wave is one Spark
write (two Spark jobs: the shuffle map and the chunk write; the parquet
commit is atomic per job). Chunk files are written partitioned by
``part_id``, so after the commit the driver reads the wave's lineage —
four small columns of the files in the wave's ``part_id=<b>``
directories — with pyarrow, and appends the wave's checkpoint rows as one
parquet file renamed into place. A killed run resumes at the first
un-checkpointed wave; completed buckets are never re-encoded.

At 100 TB: n_buckets scales to ~4x cluster cores; wave_size bounds the
blast radius of a failure; the checkpoint table stays tiny (one row per
bucket) and is read once per resume. The driver's reads and writes go
through the session's Hadoop FileSystem (pyarrow parses and writes the
parquet bytes), so ``chunks_dir`` and ``checkpoint_dir`` resolve exactly
as Spark's writes resolve them: a plain path against ``fs.defaultFS``,
and any scheme Spark writes (``file:``, ``hdfs://``, ``s3a://``,
``abfs://``) works.
"""

from __future__ import annotations

import datetime
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orc_rs_spark.encoder import encode_table
from orc_rs_spark.orcfile.spark_source import _pa_ddl

# the checkpoint table, as the driver writes it: one row per bucket
CHECKPOINT_SCHEMA = pa.schema([
    ("part_id", pa.int32()), ("status", pa.string()), ("n_chunks", pa.int32()),
    ("chunk_ids", pa.list_(pa.string())), ("n_rows", pa.int64()),
    ("orig_bytes", pa.int64()), ("enc_bytes", pa.int64()), ("wall_ms", pa.int64()),
    ("attempt", pa.int32()), ("scheme_version", pa.int32()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
# the same columns but ``ts`` as Spark DDL (earlier versions wrote the
# checkpoint with Spark, adding ``ts`` as current_timestamp())
CHECKPOINT_DDL = ", ".join(f"{f.name} {_pa_ddl(f.type)}" for f in CHECKPOINT_SCHEMA if f.name != "ts")
_LINEAGE_COLUMNS = ["chunk_id", "n_rows", "orig_bytes", "enc_bytes"]
_READ_PIECE = 4096

# Bump when the row->bucket mapping changes. v1 was abs(xxhash64)%n; v2 is
# pmod(xxhash64, n) — about half of all rows land in different buckets, so
# resuming a v1 checkpoint under v2 would silently skip rows that now map
# into already-"done" buckets. Resume refuses across versions instead.
PARTITION_SCHEME_VERSION = 2


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    # pmod, not abs(..)%n: abs(Long.MIN_VALUE) stays negative, which would
    # put ~2^-64 of rows in a bucket no wave ever selects (silent data loss)
    return df.withColumn(
        "part_key", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )


def _hadoop_path(spark: SparkSession, uri: str):
    """(Hadoop FileSystem, qualified Path) for ``uri``, resolved as Spark
    resolves a write path: through the session's Hadoop configuration, so
    a plain path lands on ``fs.defaultFS`` (the local disk in local mode,
    HDFS on a YARN cluster) and every scheme Spark writes reads back on
    the driver."""
    path = spark._jvm.org.apache.hadoop.fs.Path(uri)
    fs = path.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    return fs, fs.makeQualified(path)


def _data_files(fs, path) -> list:
    """The data files directly under ``path``, by name; Spark's hidden
    ``_``/``.`` files and in-flight temp files are skipped. A missing
    directory has none."""
    if not fs.exists(path):
        return []
    files = [s.getPath() for s in fs.listStatus(path) if s.isFile()]
    return sorted(
        (f for f in files if not f.getName().startswith(("_", "."))), key=lambda f: f.getName()
    )


class _HadoopInput:
    """A read-only, seekable Python file over one Hadoop file, for
    pyarrow's parquet reader: only the bytes pyarrow asks for are copied
    out of the JVM."""

    closed = False

    def __init__(self, fs, path):
        self._size = fs.getFileStatus(path).getLen()
        self._stream = fs.open(path)
        self._pos = 0

    def tell(self) -> int:
        return self._pos

    def seek(self, offset: int, whence: int = 0) -> int:
        self._pos = offset + (0, self._pos, self._size)[whence]
        return self._pos

    def read(self, n: int = -1) -> bytes:
        left = self._size - self._pos
        n = left if n is None or n < 0 else min(n, left)
        if n <= 0:
            return b""
        self._stream.seek(self._pos)
        # in pieces: a py4j reply much over 4 KiB can stall ~40 ms on
        # TCP's delayed ACK (local session on 4 vCPU: 6 KB in 1 ms, 8 KB
        # in 44 ms)
        data = b"".join(
            self._stream.readNBytes(min(_READ_PIECE, n - k)) for k in range(0, n, _READ_PIECE)
        )
        self._pos += len(data)
        return data

    def close(self) -> None:
        if not self.closed:
            self._stream.close()
            self.closed = True

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def _read_columns(fs, path, columns: list[str]) -> pa.Table:
    """``columns`` of one parquet file, those the file has."""
    with _HadoopInput(fs, path) as f:
        # the footer alone, not pyarrow's 64 KiB speculative tail read:
        # every byte read crosses py4j
        f.seek(-8, 2)
        n = int.from_bytes(f.read(4), "little")
        f.seek(-8 - n, 2)
        footer = pq.read_metadata(pa.BufferReader(b"PAR1" + f.read(n + 8)))
        pf = pq.ParquetFile(f, metadata=footer, pre_buffer=False)
        names = pf.schema_arrow.names
        return pf.read(columns=[c for c in columns if c in names], use_threads=False)


def done_buckets(spark: SparkSession, checkpoint_dir: str) -> set[int]:
    """Buckets the checkpoint records as done, read on the driver with
    pyarrow (no Spark job; a missing directory is an empty checkpoint)."""
    fs, root = _hadoop_path(spark, checkpoint_dir)
    versions: set = set()
    done: set[int] = set()
    for f in _data_files(fs, root):
        t = _read_columns(fs, f, ["part_id", "status", "scheme_version"])
        if "scheme_version" in t.column_names:
            versions.update(t.column("scheme_version").to_pylist())
        else:
            versions.add(1)  # pre-versioning checkpoints used the v1 bucket map
        done.update(
            p for p, st in zip(t.column("part_id").to_pylist(), t.column("status").to_pylist())
            if st == "done"
        )
    if versions - {PARTITION_SCHEME_VERSION}:
        raise ValueError(
            f"checkpoint at {checkpoint_dir} was written with partition "
            f"scheme version(s) {sorted(versions, key=str)}, this build uses "
            f"{PARTITION_SCHEME_VERSION}; resuming would silently skip rows "
            "that now map into already-done buckets — start a fresh "
            "checkpoint dir (or re-encode from scratch)"
        )
    return done


def _bucket_lineage(fs, chunks_root, bucket: int) -> dict:
    """One bucket's checkpoint metrics from its committed chunk files:
    chunk ids in file order, then row order; zeros when the bucket had no
    rows (no directory)."""
    bucket_dir = chunks_root.suffix(f"/part_id={bucket}")
    parts = [_read_columns(fs, f, _LINEAGE_COLUMNS) for f in _data_files(fs, bucket_dir)]
    ids = [c for t in parts for c in t.column("chunk_id").to_pylist()]
    sums = {
        c: sum(pc.sum(t.column(c)).as_py() or 0 for t in parts)
        for c in ("n_rows", "orig_bytes", "enc_bytes")
    }
    return {"n_chunks": len(ids), "chunk_ids": ids, **sums}


def _append_checkpoint(spark: SparkSession, checkpoint_dir: str, rows: list[dict]) -> None:
    """One wave's checkpoint rows as one parquet file, written under a
    hidden temp name and renamed into place, so a reader sees the whole
    wave or none of it."""
    fs, root = _hadoop_path(spark, checkpoint_dir)
    sink = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist(rows, schema=CHECKPOINT_SCHEMA), sink)
    name = f"part-{uuid.uuid4().hex}.snappy.parquet"
    tmp, final = root.suffix(f"/.{name}.inprogress"), root.suffix(f"/{name}")
    out = fs.create(tmp, False)  # creates the directory too
    try:
        out.write(bytearray(sink.getvalue().to_pybytes()))
    finally:
        out.close()
    if not fs.rename(tmp, final):
        raise OSError(f"checkpoint: could not rename {tmp.toString()} to {final.toString()}")


def encode_job(
    spark: SparkSession,
    df: DataFrame,
    chunks_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 32,
    wave_size: int = 16,
    block_codec: str = "zlib",
    fail_after_waves: int | None = None,
    fail_between_write_and_checkpoint: bool = False,
) -> dict:
    """Run (or resume) the checkpointed encode. Returns summary metrics.

    ``fail_after_waves`` / ``fail_between_write_and_checkpoint`` inject
    mid-job crashes (resume tests).

    Idempotency: chunk files are written with DYNAMIC partition overwrite
    (a per-write option; the session's setting is left alone), so a wave
    that crashed after writing chunks but before its checkpoint append
    simply rewrites the same bucket directories on retry — no duplicate
    chunks, no manual cleanup.
    """
    df = with_bucket(df, n_buckets)
    done = done_buckets(spark, checkpoint_dir)
    pending = sorted(set(range(n_buckets)) - done)
    fs, chunks_root = _hadoop_path(spark, chunks_dir)
    totals = {"rows": 0, "orig_bytes": 0, "enc_bytes": 0, "chunks": 0}
    waves = 0
    for i in range(0, len(pending), wave_size):
        if fail_after_waves is not None and waves >= fail_after_waves:
            raise RuntimeError("injected failure for resume test")
        wave = pending[i : i + wave_size]
        t0 = time.time()
        # declared bounds: a bucket's partition is its slot in the wave
        slot = F.array_position(F.array(*[F.lit(b) for b in wave]), F.col("part_key")) - 1
        sub = (
            df.filter(F.col("part_key").isin(wave))
            .repartitionById(len(wave), slot.cast("int"))
            .sortWithinPartitions("part_key", "source", "doc_id")
        )
        chunks = encode_table(sub, repartition=False, block_codec=block_codec)
        (
            chunks.write.partitionBy("part_id").mode("overwrite")
            .option("partitionOverwriteMode", "dynamic").parquet(chunks_dir)
        )
        if fail_between_write_and_checkpoint and waves == 0:
            raise RuntimeError("injected failure between chunk write and checkpoint")
        wall_ms = int((time.time() - t0) * 1000)
        ts = datetime.datetime.now(datetime.timezone.utc)
        rows = []
        for b in wave:
            lin = _bucket_lineage(fs, chunks_root, b)
            rows.append({
                "part_id": b, "status": "done", **lin, "wall_ms": wall_ms,
                "attempt": 1, "scheme_version": PARTITION_SCHEME_VERSION, "ts": ts,
            })
            totals["rows"] += lin["n_rows"]
            totals["orig_bytes"] += lin["orig_bytes"]
            totals["enc_bytes"] += lin["enc_bytes"]
            totals["chunks"] += lin["n_chunks"]
        _append_checkpoint(spark, checkpoint_dir, rows)
        waves += 1
    return {
        "buckets_total": n_buckets,
        "buckets_skipped": len(done),
        "buckets_encoded": len(pending),
        "waves": waves,
        **totals,
    }
