"""SparkSession factory tuned for the encode/decode pipeline."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# glibc malloc tuning for the NumPy kernels: without it every >128KB temp is
# a fresh mmap and the kernel's page-zeroing serializes all executor python
# workers (measured: 32-proc encode ran SLOWER than 8-proc; with this it
# scales 4.4x from 8->32). Large allocations stay on the freelist instead.
_MALLOC_TUNING = {
    "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
    "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
}


def _prewarm_workers(spark: SparkSession, cores: int) -> None:
    """One-time executor warm-up: fork every Python worker slot, import the
    package's kernel/orcfile module surface, and grow each worker's heap once.

    Workers started through ``_workerd`` no longer re-read Spark's zip
    directories on each task, so that cost is not what prewarm saves. What
    it still buys is the worker fork, the package import chain and the
    heap's first-touch page zeroing. Because the warm task imports that
    chain, ``_workerd`` collects and ``gc.freeze()``s each worker's heap
    right after it, so the daemon's ``gc.collect()`` after every later task
    walks only that task's objects, not the ~74 k imported ones (a lengths
    pass's Python-worker CPU ~0.12 s -> ~0.01 s on a 4-vCPU host). Non-local
    masters run the stock daemon and get neither the zip eviction nor the
    freeze. Without it the FIRST heavy task of every
    worker pays those serially (32 fresh heaps faulting at once — the same
    effect the malloc tuning above addresses for steady state); measured on
    the bench box the first 32-task encode/ORC-write/read stage ran 3-5x its
    steady-state time (event-log task medians 4.4 s vs 0.85 s). This is
    provisioning work, equivalent to executor spin-up on a cluster: it runs
    one ``spark.range`` job, touches no input data, and computes nothing that
    any later query reuses. It warms the executors that exist when the
    session starts; executors added later by dynamic allocation are never
    warmed. The session is marked warm only when the job succeeds, so a
    failed warm-up is retried on the next call.

    Opt out with ORC_RS_PREWARM=0 (e.g. single-query scripts where session
    startup dominates)."""
    if os.environ.get("ORC_RS_PREWARM", "1") == "0":
        return
    if getattr(spark, "_orc_rs_prewarmed", False):
        return

    def warm(batches):
        import numpy as np

        import orc_rs_spark.chunk  # noqa: F401  (kernels chain)
        import orc_rs_spark.orcfile.spark_source  # noqa: F401 (writer+reader)

        a = np.ones(64 << 20, dtype=np.uint8)  # first-touch ~64 MB of heap
        del a
        import time

        time.sleep(0.05)  # hold the slot so every core forks its own worker
        yield from batches

    try:
        spark.range(cores, numPartitions=cores).mapInArrow(warm, "id long").count()
    except Exception:
        return  # warm-up must never break session creation
    spark._orc_rs_prewarmed = True


def _workerd_conf(master: str, executor_pythonpath: str = "") -> dict:
    """``spark.python.daemon.module`` pointing at ``orc_rs_spark._workerd``,
    or nothing.

    Set only for ``local`` masters, and only when this package was imported
    from a directory that the daemon finds on its own path (its working
    directory, which ``python -m`` puts first unless PYTHONSAFEPATH is set,
    or PYTHONPATH), so the daemon can import the shim before any task ships
    files. A package imported from a zip (``--py-files``) keeps Spark's
    stock daemon."""
    if master != "local" and not master.startswith("local["):
        return {}
    parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isdir(os.path.join(parent, "orc_rs_spark")):
        return {}
    path = [] if os.environ.get("PYTHONSAFEPATH") else [os.getcwd()]
    for entries in (os.environ.get("PYTHONPATH", ""), executor_pythonpath):
        path += entries.split(os.pathsep)
    if os.path.realpath(parent) not in {os.path.realpath(p) for p in path if p}:
        return {}
    return {"spark.python.daemon.module": "orc_rs_spark._workerd"}


def get_spark(
    master: str | None = None,
    app_name: str = "orc_rs_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus if cpus.isdigit() else 32)
    os.environ.update(_MALLOC_TUNING)  # driver-side kernels (tests, local ops)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Arrow everywhere: mapInArrow/pandas UDFs move whole columnar batches
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # batch size == chunk size: one Arrow batch becomes one encoded chunk.
        # 4096 rows (~1M tokens) keeps each worker's temp working set small
        # enough that 32 concurrent workers don't thrash the shared L3
        # (measured: 16384-row chunks ran 2.7x slower at local[32])
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # token tables are wide rows (KBs each): smaller splits keep every
        # core busy during the scan/shuffle-write stage
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if os.path.isdir("/dev/shm"):
        # shuffle spill on tmpfs: this box has no fast local disk; a real
        # cluster node would put spark.local.dir on NVMe
        b = b.config("spark.local.dir", "/dev/shm/spark_local")
    for k, v in _MALLOC_TUNING.items():
        b = b.config(f"spark.executorEnv.{k}", v)
    extra_conf = extra_conf or {}
    conf = _workerd_conf(master, extra_conf.get("spark.executorEnv.PYTHONPATH", ""))
    for k, v in {**conf, **extra_conf}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _prewarm_workers(spark, max(1, spark.sparkContext.defaultParallelism))
    return spark


def iceberg_conf(catalog: str = "ice", warehouse: str = "/tmp/iceberg_warehouse") -> dict:
    """Spark confs wiring an Iceberg catalog (north-star input is an Iceberg
    table of pre-tokenized sequences).

    This sandbox has no network and no Iceberg runtime jar, so these confs
    are exercised only when the jar is present (cluster deployments add
    ``--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>``
    to spark-submit); everything else in the engine reads/writes through
    the DataFrame API and is source-format agnostic.
    """
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }
