"""Spark side of the benchmark: session, inputs, timed passes and checks.

Every pass runs under its own Spark job group, so a traced run can ask the
driver's REST API for exactly that pass's stages. Nothing here is timed
twice: a pass's wall clock covers the program's calls and their sink, and
the correctness checks run after the measured window.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

import hostprobe
import procstat
from lookups import DocIndex
from spark_rest import SparkRest
from workloads import GENERATORS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKER_SITE = os.path.join(HERE, "worker_site")

PASS_KINDS = ("encode", "decode", "lengths")
WARM_UP = ("encode", "decode", "lengths", "encode", "decode", "lengths")
# the reads are cheap next to encode and vary more from pass to pass: two
# of each per round
ROUND = ("encode", "decode", "lengths", "decode", "lengths")

# Fixed, not derived from the core count, so that the encoded bytes of a
# seed are the same on every machine: encode_job buckets, input files and
# ORC part files.
N_PARTS = 4
# ORC layout for the lookup export and the traced ORC passes. A token row is
# ~2.6 KB raw, so 256-row stripes and 32-row groups keep one lookup's
# decode near 20k tokens.
ORC_OPTS = {
    "compression": "zlib",
    "stripe_rows": 256,
    "row_index_stride": 32,
    "bloom_columns": ["doc_id"],
}

MIN_ROUNDS = 3
DRIVER_MEMORY = "2g"
# lookups run in small batches between the passes, so that they sample the
# host's speed across the whole window: on the shared host a single thread's
# speed drifts by 20-30% from minute to minute
LOOKUP_BATCH = 67
MIN_LOOKUPS = 1000
# Lookup keys come from a fixed stream: every seed has the same doc ids and
# document lengths, so every run looks up the same documents and p99 does
# not move with which long documents a seed happened to draw.
LOOKUP_KEY_SEED = 20_260_103


def source_digest() -> str:
    """Hash of the program's sources, so a report names the code it ran."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "orc_rs_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "none"
    return out.stdout.strip() if out.returncode == 0 else "none"


def _dir_bytes(path: str, pattern: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, pattern)))


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
        self.span_dir = os.path.join(self.work, "spans")
        os.makedirs(self.span_dir, exist_ok=True)
        self.spark = None
        self.setup: dict[str, float] = {}
        self.walls: dict[str, list[float]] = {k: [] for k in PASS_KINDS}
        self.cpu: dict[str, list[float]] = {k: [] for k in PASS_KINDS}
        self.probe_cpu: list[float] = []
        self.latencies_ms: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.mismatch_rows = 0
        self.enc_bytes = 0
        self.n_chunks = 0
        self.chunks_dir = None
        self.lookup_dir = os.path.join(self.work, "orc-lookup")
        self.orc_dir = os.path.join(self.work, "orc-spark")
        self.index = None
        self.key_rng = np.random.default_rng(LOOKUP_KEY_SEED)
        self.pass_no = 0
        self.info: dict[str, str] = {}

    # ---------------------------------------------------------------- setup

    def start(self) -> None:
        from orc_rs_spark import session

        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        # a fixed 2 GB driver heap holds these inputs many times over
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        os.environ["ORC_RS_PREWARM"] = "0"  # timed on its own below
        # temporary files of the driver, the JVM and the workers stay in
        # the work directory
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        py_path = [ROOT] + ([WORKER_SITE] if self.trace else [])
        conf = {
            # executors import the program from this checkout, never from a
            # packaged zip or an installed copy
            "spark.executorEnv.PYTHONPATH": os.pathsep.join(py_path),
            # shuffle and spill files stay in the checkout too, in place of
            # the program's default of /dev/shm, so the run writes nowhere
            # else
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}"
            ),
            # the JVM's peak heap use is polled, not sampled at heartbeats
            "spark.executor.metrics.pollingInterval": "100ms",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf["spark.executorEnv.PERFBENCH_SPAN_DIR"] = self.span_dir
        t0 = time.perf_counter()
        self.spark = session.get_spark(
            master=f"local[{self.cores}]",
            app_name=f"perfbench-{self.workload}",
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        self.setup["session.start_s"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        del os.environ["ORC_RS_PREWARM"]
        t0 = time.perf_counter()
        session._prewarm_workers(self.spark, self.cores)
        self.setup["session.prewarm_s"] = time.perf_counter() - t0
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self._check_executor_origin()

    def _check_executor_origin(self) -> None:
        def probe(batches):
            import pyarrow as pa

            import orc_rs_spark

            for _ in batches:
                pass
            yield pa.RecordBatch.from_pylist([{"file": orc_rs_spark.__file__}])

        seen = self.spark.range(1, numPartitions=1).mapInArrow(probe, "file string").collect()
        origin = seen[0]["file"]
        self.info["git_commit"] = git_commit()
        self.info["source_digest"] = source_digest()
        self.info["executor_orc_rs_spark"] = origin
        want = os.path.join(ROOT, "orc_rs_spark")
        if os.path.commonpath([os.path.realpath(origin), os.path.realpath(want)]) != os.path.realpath(want):
            raise RuntimeError(f"executors import orc_rs_spark from {origin}, not from {want}")

    def make_inputs(self) -> None:
        t0 = time.perf_counter()
        tbl = GENERATORS[self.workload](self.seed)
        self.input_dir = os.path.join(self.work, "input")
        os.makedirs(self.input_dir)
        step = -(-tbl.num_rows // N_PARTS)
        for k in range(N_PARTS):
            pq.write_table(tbl.slice(k * step, step), os.path.join(self.input_dir, f"part-{k}.parquet"))
        self.setup["inputs_s"] = time.perf_counter() - t0
        self.table = tbl
        self.rows = tbl.num_rows
        self.doc_ids = tbl.column("doc_id").to_pylist()
        self.row_of = {d: j for j, d in enumerate(self.doc_ids)}
        self.sorted_ids = sorted(self.doc_ids)
        toks = tbl.column("tokens").combine_chunks()
        self.offsets = toks.offsets.to_numpy()
        self.flat = toks.values.to_numpy()
        self.tokens = int(self.offsets[-1])

    def _input_df(self):
        return self.spark.read.parquet(self.input_dir)

    def write_reference(self) -> None:
        """Spark's own ORC writer (zlib) on the same rows: the size baseline."""
        t0 = time.perf_counter()
        ref = os.path.join(self.work, "spark-orc")
        self._input_df().write.option("compression", "zlib").orc(ref)
        self.spark_orc_bytes = _dir_bytes(ref, "part-*.orc")
        shutil.rmtree(ref)
        self.setup["spark_orc_ref_s"] = time.perf_counter() - t0

    def _write_orc(self, out_dir: str) -> int:
        """``write_orc_dir`` of the rows range-partitioned and sorted on
        doc_id: one part file per partition."""
        from orc_rs_spark.orcfile.spark_source import write_orc_dir

        df = self._input_df().repartitionByRange(N_PARTS, "doc_id").sortWithinPartitions("doc_id")
        return write_orc_dir(df, out_dir, **ORC_OPTS)

    def export_for_lookups(self) -> None:
        """The workload's rows as ORC part files sorted by doc_id, the target
        of point lookups."""
        t0 = time.perf_counter()
        if self._write_orc(self.lookup_dir) != self.rows:
            raise RuntimeError("the lookup export did not write every row")
        self.index = DocIndex(self.lookup_dir)
        self.setup["orc_export_s"] = time.perf_counter() - t0

    def warm_up(self) -> None:
        """Unrecorded passes and a few lookups: the first passes after
        session start run much slower than later ones. With one warm-up
        pass of each kind, the JVM still spent CPU on compiling in the
        measured passes: the window's first encode took 25–80% more CPU than
        its last, and decode CPU fell by up to 25% across the window."""
        t0 = time.perf_counter()
        for kind in WARM_UP:
            self.run_pass(kind)
        self.lookup_batch(LOOKUP_BATCH, record=False)
        self.setup["warm_up_s"] = time.perf_counter() - t0

    def prepare(self) -> None:
        self.start()
        self.make_inputs()
        self.write_reference()
        self.export_for_lookups()
        self.warm_up()

    # --------------------------------------------------------------- passes

    def _tree(self) -> list[int]:
        """This driver, the JVM, and the Python worker daemon and workers."""
        return [os.getpid()] + procstat.descendants(self.jvm_pid)

    def run_pass(self, kind: str, record: bool = False, group: str | None = None) -> dict:
        """One pass of ``kind``; returns its wall time (None if it failed),
        the CPU seconds of the whole process tree and those of the
        executors' Python workers alone. A recorded pass keeps its wall and
        tree CPU seconds, and runs the host probe just before it."""
        if record:
            self.probe_cpu.append(hostprobe.cpu_s(self.cores))
        sc = self.spark.sparkContext
        self.pass_no += 1
        sc.setJobGroup(group or f"pass-{self.pass_no}", kind)
        for f in glob.glob(os.path.join(self.span_dir, "*.spans")):
            os.remove(f)
        tree = self._tree()
        cpu0, py_cpu0 = procstat.cpu_s(tree), procstat.python_cpu_s(tree[1:])
        self.attempted += 1
        try:
            wall, ok = getattr(self, f"_{kind}")()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            wall, ok = None, False
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the pass may have forked workers: count them too
        tree = self._tree()
        cpu = procstat.cpu_s(tree) - cpu0
        py_cpu = procstat.python_cpu_s(tree[1:]) - py_cpu0
        if not ok:
            self.failed += 1
            wall = None
        elif record:
            self.walls[kind].append(wall)
            self.cpu[kind].append(cpu)
        return {"wall": wall, "cpu_s": cpu, "py_cpu_s": py_cpu}

    def _encode(self):
        """Input scan -> encode -> parquet chunk sink: the checkpointed
        ``encode_job`` on lm-corpus, map-side ``encode_table`` on regime-mix."""
        from pyspark.sql import functions as F

        from orc_rs_spark.encoder import encode_table
        from orc_rs_spark.pipeline import encode_job

        out = os.path.join(self.work, f"chunks-{self.pass_no}")
        t0 = time.perf_counter()
        if self.workload == "lm-corpus":
            summary = encode_job(
                self.spark, self._input_df(), out, os.path.join(self.work, f"ckpt-{self.pass_no}"),
                n_buckets=N_PARTS, wave_size=N_PARTS,
            )
            wall = time.perf_counter() - t0
        else:
            encode_table(self._input_df(), repartition=False).write.parquet(out)
            wall = time.perf_counter() - t0
            agg = self.spark.read.parquet(out).agg(
                F.sum("n_rows"), F.sum("enc_bytes"), F.count(F.lit(1))
            ).collect()[0]
            summary = {"rows": agg[0], "enc_bytes": agg[1], "chunks": agg[2]}
        old = self.chunks_dir
        self.chunks_dir, self.enc_bytes, self.n_chunks = out, summary["enc_bytes"], summary["chunks"]
        if old:
            shutil.rmtree(old, ignore_errors=True)
            shutil.rmtree(old.replace("chunks-", "ckpt-"), ignore_errors=True)
        return wall, summary["rows"] == self.rows

    def _decode(self, columns=None):
        """Chunk table -> ``decode_table`` -> noop sink."""
        from orc_rs_spark.decoder import decode_table

        t0 = time.perf_counter()
        chunks = self.spark.read.parquet(self.chunks_dir)
        decode_table(chunks, columns=columns).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, True

    def _lengths(self):
        """The sequence-packing planner's read: ``n_tok`` only."""
        return self._decode(columns=("n_tok",))

    def _orc_write(self):
        """The lookup export's ``write_orc_dir`` as a pass of its own (traced
        runs only)."""
        t0 = time.perf_counter()
        n = self._write_orc(self.orc_dir)
        return time.perf_counter() - t0, n == self.rows

    def _orc_scan(self):
        """``read_orc`` full scan -> aggregate (traced runs only)."""
        from pyspark.sql import functions as F

        from orc_rs_spark.orcfile.spark_source import read_orc

        t0 = time.perf_counter()
        got = read_orc(self.spark, self.orc_dir).agg(F.count(F.lit(1)), F.sum("n_tok")).collect()[0]
        wall = time.perf_counter() - t0
        return wall, (int(got[0]), int(got[1])) == (self.rows, self.tokens)

    # -------------------------------------------------------------- lookups

    def lookup_batch(self, n: int, record: bool = True) -> None:
        for k in self.key_rng.integers(0, self.rows, n).tolist():
            key = self.sorted_ids[k]
            j = self.row_of[key]
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                hit = self.index.lookup(key)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                hit = None
            dt = time.perf_counter() - t0
            if self.lookup_ok(hit, j):
                if record:
                    self.latencies_ms.append(dt * 1e3)
            else:
                self.failed += 1

    def lookup_ok(self, hit, j: int) -> bool:
        if hit is None or hit.num_rows != 1 or hit.column("doc_id")[0].as_py() != self.doc_ids[j]:
            return False
        got = hit.column("tokens").combine_chunks().flatten().to_numpy()
        want = self.flat[self.offsets[j] : self.offsets[j + 1]]
        return hit.column("n_tok")[0].as_py() == len(want) and np.array_equal(got, want)

    # ------------------------------------------------------------- measure

    def measure(self) -> None:
        steal0 = procstat.steal_s()
        deadline = time.perf_counter() + self.seconds
        rounds = 0
        while (rounds < MIN_ROUNDS or len(self.latencies_ms) < MIN_LOOKUPS
               or time.perf_counter() < deadline):
            for kind in ROUND:
                self.run_pass(kind, record=True)
                self.lookup_batch(LOOKUP_BATCH)
            rounds += 1
        self.rounds = rounds
        # > 1 when the host ran slower than in the probe's reference minutes
        self.host_slowdown = statistics.median(self.probe_cpu) / hostprobe.REF_CPU_S
        # other guests' CPU time on this host while we measured: a slow run
        # with high steal was slowed from outside
        self.info["cpu_steal_s"] = f"{procstat.steal_s() - steal0:.2f}"

    # -------------------------------------------------------------- checks

    def check(self) -> None:
        """Round-trip identity against the generated input, outside any
        timed section: the last chunk table and, after a traced run, the
        ``write_orc_dir`` files. Each is fingerprinted by row count, token
        sum and an xxhash64 of every row over all four columns, so a broken
        ``source`` stream shows too. Mismatching rows count towards the
        result."""
        from pyspark.sql import functions as F

        from orc_rs_spark.decoder import decode_table, verify_roundtrip

        def fingerprint(df):
            return tuple(int(x) for x in df.agg(
                F.count(F.lit(1)),
                F.sum("n_tok"),
                F.bit_xor(F.xxhash64("doc_id", "tokens", "n_tok", "source")),
            ).collect()[0])

        def compare(what: str, got: tuple, want: tuple) -> None:
            if got != want:
                print(f"{what} {got}, want {want}", file=sys.stderr)
                self.mismatch_rows = max(self.mismatch_rows, abs(got[0] - want[0]), 1)

        original = self._input_df()
        want = fingerprint(original)
        chunks = self.spark.read.parquet(self.chunks_dir)
        # both checks below read the decoded rows: decode once
        decoded = decode_table(chunks).cache()
        n, bad = verify_roundtrip(original, decoded)
        self.mismatch_rows = bad + abs(n - self.rows)
        sums = tuple(int(x) for x in chunks.agg(F.sum("n_rows"), F.sum("n_values")).collect()[0])
        compare("chunk table rows and tokens", sums, (self.rows, self.tokens))
        compare("decoded chunk fingerprint", fingerprint(decoded), want)
        decoded.unpersist()
        if os.path.isdir(self.orc_dir):
            from orc_rs_spark.orcfile.spark_source import read_orc

            compare("ORC scan fingerprint", fingerprint(read_orc(self.spark, self.orc_dir)), want)

    def peak_memory_mb(self) -> dict[str, float]:
        """Peak memory by part: the summed VmHWM of the Python processes
        (this driver, the worker daemon and the workers), where the
        program's code runs, and the JVM's peak heap and off-heap use as
        its executor metrics report them."""
        pids = procstat.python_pids([os.getpid()] + procstat.descendants(self.jvm_pid))
        jvm = SparkRest(self.spark).driver_peak_memory()
        return {
            "python_rss_mb": procstat.vm_hwm_mb(pids),
            "jvm_heap_mb": jvm["JVMHeapMemory"] / 2**20,
            "jvm_offheap_mb": jvm["JVMOffHeapMemory"] / 2**20,
        }

    # ------------------------------------------------------------- teardown

    def close(self) -> None:
        if self.spark is not None:
            gateway = self.spark.sparkContext._gateway
            self.spark.stop()
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)
