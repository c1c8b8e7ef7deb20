#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline encode/decode
pipeline at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line.

Headline metric: wall seconds of the benchmark suite (lower is better),
with per-query breakdown plus the north-star metrics (encode tokens/sec,
compressed ratio, bytes vs Spark's own ORC writer, round-trip identity).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time


def dir_size(path: str) -> int:
    out = subprocess.run(["du", "-sb", path], capture_output=True, text=True)
    return int(out.stdout.split()[0])


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    rows = {"0.001": 1_000, "0.01": 10_000, "0.1": 100_000}.get(sf, 20_000)

    from orc_rs_spark.session import get_spark
    from orc_rs_spark.fixtures import token_table
    from orc_rs_spark.encoder import encode_table
    from orc_rs_spark.decoder import decode_table, verify_roundtrip
    from orc_rs_spark.queries import QUERIES
    from pyspark.sql import functions as F

    cache_dir = f"/tmp/orc_rs_bench/tokens_sf{sf}_r{rows}"
    work_dir = f"/tmp/orc_rs_bench/work_sf{sf}"
    shutil.rmtree(work_dir, ignore_errors=True)

    spark = get_spark(master=f"local[{cpus}]", app_name="orc_rs_bench")
    spark.sparkContext.setLogLevel("ERROR")

    if not os.path.exists(cache_dir):
        tbl = token_table(rows, seed=42)
        import pyarrow.parquet as pq

        os.makedirs(cache_dir, exist_ok=True)
        nf = 16  # balanced scan splits for every parallelism level
        n = tbl.num_rows
        for i in range(nf):
            lo = i * n // nf
            hi = (i + 1) * n // nf
            pq.write_table(tbl.slice(lo, hi - lo), f"{cache_dir}/part-{i:02d}.parquet")

    timings: dict[str, float] = {}
    df = spark.read.parquet(cache_dir)
    n_values = int(df.agg(F.sum("n_tok")).collect()[0][0])

    # warm the stack (JVM codegen, python workers, import costs) so the
    # timed queries measure steady-state throughput, not spin-up
    encode_table(df.limit(2000), repartition=False).count()

    # q1: distributed encode (scan -> range partition -> encode -> sink)
    t0 = time.time()
    chunks = encode_table(df, partitions=int(cpus) if cpus.isdigit() else 32, partition_mode="hash")
    chunks.write.mode("overwrite").parquet(f"{work_dir}/chunks")
    timings["q1_encode"] = time.time() - t0

    chunks_on_disk = spark.read.parquet(f"{work_dir}/chunks")
    agg = chunks_on_disk.agg(
        F.sum("enc_bytes").alias("enc"), F.sum("orig_bytes").alias("orig")
    ).collect()[0]
    enc_bytes, orig_bytes = int(agg["enc"]), int(agg["orig"])

    # q1b: map-side encode (scan -> encode -> sink, no raw-row shuffle) —
    # the 100 TB production plan (SCALE.md); q1 keeps the shuffle for the
    # explicit-partitioning path
    t0 = time.time()
    encode_table(df, repartition=False).write.mode("overwrite").parquet(f"{work_dir}/chunks_mapside")
    timings["q1b_encode_mapside"] = time.time() - t0

    # q2: distributed decode
    t0 = time.time()
    decoded = decode_table(chunks_on_disk)
    decoded.agg(F.sum("n_tok")).collect()
    timings["q2_decode"] = time.time() - t0

    # q3: bit-identity verification join
    t0 = time.time()
    n, bad = verify_roundtrip(df, decode_table(chunks_on_disk))
    timings["q3_verify"] = time.time() - t0

    # q4: Spark's own ORC writer (zlib) on identical rows — the size gate
    t0 = time.time()
    df.write.mode("overwrite").option("compression", "zlib").orc(f"{work_dir}/orc_zlib")
    timings["q4_spark_orc_write"] = time.time() - t0
    orc_bytes = dir_size(f"{work_dir}/orc_zlib")

    # q5: oracle-style engine round-trip on the sf events table
    t0 = time.time()
    QUERIES["rt_engine_tokens"](spark, sf_dir).agg(F.sum("n_tok")).collect()
    timings["q5_rt_engine_events"] = time.time() - t0

    # q6/q7: real ORC wire interop — write the token table as ORC part
    # files through orcfile.writer, read them back stripe-parallel
    from orc_rs_spark.orcfile.spark_source import read_orc, write_orc_dir

    orc_dir = f"{work_dir}/orc_wire"
    t0 = time.time()
    write_orc_dir(df.repartition(int(cpus) if cpus.isdigit() else 32), orc_dir)
    timings["q6_orc_wire_write"] = time.time() - t0
    t0 = time.time()
    orc_rt_vals = int(read_orc(spark, orc_dir).agg(F.sum("n_tok")).collect()[0][0])
    timings["q7_orc_wire_read"] = time.time() - t0
    assert orc_rt_vals == n_values, "ORC wire round-trip lost values"
    orc_wire_bytes = dir_size(orc_dir)

    # informational (NOT in the wall total, keeps totals comparable across
    # rounds): the same wire data with two-tier predicate pruning — stripes
    # via Metadata stats, 10k-row groups via ROW_INDEX min/max
    probe_id = f"doc-{rows // 2:012d}"
    pruned_lookup_sec = float("inf")
    for _ in range(2):  # min-of-2: sub-second job, box-noise sensitive
        t0 = time.time()
        pruned = read_orc(spark, orc_dir, predicate=("doc_id", probe_id, probe_id),
                          columns=["doc_id", "n_tok"])
        pruned_rows = pruned.where(F.col("doc_id") == probe_id).count()
        pruned_lookup_sec = min(pruned_lookup_sec, time.time() - t0)
        assert pruned_rows == 1, "pruned lookup lost the row"

    # informational: the same wire write/read with the zstd codec (pyarrow
    # libzstd encode, FCS-exact decode) — the compression knob a 100 TB
    # deployment would actually turn; zlib stays the timed q6/q7 so walls
    # remain cross-round comparable. Two levels, two jobs: level 3 (the
    # ORC-Java/Spark default — the speed-class number, same CPU class as
    # the zlib write) and level 14 (the measured size winner vs Spark's
    # own zstd ORC writer: 0.95x its bytes at ~1.3x the level-3 write
    # time — the write-once archival trade). Short single-shot writes
    # here landed in degraded-host windows twice (round-5's 32.9 s
    # artifact vs the same code's 1.05 s exclusive best — the executor
    # probe above proved routing was NOT the cause), so each write runs
    # twice and reports the min; runs are counted in the JSON.
    ZSTD_LEVEL = 14
    nparts = int(cpus) if cpus.isdigit() else 32

    def _zstd_write(level: int, tag: str) -> tuple[float, str]:
        d = f"{work_dir}/{tag}"
        best = float("inf")
        for _ in range(2):
            shutil.rmtree(d, ignore_errors=True)
            t0 = time.time()
            write_orc_dir(df.repartition(nparts), d,
                          compression="zstd", compression_level=level)
            best = min(best, time.time() - t0)
        return best, d

    zstd3_write_sec, zstd3_dir = _zstd_write(3, "orc_wire_zstd_l3")
    zstd_write_sec, zstd_dir = _zstd_write(ZSTD_LEVEL, "orc_wire_zstd")
    t0 = time.time()
    zstd_vals = int(read_orc(spark, zstd_dir).agg(F.sum("n_tok")).collect()[0][0])
    zstd_read_sec = time.time() - t0
    assert zstd_vals == n_values, "zstd wire round-trip lost values"
    zstd3_vals = int(read_orc(spark, zstd3_dir).agg(F.sum("n_tok")).collect()[0][0])
    assert zstd3_vals == n_values, "zstd l3 wire round-trip lost values"
    zstd_wire_bytes = dir_size(zstd_dir)
    zstd3_wire_bytes = dir_size(zstd3_dir)

    # the size bar: Spark's own zstd ORC writer on identical rows (the
    # same north-star comparison q4 runs for zlib)
    df.write.mode("overwrite").option("compression", "zstd").orc(
        f"{work_dir}/orc_zstd_spark")
    spark_zstd_bytes = dir_size(f"{work_dir}/orc_zstd_spark")

    total = sum(timings.values())
    result = {
        "metric": "bench_suite_wall",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in sorted(timings.items())},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "rows": rows,
        "n_values": n_values,
        "encode_tokens_per_sec": round(n_values / timings["q1_encode"]),
        "encode_mapside_tokens_per_sec": round(n_values / timings["q1b_encode_mapside"]),
        "decode_tokens_per_sec": round(n_values / timings["q2_decode"]),
        "enc_bytes": enc_bytes,
        "orig_bytes": orig_bytes,
        "ratio": round(enc_bytes / max(1, orig_bytes), 4),
        "spark_orc_zlib_bytes": orc_bytes,
        "vs_orc": round(enc_bytes / max(1, orc_bytes), 4),
        "roundtrip_rows": n,
        "roundtrip_mismatches": bad,
        "orc_wire_write_tokens_per_sec": round(n_values / timings["q6_orc_wire_write"]),
        "orc_wire_read_tokens_per_sec": round(n_values / timings["q7_orc_wire_read"]),
        "orc_wire_bytes": orc_wire_bytes,
        "orc_wire_zstd_write_sec": round(zstd3_write_sec, 3),
        "orc_wire_zstd_write_level": 3,
        "orc_wire_zstd_bytes_l3": zstd3_wire_bytes,
        "orc_wire_zstd_read_sec": round(zstd_read_sec, 3),
        "orc_wire_zstd14_write_sec": round(zstd_write_sec, 3),
        "orc_wire_zstd_bytes": zstd_wire_bytes,
        "orc_wire_zstd_level": ZSTD_LEVEL,
        "orc_wire_zstd_write_runs": 2,
        "spark_orc_zstd_bytes": spark_zstd_bytes,
        "vs_orc_zstd": round(zstd_wire_bytes / max(1, spark_zstd_bytes), 4),
        "orc_wire_zstd_vs_zlib_bytes": round(zstd_wire_bytes / max(1, orc_wire_bytes), 4),
        "orc_pruned_lookup_sec": round(pruned_lookup_sec, 3),
        "orc_pruned_lookup_vs_full_read": round(
            pruned_lookup_sec / timings["q7_orc_wire_read"], 3
        ),
        "cpus": cpus,
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    sys.exit(main())
