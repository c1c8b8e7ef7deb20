#!/usr/bin/env python
"""spark-submit entry point for the checkpointed encode job (north_rule:
"run via spark-submit --py-files on a multi-executor cluster").

Usage (local sandbox):

    python jobs/package.py   # builds dist/orc_rs_spark.zip
    spark-submit --py-files dist/orc_rs_spark.zip jobs/encode_job.py \\
        --input /path/to/tokens_parquet_or_iceberg \\
        --chunks-dir /path/out/chunks --checkpoint-dir /path/out/checkpoint \\
        --n-buckets 64 --wave-size 16

On a real cluster, add `--master yarn|k8s://...` and Iceberg catalog confs
(see orc_rs_spark.session.iceberg_conf); `--input` then takes
`catalog.db.table` with `--format iceberg`.

`--chunks-dir` and `--checkpoint-dir` take any path Spark writes: a plain
path resolves against `fs.defaultFS` (HDFS on YARN), a URI names its
filesystem (`hdfs://`, `s3a://`, `abfs://`, `file:`). The driver reads the
lineage and writes the checkpoint through the same Hadoop FileSystem.

The job is idempotent: rerunning after a crash skips checkpointed buckets
(partition-exact resume) and prints the same summary JSON.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="checkpointed distributed token-table encode")
    p.add_argument("--input", required=True, help="parquet dir or iceberg table of token sequences")
    p.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    p.add_argument("--chunks-dir", required=True)
    p.add_argument("--checkpoint-dir", required=True)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--wave-size", type=int, default=16)
    p.add_argument("--block-codec", default="zlib", choices=["zlib", "none"])
    p.add_argument("--verify", action="store_true", help="run the decode bit-identity pass after encode")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from orc_rs_spark.pipeline import encode_job

    # under spark-submit the session carries the submitted master/conf;
    # getOrCreate respects it (orc_rs_spark.session.get_spark is for
    # self-managed local runs)
    spark = SparkSession.builder.appName("orc-rs-spark-encode").getOrCreate()
    if args.format == "iceberg":
        df = spark.read.table(args.input)
    else:
        df = spark.read.parquet(args.input)
    summary = encode_job(
        spark,
        df,
        args.chunks_dir,
        args.checkpoint_dir,
        n_buckets=args.n_buckets,
        wave_size=args.wave_size,
        block_codec=args.block_codec,
    )
    if args.verify:
        from orc_rs_spark.decoder import decode_table, verify_roundtrip

        chunks = spark.read.parquet(args.chunks_dir)
        n, bad = verify_roundtrip(df, decode_table(chunks))
        summary["verify_rows"] = n
        summary["verify_mismatches"] = bad
    print(json.dumps(summary))
    spark.stop()
    return 0 if summary.get("verify_mismatches", 0) == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
