"""Distributed encode pass: token table -> encoded chunk table.

Spark-first design (SURVEY.md §3.3 translation): the Iceberg/parquet
partition split takes the stripe's role as the unit of parallelism; each
Arrow batch inside ``mapInArrow`` becomes one encoded chunk (the reference's
pull-based per-batch loop, /root/reference/src/stripe.rs:53-84, becomes
Spark's Arrow-batch iteration). All per-value work is NumPy inside the
kernels — no per-row Python.

Skew handling (north_rule): ``source`` is Zipf-skewed, so partitioning by
``source`` alone would melt one executor. ``prepare_for_encode`` range-
partitions on (source, doc_id) — doc_id acts as the salt with perfect
granularity — giving uniform partition sizes while keeping chunks
single-source (better codec fit + deterministic chunk ids under resume).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark import TaskContext

from orc_rs_spark.chunk import CHUNK_ARROW_SCHEMA, CHUNK_DDL, encode_chunk


def prepare_for_encode(
    df: DataFrame, partitions: int | None = None, mode: str = "range"
) -> DataFrame:
    """Skew-defusing partitioning ahead of the encode pass.

    mode="range": range-partition on (source, doc_id) + sort — deterministic
    chunk contents (resume/chunk-id stability), at the cost of a sampling
    scan. mode="hash": hash-repartition on doc_id — uniform and
    sampling-free (one scan less), for throughput-critical paths where the
    checkpoint pipeline's explicit bucketing supplies determinism instead.
    mode="weighted": equalize TOKEN totals per partition (two-phase
    distributed prefix sum, textops/tokenops.weighted_repartition) — the
    defense when document-LENGTH skew makes row-balanced ranges
    token-imbalanced (a few giant documents per web-corpus shard).
    """
    if mode == "weighted":
        from orc_rs_spark.textops.tokenops import weighted_repartition

        n_part = partitions or df.sparkSession.sparkContext.defaultParallelism
        return weighted_repartition(df, n_part)
    if mode == "hash":
        rp = df.repartition(partitions, "doc_id") if partitions else df.repartition("doc_id")
        return rp
    cols = [df["source"], df["doc_id"]]
    rp = df.repartitionByRange(partitions, *cols) if partitions else df.repartitionByRange(*cols)
    return rp.sortWithinPartitions("source", "doc_id")


CHUNK_ROWS = 4096  # rows per chunk; ~1M tokens keeps worker sets cache-friendly


def encode_table(
    df: DataFrame,
    block_codec: str = "zlib",
    repartition: bool = True,
    partitions: int | None = None,
    partition_mode: str = "range",
    chunk_rows: int = CHUNK_ROWS,
) -> DataFrame:
    """(doc_id, tokens, n_tok, source) -> chunk table (CHUNK_DDL schema).

    The whole input partition is buffered (bounded by the scan's
    maxPartitionBytes) and sliced into uniform ``chunk_rows`` chunks, so at
    most one undersized remainder chunk exists per partition/bucket — small
    Arrow-batch tails compress poorly and made total size jitter with the
    range sampler otherwise.
    """
    missing = [c for c in ("doc_id", "tokens", "n_tok", "source") if c not in df.columns]
    if missing:
        raise ValueError(
            f"encode_table input is missing column(s) {missing}; expected the "
            "token-table shape (doc_id string, tokens array<int>, n_tok int, "
            "source string) — got columns " + str(df.columns)
        )
    if repartition:
        df = prepare_for_encode(df, partitions, mode=partition_mode)

    has_part_key = "part_key" in df.columns

    def emit(segment: pa.Table, pid: int) -> Iterator[pa.RecordBatch]:
        n = segment.num_rows
        if n == 0:
            return
        # balanced split: ceil-rounded equal parts instead of fixed slices,
        # so no segment leaves a tiny tail chunk (tails amortize their
        # dict/FSST tables poorly and made total size jitter)
        n_chunks = max(1, round(n / chunk_rows))
        for i in range(n_chunks):
            lo = n * i // n_chunks
            hi = n * (i + 1) // n_chunks
            piece = segment.slice(lo, hi - lo).combine_chunks()
            row = encode_chunk(piece.to_batches()[0], pid, block_codec=block_codec)
            yield pa.RecordBatch.from_pylist([row], schema=CHUNK_ARROW_SCHEMA)

    def encode_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np

        ctx = TaskContext.get()
        task_pid = ctx.partitionId() if ctx is not None else -1
        blist = [b for b in batches if b.num_rows]
        if not blist:
            return
        tbl = pa.Table.from_batches(blist)
        if has_part_key:
            # explicit bucket id (pipeline resume unit) rides along as the
            # chunk's part_id — stable across cluster sizes. encode_job
            # gives each bucket its own partition, but another caller's
            # partitioning may put several buckets in one: split on their
            # bounds so every chunk is single-bucket (resume exactness
            # depends on it).
            keys = tbl.column("part_key").to_numpy()
            bounds = np.flatnonzero(np.diff(keys)) + 1
            starts = np.concatenate(([0], bounds, [len(keys)]))
            stripped = tbl.drop_columns(["part_key"])
            for s, e in zip(starts[:-1], starts[1:]):
                yield from emit(stripped.slice(int(s), int(e - s)), int(keys[s]))
        else:
            yield from emit(tbl, task_pid)

    return df.mapInArrow(encode_partition, CHUNK_DDL)


def compact_chunks(
    chunks: DataFrame,
    target_rows: int = 4 * CHUNK_ROWS,
    block_codec: str = "zlib",
) -> DataFrame:
    """Rewrite many small chunks into fewer ~target_rows chunks.

    Chunk lifecycle maintenance (ORC file merging analogue): streaming
    ingest and small waves leave many tiny chunks; compaction bounds
    chunk-table metadata, task counts, and scan fan-out. Measured on the
    fixture, encoded BYTES stay ~flat (row-aligned frames already compress
    at row granularity) — the win is operational, not ratio.
    """
    from orc_rs_spark.decoder import decode_table

    rows = decode_table(chunks)
    # range mode: re-sorting by (source, doc_id) preserves the locality the
    # small chunks' provenance gave them (hash mode mixed unrelated rows
    # and cost ~4% size)
    return encode_table(
        rows,
        block_codec=block_codec,
        partitions=max(1, chunks.sparkSession.sparkContext.defaultParallelism),
        partition_mode="range",
        chunk_rows=target_rows,
    )
