"""Structured Streaming ingestion: continuously encode arriving token files.

The reference and north star are batch-only (SURVEY.md non-goals list
streaming state), but a training-data pipeline usually tails an ingest
directory; this wraps the batch encoder in ``foreachBatch`` so each
micro-batch becomes encoded chunks with the same format and bit-identity
guarantees, with exactly-once sink semantics from the streaming checkpoint
(micro-batch id is recorded; replayed batches overwrite their own output
via dynamic partition overwrite, mirroring pipeline.encode_job).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from orc_rs_spark.decoder import TOKEN_DDL
from orc_rs_spark.encoder import encode_table


def encode_stream(
    spark: SparkSession,
    input_dir: str,
    chunks_dir: str,
    checkpoint_dir: str,
    block_codec: str = "zlib",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start (or resume) the streaming encode; returns the StreamingQuery.

    ``available_now=True`` drains everything currently in ``input_dir`` and
    stops — the batch-catchup mode; False runs continuously.
    """
    reader = spark.readStream.schema(TOKEN_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from pyspark.sql import functions as F

        chunks = encode_table(batch_df, repartition=False, block_codec=block_codec)
        # micro-batch id as the chunk partition: a replayed batch overwrites
        # exactly its own directory -> exactly-once output (dynamic
        # overwrite per write, so the session's setting is left alone)
        chunks = chunks.withColumn("part_id", F.lit(int(batch_id)).cast("int"))
        (
            chunks.write.partitionBy("part_id").mode("overwrite")
            .option("partitionOverwriteMode", "dynamic").parquet(chunks_dir)
        )

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    key_col: str = "doc_id",
    available_now: bool = True,
):
    """Stateful streaming exact-dedup: emit each document the FIRST time its
    text digest is seen, across micro-batches (custom stateful operator via
    ``applyInPandasWithState``; state = digests seen per hash-prefix group).

    Scale posture: state is keyed by a 65536-way digest prefix (4 hex
    chars), so state rows spread uniformly over executors and each group's
    state stays small; digests are stored as fixed-width 16-byte binaries
    (not 32-char hex strings), halving state size.

    CAVEAT (unbounded state): exact dedup must remember every distinct
    digest forever — state grows linearly with distinct documents and this
    operator sets no TTL (a timeout would silently re-admit old
    duplicates). A long-running stream should bound the keyspace upstream
    (e.g. partition the stream by date and restart state per partition) or
    accept the linear growth; each group's per-batch rewrite cost is
    state_size/65536, which stays small until state is far past the point
    where an external join-based dedup is the right tool.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = (
        spark.readStream.schema(f"{key_col} string, {text_col} string")
        .parquet(input_dir)
        .withColumn("digest_hex", F.md5(F.col(text_col)))
        .withColumn("digest", F.unhex(F.col("digest_hex")))
        .withColumn("grp", F.substring("digest_hex", 1, 4))
        .drop("digest_hex")
    )

    def dedup_group(key, pdf_iter, state: GroupState):
        seen = set(state.get[0]) if state.exists else set()
        out = []
        for pdf in pdf_iter:
            fresh = pdf[~pdf["digest"].isin(seen)]
            # first occurrence within the batch wins too
            fresh = fresh.drop_duplicates(subset=["digest"], keep="first")
            seen.update(fresh["digest"].tolist())
            out.append(fresh[[key_col, text_col, "digest"]])
        state.update((list(seen),))
        yield pd.concat(out) if out else pd.DataFrame(columns=[key_col, text_col, "digest"])

    deduped = stream.groupBy("grp").applyInPandasWithState(
        dedup_group,
        outputStructType=f"{key_col} string, {text_col} string, digest binary",
        stateStructType="seen array<binary>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_windowed_rates(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
    watermark: str = "20 minutes",
    available_now: bool = True,
):
    """Event-time windowed ingest rates with late-data tolerance: count
    documents and sum tokens per (source, event-time window), accepting
    records up to ``watermark`` late. Append mode — a window emits exactly
    once, when the watermark passes its end, so downstream consumers see
    final per-window totals (the canonical Structured Streaming windowed
    aggregate; state is bounded by watermark eviction, unlike the exact
    streaming dedup whose state is unbounded by problem definition).

    Scale posture: one shuffle per micro-batch on (source, window) — the
    same keys the state store is partitioned by; watermark eviction keeps
    state proportional to (sources x open windows), independent of stream
    length."""
    from pyspark.sql import functions as F

    schema = "doc_id string, n_tok int, source string, event_time timestamp"
    stream = spark.readStream.schema(schema).parquet(input_dir)
    agg = (
        stream.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window), "source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "source",
            "n_docs",
            "n_tokens",
        )
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def encode_stream_orc(
    spark: SparkSession,
    input_dir: str,
    orc_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming ORC wire sink: each micro-batch lands as real ORC part
    files under its own batch directory (orcfile.writer), so a replayed
    batch overwrites exactly its own output — the same exactly-once shape
    as encode_stream, but the output is readable by ANY ORC consumer
    (Spark, Hive, Trino, orcfile.reader)."""
    import shutil

    from orc_rs_spark.orcfile.spark_source import write_orc_dir

    stream = spark.readStream.schema(TOKEN_DDL).parquet(input_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = f"{orc_dir}/batch={int(batch_id)}"
        shutil.rmtree(out, ignore_errors=True)  # idempotent replay
        write_orc_dir(batch_df, out)

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
