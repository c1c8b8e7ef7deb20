"""Distributed decode pass: chunk table -> reconstructed token table, plus
the bit-identity verification join (the north star's per-row invariant).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orc_rs_spark.chunk import decode_chunk

TOKEN_DDL = "doc_id string, tokens array<int>, n_tok int, source string"


_COL_DDL = {
    "doc_id": "doc_id string",
    "tokens": "tokens array<int>",
    "n_tok": "n_tok int",
    "source": "source string",
}


def decode_table(chunks: DataFrame, columns: tuple[str, ...] | None = None) -> DataFrame:
    """Chunk table -> (doc_id, tokens, n_tok, source). Each chunk decodes
    independently (the stripe is the unit of independent decoding,
    /root/reference/src/reader.rs:161-177). ``columns`` projects at the
    stream level: unselected streams are never decompressed."""
    if columns is not None:
        unknown = set(columns) - set(_COL_DDL)
        if unknown:
            raise ValueError(f"unknown columns {sorted(unknown)}; available: {list(_COL_DDL)}")
    ddl = (
        TOKEN_DDL
        if columns is None
        else ", ".join(_COL_DDL[c] for c in _COL_DDL if c in columns)
    )
    from orc_rs_spark.chunk import chunk_columns_for

    # project the chunk table first: parquet then never reads the bytes of
    # unselected streams (I/O-level column pruning)
    chunks = chunks.select(*chunk_columns_for(columns))

    def decode_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for row in batch.to_pylist():
                yield decode_chunk(row, columns=columns)

    return chunks.mapInArrow(decode_partition, ddl)


def search_token(chunks: DataFrame, token: int) -> DataFrame:
    """Find rows whose tokens contain ``token``, decoding as few chunks as
    possible: (1) min/max chunk stats prune JVM-side (predicate reaches the
    parquet scan of the chunk table), (2) ``search_chunk`` skips a chunk
    whose token dictionary (codecs ``dict``, ``rankdict``, ``rankplanes``)
    lacks the token before decoding its indices or ranks, (3) the other
    chunks decode and row-filter vectorized.

    This is the index-based pruning the reference parsed but left unused
    (/root/reference/src/stripe.rs:171 TODO). The chunk table's ``bloom``
    column is not read: a filter in an older chunk table prunes nothing.
    """
    from orc_rs_spark.chunk import chunk_columns_for, search_chunk

    pruned = chunks.where((F.col("min_val") <= token) & (F.col("max_val") >= token)).select(
        *chunk_columns_for(None)
    )

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for row in batch.to_pylist():
                hits = search_chunk(row, token)
                if hits is not None:
                    yield hits

    return pruned.mapInArrow(scan, TOKEN_DDL)


def verify_roundtrip(
    original: DataFrame, decoded: DataFrame, exact: bool = False
) -> tuple[int, int]:
    """Distributed round-trip identity check: join on doc_id, compare tokens.

    Returns (n_rows, n_mismatches); n_mismatches must be 0. Mirrors the
    reference's round-trip decode-equality tests
    (/root/reference/src/encoding/rlev1.rs:826-867) at distributed scale.

    By default each side is projected to ``(doc_id, xxhash64(tokens),
    size(tokens), n_tok)`` BEFORE the join, so the full-outer join shuffles
    ~30 bytes/row instead of both sides' whole token payloads (guide §2.3:
    shuffle keys and metadata, not payloads — on the 100 k-row bench this
    cuts the join's shuffle from 2 x ~190 MB to ~6 MB). A corrupted decode
    escapes detection only on a 64-bit xxhash collision for its exact row
    (~2^-64 per row). Spark's xxhash64 skips null array elements, so hash
    mode cannot see where they sit; it relies on the invariant that token
    arrays hold no null elements, which ``encode_chunk`` enforces by
    raising ValueError on any. ``exact=True`` keeps the original
    byte-for-byte array comparison for when absolute bit-identity evidence
    is required (tests pin both modes against each other on tampered data).
    """

    def proj(df: DataFrame, tag: str) -> DataFrame:
        cols = [F.col("doc_id"), F.lit(1).alias(f"{tag}_present")]
        if exact:
            cols += [
                F.col("tokens").alias(f"{tag}_tokens"),
                F.col("n_tok").alias(f"{tag}_n_tok"),
            ]
        else:
            cols += [
                F.xxhash64(F.col("tokens")).alias(f"{tag}_tokens"),
                F.col("tokens").isNull().alias(f"{tag}_toknull"),
                F.size(F.col("tokens")).alias(f"{tag}_len"),
                F.col("n_tok").alias(f"{tag}_n_tok"),
            ]
        return df.select(*cols)

    j = proj(original, "o").join(proj(decoded, "d"), "doc_id", "full_outer")
    # null-safe equality: legitimately-null token arrays compare equal;
    # rows missing from either side (presence marker null) are mismatches
    bad_cond = (
        F.col("o_present").isNull()
        | F.col("d_present").isNull()
        | ~F.col("o_tokens").eqNullSafe(F.col("d_tokens"))
        | ~F.col("o_n_tok").eqNullSafe(F.col("d_n_tok"))
    )
    if not exact:
        bad_cond = bad_cond | ~F.col("o_toknull").eqNullSafe(
            F.col("d_toknull")
        ) | ~F.col("o_len").eqNullSafe(F.col("d_len"))
    agg = j.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(bad_cond, 1).otherwise(0)).alias("bad"),
    ).collect()[0]
    return int(agg["n"]), int(agg["bad"] or 0)
