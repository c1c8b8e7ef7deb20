"""Stripe-level ORC file merge — the small-files compaction path.

A distributed sink (``write_orc_dir``) and any long-running ingest job
produce many small part files; at 100 TB the resulting file count (not
byte count) becomes the scan planner's bottleneck. The standard cure is
stripe-level compaction: ORC's design makes every stripe
position-independent — all stream offsets inside a stripe are relative
to the stripe start (the stripe footer lists stream LENGTHS, and the
StripeInformation in the file footer carries the absolute offset) — so
a stripe's byte region ``[offset, offset + indexLength + dataLength +
footerLength)`` can be relocated into another file verbatim, with no
re-decode, no re-encode, no re-compression. This mirrors ORC Java's
public ``OrcFile.mergeFiles`` API; the reference reader
(/root/reference, read-only, single-file) has no analogue.

What must be rebuilt (cheap, metadata-only):
  - the stripe list (new absolute offsets),
  - the Metadata section (per-stripe statistics): each source file's
    Metadata message is ``repeated StripeStatistics stripeStats = 1``,
    so the merged section is the concatenation of the sources'
    decompressed bodies in stripe order — statistics survive the merge
    byte-exact and stripe/row-group pruning keeps working,
  - the file-level column statistics (counts, min/max and sums folded
    by the writer's ``combine_stats``),
  - footer + postscript (the writer's ``write_file_tail``).

What must match across inputs (validated, refused otherwise):
  - the full type tree (kind/subtypes/field names/precision/scale/
    varchar length per column),
  - compression kind and block size (block boundaries are baked into
    the copied stripe bytes),
  - rowIndexStride (group geometry of the copied ROW_INDEX streams).
"""

from __future__ import annotations

import dataclasses
import os

from orc_rs_spark.orcfile import proto
from orc_rs_spark.orcfile.errors import OrcFormatError
from orc_rs_spark.orcfile.reader import (
    OrcTail,
    as_source,
    map_files,
    orc_stream_decompress,
    read_tail,
    schema_signature,
)
from orc_rs_spark.orcfile.writer import (
    _CODEC_ENUM,
    _INT_STAT_KINDS,
    _STR_STAT_KINDS,
    _stats_body,
    combine_stats,
    write_file_tail,
)

_COPY_CHUNK = 8 << 20  # stripes stream through in 8 MiB slices

_type_sig = schema_signature


def _stats_part(st: proto.ColumnStatistics | None, kind: str) -> tuple | None:
    """One input footer's column statistics as combine_stats takes them:
    ``(n_values, has_null, min, max, sum)``, None when the input carries
    no (or partial) counts for the column."""
    if st is None or st.number_of_values is None or st.has_null is None:
        return None
    lo = hi = sm = None
    if kind in _INT_STAT_KINDS:
        lo, hi, sm = st.int_min, st.int_max, st.int_sum
    elif kind in ("float", "double"):
        lo, hi, sm = st.double_min, st.double_max, st.double_sum
    elif kind in _STR_STAT_KINDS:
        lo, hi = st.string_min, st.string_max
    elif kind == "date":
        lo, hi = st.date_min, st.date_max
    elif kind in ("timestamp", "timestamp_instant"):
        lo, hi = st.ts_min, st.ts_max
    elif kind == "boolean":
        sm = st.true_count
    return st.number_of_values, st.has_null, lo, hi, sm


def _merge_file_stats(tails: list[OrcTail]) -> list[bytes]:
    """Merged file-level ColumnStatistics bodies, one per column, through
    the writer's combine_stats. An input with no (or partial) counts for a
    column makes that column's merged statistics an EMPTY message: every
    field is optional and absent == unknown, where affirmative counts
    would LIE about its rows (e.g. hasNull=false over data with nulls)."""
    per_file = [tail.footer.statistics for tail in tails]
    out = []
    for col, t in enumerate(tails[0].footer.types):
        merged = combine_stats(
            _stats_part(stats[col] if col < len(stats) else None, t.kind)
            for stats in per_file
        )
        out.append(b"" if merged is None else _stats_body(t.kind, *merged))
    return out


def _metadata_body(path: str, tail: OrcTail) -> bytes:
    """Decompressed Metadata section body (``repeated StripeStatistics``)
    — empty when the file carries none."""
    ps = tail.postscript
    if ps.metadata_length == 0:
        return b""
    src = as_source(path)
    file_len = src.size()
    ps_len = src.read_at(file_len - 1, 1)[0]
    meta_off = file_len - ps_len - 1 - ps.footer_length - ps.metadata_length
    raw = src.read_at(meta_off, ps.metadata_length)
    return orc_stream_decompress(raw, ps.compression)


def merge_orc_files(paths: list[str], out_path: str) -> int:
    """Merge ORC files into one by raw stripe relocation. Returns the
    merged row count. Inputs must share schema, compression (kind AND
    block size) and rowIndexStride; stripes keep their input order, so a
    sort clustered across input files stays clustered after compaction
    (range pruning keeps its selectivity). The output is written through
    an in-progress temp name and renamed on success, so a mid-merge
    failure never leaves a truncated file that a later directory scan
    would pick up as a valid ``.orc``."""
    if not paths:
        raise ValueError("merge_orc_files: no input files")
    tmp_path = f"{out_path}.inprogress"
    try:
        n = _merge_orc_files_to(paths, tmp_path)
        os.replace(tmp_path, out_path)
        return n
    finally:
        if os.path.exists(tmp_path):
            os.remove(tmp_path)


def _merge_orc_files_to(paths: list[str], out_path: str) -> int:
    tails = [read_tail(p) for p in paths]
    sig0 = _type_sig(tails[0])
    ps0 = tails[0].postscript
    stride0 = tails[0].footer.row_index_stride
    for p, tail in zip(paths[1:], tails[1:]):
        if _type_sig(tail) != sig0:
            raise OrcFormatError(
                f"merge_orc_files: schema mismatch: {p} differs from {paths[0]}"
            )
        ps = tail.postscript
        if (ps.compression, ps.compression_block_size) != (
            ps0.compression, ps0.compression_block_size
        ):
            raise OrcFormatError(
                f"merge_orc_files: compression mismatch: {p} has "
                f"{ps.compression}/{ps.compression_block_size}, {paths[0]} has "
                f"{ps0.compression}/{ps0.compression_block_size}"
            )
        if tail.footer.row_index_stride != stride0:
            raise OrcFormatError(
                f"merge_orc_files: rowIndexStride mismatch: {p} has "
                f"{tail.footer.row_index_stride}, {paths[0]} has {stride0}"
            )
    if ps0.compression not in _CODEC_ENUM:
        raise OrcFormatError(f"merge_orc_files: unknown codec {ps0.compression!r}")

    stripe_infos: list[proto.StripeInformation] = []
    with open(out_path, "wb") as out:
        out.write(b"ORC")
        pos = 3
        for p, tail in zip(paths, tails):
            src = as_source(p)
            for si in tail.footer.stripes:
                length = si.index_length + si.data_length + si.footer_length
                copied = 0
                while copied < length:
                    n = min(_COPY_CHUNK, length - copied)
                    out.write(src.read_at(si.offset + copied, n))
                    copied += n
                stripe_infos.append(dataclasses.replace(si, offset=pos))
                pos += length

        # Metadata: concatenation of the sources' StripeStatistics lists
        # is valid protobuf for the merged Metadata message IF every input
        # carries EXACTLY one entry per stripe; a statless input — or a
        # foreign file whose entry count disagrees with its stripe count —
        # would misattribute stats[stripe] to the wrong stripes after
        # concatenation (silent mis-pruning), so drop the whole section in
        # that (never-ours) case rather than mis-prune.
        bodies = [_metadata_body(p, t) for p, t in zip(paths, tails)]
        aligned = all(
            len(proto.decode_fields(b).get(1, [])) == len(t.footer.stripes)
            for b, t in zip(bodies, tails)
        )
        # carry user metadata through the merge (ORC Java's
        # OrcFile.mergeFiles preserves it): union of every input's KV
        # pairs, first file wins on a conflicting key
        merged_md: dict[str, bytes] = {}
        for t in tails:
            for k, v in (t.footer.metadata or {}).items():
                merged_md.setdefault(k, v)
        write_file_tail(
            out, stripe_infos, tails[0].footer.types, merged_md,
            _merge_file_stats(tails), b"".join(bodies) if aligned else b"",
            stride0, ps0.compression, ps0.compression_block_size,
        )
    return sum(si.number_of_rows for si in stripe_infos)


def plan_compaction(sizes: list[tuple[str, int]], target_bytes: int) -> list[list[str]]:
    """Group CONSECUTIVE files (in the given, normally sorted, order)
    into bins of ≤ target_bytes (≥1 file each, so an oversized file
    becomes its own bin). Consecutive-only grouping preserves any global
    sort clustering across part files — compaction must not destroy the
    range-pruning selectivity the sort bought."""
    groups: list[list[str]] = []
    cur: list[str] = []
    cur_bytes = 0
    for path, size in sizes:
        if cur and cur_bytes + size > target_bytes:
            groups.append(cur)
            cur, cur_bytes = [], 0
        cur.append(path)
        cur_bytes += size
    if cur:
        groups.append(cur)
    return groups


def compact_orc_dir(spark, in_dir: str, out_dir: str,
                    target_bytes: int = 256 << 20,
                    group_by_schema: bool = False,
                    name_prefix: str = "part-") -> int:
    """Distributed small-files compaction: bin part files to
    ~target_bytes and merge each bin in its own task (raw stripe copy —
    no decode, so a task's cost is pure I/O). The driver touches only
    the file LISTING (names + sizes, O(files) metadata); every tail read
    and byte copy happens in tasks. Output files commit via
    attempt-unique temp + atomic rename (same protocol as
    write_orc_dir), so retried/speculative attempts never interleave.
    Returns total rows written.

    ``group_by_schema=True`` compacts a directory whose schema EVOLVED
    over time: files are first grouped by (schema signature,
    compression, rowIndexStride) — one tail read per file on the driver,
    through ``reader.map_files``'s thread pool, the one case where
    planning must look past the listing — and each generation compacts
    into its own single-schema output files, which ``read_orc_evolve`` / the format's evolve mode
    then read as one table.

    ``name_prefix`` controls the output file names
    (``{name_prefix}{gid:05d}.orc``). This matters when the directory is
    TAILED by a ``readStream.format("orc_rs")`` query, whose offset is a
    name watermark: compacted replacements of already-streamed files must
    sort BELOW the stream's watermark so a checkpoint-restart neither
    re-reads them (duplicates) nor flags them as late arrivals — pass a
    prefix like ``"compact-"`` (ASCII-below the sinks' ``"part-"`` names)
    and swap files only while the stream is stopped. Compacting INTO a
    LIVE-tailed directory is refused by the stream source itself: the new
    names appear below its already-planned watermark and trip the
    out-of-order-producer check (datasource.py) loudly. Cookbook:
    README "Compaction under a tailing stream"; contract test:
    tests/test_datasource.py::test_compact_then_restart_stream."""
    import glob as _glob
    import json
    from collections.abc import Iterator

    import pyarrow as pa
    from pyspark import TaskContext

    files = sorted(_glob.glob(os.path.join(in_dir, "*.orc")))
    if not files:
        raise ValueError(f"compact_orc_dir: no ORC files in {in_dir}")
    if group_by_schema:
        keys = map_files(
            lambda f: (
                schema_signature(t := read_tail(f)),
                t.postscript.compression,
                t.postscript.compression_block_size,
                t.footer.row_index_stride,
            ),
            files,
        )
        by_key: dict = {}
        for f, k in zip(files, keys):
            by_key.setdefault(k, []).append(f)
        groups = [
            g
            for key in sorted(by_key, key=str)
            for g in plan_compaction(
                [(f, os.path.getsize(f)) for f in by_key[key]], target_bytes
            )
        ]
    else:
        groups = plan_compaction([(f, os.path.getsize(f)) for f in files], target_bytes)
    os.makedirs(out_dir, exist_ok=True)

    rows = [(gid, json.dumps(paths)) for gid, paths in enumerate(groups)]
    df = spark.createDataFrame(rows, "gid int, paths string").repartition(len(groups))

    def work(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        attempt = ctx.taskAttemptId() if ctx is not None else 0
        for b in batches:
            for gid, paths_json in zip(
                b.column("gid").to_pylist(), b.column("paths").to_pylist()
            ):
                final = os.path.join(out_dir, f"{name_prefix}{gid:05d}.orc")
                tmp = f"{final}.{attempt}.tmp"
                try:
                    n = merge_orc_files(json.loads(paths_json), tmp)
                    os.replace(tmp, final)
                finally:
                    if os.path.exists(tmp):
                        os.remove(tmp)
                yield pa.RecordBatch.from_arrays(
                    [pa.array([gid], type=pa.int32()),
                     pa.array([n], type=pa.int64()),
                     pa.array([os.path.getsize(final)], type=pa.int64())],
                    names=["gid", "rows", "bytes"],
                )

    result = df.mapInArrow(work, "gid int, rows bigint, bytes bigint")
    # one row per bin — bounded by the group count, not the data
    return sum(r["rows"] for r in result.collect())
