"""Spark Python Data Source for the ORC wire format — ``spark.read
.format("orc_rs")`` / ``df.write.format("orc_rs")`` over the same
stripe-parallel machinery as ``read_orc`` / ``write_orc_dir``.

This is the idiomatic integration surface PySpark 4 provides for
Python-implemented formats (pyspark.sql.datasource): the format name
participates in standard ``spark.read`` / ``spark.sql`` pipelines, and
Catalyst PUSHES FILTERS into the source via ``pushFilters`` — the scan
receives ``EqualTo``/``In``/comparison filters, prunes stripes and row
groups with them (statistics + blooms), fully absorbs the exactly-
representable ones (equality, IN) by residual-filtering in-task, and
hands the rest back for Spark to re-apply. Usage::

    from orc_rs_spark.orcfile.datasource import OrcRsDataSource
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(OrcRsDataSource)

    spark.read.format("orc_rs").load("/data/orders_orc") \\
        .where("o_custkey = 371").show()          # pruned + absorbed
    df.write.format("orc_rs").option("bloom_columns", "o_custkey") \\
        .mode("overwrite").save("/data/orders_orc")

Options: ``compression`` (none|zlib|snappy|lz4|zstd — every tag has a
real encoder, see kernels/blockcomp.py), ``stripe_rows``,
``row_index_stride``, ``bloom_columns``
(comma-separated, write), ``batch_rows`` (read), ``evolve`` (read /
readStream: union evolved schemas instead of refusing mixed dirs).

Planning runs on the driver (``spark_source.plan_scan``, the planner
``read_orc`` uses), and every read is ``spark_source.scan_stripes`` over
one (file, stripe) partition — the same stripe task as every other scan
in this package.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from orc_rs_spark.orcfile.spark_source import (
    evolve_target,
    orc_files,
    orc_schema_ddl,
    plan_scan,
    scan_stripes,
    scan_work,
)
from orc_rs_spark.orcfile.writer import write_task_file


def _resolve_files(options) -> list[str]:
    path = options.get("path")
    if not path:
        raise ValueError("orc_rs: a path is required (use .load(path))")
    files = orc_files(path)
    if not files:
        raise ValueError(f"orc_rs: no ORC files in {path}")
    return files


@dataclass
class OrcStripePartition(InputPartition):
    path: str
    stripe: int


@dataclass
class OrcWriteMessage(WriterCommitMessage):
    tmp: str | None
    final: str | None
    rows: int


def _evolve_on(options) -> bool:
    return str(options.get("evolve", "false")).lower() in ("true", "1")


def _evolve_read_target(files: list[str], columns: list[str], full=None) -> pa.Schema:
    """The evolved union in the read schema's column order, the order
    Spark takes batch columns in. ``full`` is the union of every column
    when ``schema()`` already computed it (one union pass)."""
    if full is None or full.names != columns:
        full = evolve_target(plan_scan(files, None), columns)[0]
    return pa.schema([full.field(c) for c in columns])


class OrcRsReader(DataSourceReader):
    def __init__(self, options, schema, evolve_full=None):
        self.options = options
        self.files = _resolve_files(options)
        self.batch_rows = int(options.get("batch_rows", 65536))
        self.columns = [f.name for f in schema.fields]
        self.evolve = _evolve_on(options)
        self._target = (_evolve_read_target(self.files, self.columns, evolve_full)
                        if self.evolve else None)
        # predicates pushed by Catalyst: absorbed (exact in-task residual)
        # vs hint-only (pruning superset; Spark re-applies the filter)
        self._absorbed: list[tuple] = []
        self._hints: list[tuple] = []
        # (column, want_null) null tests, absorbed exactly: ORC group
        # stats prove both directions (hasNull / numberOfValues)
        self._null_preds: list[tuple[str, bool]] = []

    @staticmethod
    def _pushable(v) -> bool:
        """Values safe to prune/absorb. Timestamps are NOT: Spark pushes
        session-local naive datetimes while the stats compare in UTC
        millis and Arrow refuses naive-vs-tz comparisons — mis-pruning an
        ABSORBED filter would silently drop rows. NaN is not: Spark's
        NaN = NaN is true while Arrow range compares are false. Both go
        back to Spark untouched (dates are fine: epoch days carry no tz)."""
        import datetime as _dt

        if isinstance(v, _dt.datetime):
            return False
        if isinstance(v, float) and v != v:
            return False
        return v is not None

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        # materialized (not a generator): the absorbed/hint lists must be
        # complete no matter how Spark consumes the returned iterable
        unsupported: list[Filter] = []
        for f in filters:
            attr = getattr(f, "attribute", None)
            top = attr[0] if attr and len(attr) == 1 else None
            if top is None or top not in self.columns:
                unsupported.append(f)
            elif isinstance(f, EqualTo) and self._pushable(f.value):
                self._absorbed.append((top, f.value, f.value))
            elif isinstance(f, In) and f.value and all(self._pushable(v) for v in f.value):
                self._absorbed.append((top, list(f.value)))
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)) and self._pushable(f.value):
                # inclusive superset of the strict bound — prune only,
                # Spark re-applies the exact comparison
                self._hints.append((top, f.value, None))
                unsupported.append(f)
            elif isinstance(f, (LessThan, LessThanOrEqual)) and self._pushable(f.value):
                self._hints.append((top, None, f.value))
                unsupported.append(f)
            elif isinstance(f, IsNotNull):
                self._null_preds.append((top, False))
            elif isinstance(f, IsNull):
                self._null_preds.append((top, True))
            else:
                unsupported.append(f)
        return unsupported

    def partitions(self):
        # evolve: no mixed-schema gate — compatibility was proven by the union
        work = scan_work(plan_scan(self.files, self._absorbed + self._hints),
                         require_uniform=not self.evolve)
        return [OrcStripePartition(f, i) for f, i in work] or [
            OrcStripePartition(self.files[0], -1)  # all stripes pruned
        ]

    def read(self, partition: OrcStripePartition):
        if partition.stripe < 0:
            return
        yield from scan_stripes(
            [(partition.path, partition.stripe)], self.columns,
            self._absorbed + self._hints, self._null_preds,
            residual=self._absorbed, target=self._target, batch_rows=self.batch_rows,
        )


class _WriteOptions:
    """Shared option parsing for the batch and streaming writers: the
    output path, and the OrcWriter keyword arguments each task writes
    its file with."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("orc_rs: a path is required (use .save(path))")
        blooms = options.get("bloom_columns")
        self.writer_kwargs = {
            "compression": options.get("compression", "zlib"),
            "stripe_rows": int(options.get("stripe_rows", 65536)),
            "row_index_stride": int(options.get("row_index_stride", 10000)),
            "bloom_columns": blooms.split(",") if blooms else None,
        }


def _task_ids() -> tuple[int, int]:
    from pyspark import TaskContext

    ctx = TaskContext.get()
    if ctx is None:
        return 0, 0
    return ctx.partitionId(), ctx.taskAttemptId()


class OrcRsWriter(DataSourceArrowWriter):
    """Per-task streaming ORC writer with a rename-on-commit protocol:
    tasks write attempt-unique temp files and report them; the DRIVER
    renames them into place in ``commit`` (for overwrite mode after
    clearing pre-existing part files), so a failed or speculative task
    never leaves a visible partial file. Final names carry a per-JOB
    token (generated on the driver, shared by every task), so append
    mode never collides with an earlier job's part files."""

    def __init__(self, options, schema, overwrite: bool):
        import time
        import uuid

        self.opts = _WriteOptions(options)
        self.overwrite = overwrite
        # time-ordered + random: unique across jobs AND lexicographically
        # increasing across sequential appends, so the streaming reader's
        # name-watermark offset never sorts a newer job's files below an
        # older one's (a bare uuid token broke that ordering)
        self.job_token = f"{time.time_ns():016x}{uuid.uuid4().hex[:4]}"

    def write(self, iterator: Iterator[pa.RecordBatch]) -> OrcWriteMessage:
        pid, attempt = _task_ids()
        os.makedirs(self.opts.path, exist_ok=True)
        final = os.path.join(
            self.opts.path, f"part-{self.job_token}-{pid:05d}.orc"
        )
        tmp = f"{final}.{attempt}.tmp"
        rows = write_task_file(iterator, tmp, **self.opts.writer_kwargs)
        if rows is None:
            return OrcWriteMessage(None, None, 0)
        return OrcWriteMessage(tmp, final, rows)

    def commit(self, messages) -> None:
        import glob as _glob

        # rename-first overwrite: the new files carry a fresh job token so
        # their names cannot collide with pre-existing parts — publishing
        # them BEFORE deleting the old generation means a driver crash
        # mid-commit leaves old+new visible (re-runnable), never a window
        # with the old data gone and the new not yet visible
        finals = set()
        for m in messages:
            if m and m.tmp:
                os.replace(m.tmp, m.final)
                finals.add(m.final)
        if self.overwrite:
            for f in _glob.glob(os.path.join(self.opts.path, "*.orc")):
                if f not in finals:
                    os.remove(f)
            # sweep only THIS job's straggler temps (speculative attempts);
            # a concurrent job's in-flight temps carry a different token
            # and are left alone
            for f in _glob.glob(
                os.path.join(self.opts.path, f"part-{self.job_token}-*.tmp")
            ):
                os.remove(f)

    def abort(self, messages) -> None:
        for m in messages:
            if m and m.tmp and os.path.exists(m.tmp):
                os.remove(m.tmp)


class OrcRsStreamWriter(DataSourceStreamArrowWriter):
    """Structured Streaming sink for the ORC wire: ``writeStream
    .format("orc_rs")``. Exactly-once by construction — tasks write
    attempt-unique temp files, and the driver's per-micro-batch
    ``commit(messages, batchId)`` renames them to batch-id-keyed names
    (``part-{time}-q{query}b{batch:08d}-{pid:05d}.orc``; the time prefix
    is chosen once per batch and reused on replay) and then sweeps any
    OTHER file of the same (query, batch id) — a replayed batch that
    re-partitioned differently must replace the whole batch, not just
    the partitions it happens to share — so a restart between sink
    commit and checkpoint write republishes the batch instead of
    duplicating rows.

    The query token is derived from the ``checkpointLocation`` OPTION
    (stable across restarts of the SAME query — replay cleanup still
    finds the pre-restart attempt's files — and distinct between
    queries, since Spark requires one checkpoint dir per query), so two
    streaming queries writing the same directory can never adopt each
    other's batch ids and delete each other's files as stale replays.
    The token also prefixes the task TEMP names, so concurrent queries'
    in-flight writes cannot collide either. CONTRACT: when the option is
    absent (checkpoint set only via session conf, which Spark does not
    forward to the sink), the token is a constant — single-query replay
    semantics stay exact, but concurrent sinks on one directory then
    REQUIRE passing .option("checkpointLocation", ...) explicitly."""

    def __init__(self, options, schema):
        import hashlib

        self.opts = _WriteOptions(options)
        ckpt = options.get("checkpointLocation", "")
        self.query_token = (hashlib.sha256(ckpt.encode()).hexdigest()[:8]
                            if ckpt else "00000000")

    def write(self, iterator: Iterator[pa.RecordBatch]) -> OrcWriteMessage:
        pid, attempt = _task_ids()
        os.makedirs(self.opts.path, exist_ok=True)
        tmp = os.path.join(
            self.opts.path,
            f".stream-q{self.query_token}-{pid:05d}.{attempt}.tmp")
        rows = write_task_file(iterator, tmp, **self.opts.writer_kwargs)
        if rows is None:
            return OrcWriteMessage(None, None, 0)
        # final name is assigned at COMMIT time (it needs the batch id)
        return OrcWriteMessage(tmp, f"{pid:05d}", rows)

    def commit(self, messages, batchId: int) -> None:
        import glob as _glob
        import time

        # final names carry a time-ordered prefix chosen once per batch —
        # REUSED on a replay (idempotent names) — so files from this sink
        # and from batch append jobs (also time_ns-prefixed) sort
        # consistently by commit time, and a tailing stream's name
        # watermark never skips either kind
        tag = f"q{self.query_token}b{batchId:08d}"
        stale = _glob.glob(os.path.join(self.opts.path, f"part-*-{tag}-*.orc"))
        prefix = (os.path.basename(stale[0]).split("-")[1] if stale
                  else f"{time.time_ns():016x}")
        finals = set()
        for m in messages:
            if m and m.tmp:
                final = os.path.join(
                    self.opts.path, f"part-{prefix}-{tag}-{m.final}.orc"
                )
                os.replace(m.tmp, final)
                finals.add(final)
        # replay with fewer partitions: drop the earlier attempt's extras
        for f in stale:
            if f not in finals:
                os.remove(f)

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m and m.tmp and os.path.exists(m.tmp):
                os.remove(m.tmp)


class OrcRsStreamReader(DataSourceStreamReader):
    """Structured Streaming SOURCE over a growing ORC directory:
    ``spark.readStream.format("orc_rs").load(dir)`` — the ingestion
    mirror of the sink. New part files become the next micro-batch;
    within a batch the unit of parallelism is still one task per
    (file, stripe).

    Offset = the lexicographically-largest file name seen (``{"last":
    name}``), so the directory must grow append-only with sortable
    names — exactly what this package's own sinks produce: both the
    batch writer (``part-{time_ns-hex+rand}-{pid}``) and the streaming
    sink (``part-{time_ns-hex}-b{batch:08d}-{pid}``, prefix fixed at
    first commit of the batch) lead with a time_ns hex prefix, so files
    from EITHER producer, interleaved, sort by commit time. The offset
    stays O(1) however many files accumulate — a seen-file SET would
    grow with the table and be checkpointed every batch. Files that
    sort below the watermark are assumed immutable-and-processed (the
    rename-on-commit sinks guarantee a file is complete the moment it
    is visible). Caveat: two CONCURRENT batch append jobs can commit
    out of token order; don't tail a directory with overlapping batch
    writers (the streaming sink serializes its own commits). That
    misuse is DETECTED, not silent: partitions() records the names its
    planning glob saw and the top of the planned range; a NEW name
    later appearing at or below that mark was provably absent from
    every covering batch's glob and fails the stream loudly. No clocks
    involved, so the sink's idempotent same-name batch replays (which
    rewrite files already in the seen set) and commits racing the
    offset (which the planning glob still picks up) produce no false
    positives. State is in-memory (a restart re-arms the check) and the
    same order of memory as the directory listing each pass already
    materializes."""

    def __init__(self, options, schema):
        import glob as _glob

        self.path = options.get("path")
        if not self.path:
            raise ValueError("orc_rs: a path is required (use .load(path))")
        self.batch_rows = int(options.get("batch_rows", 65536))
        self.columns = [f.name for f in schema.fields]
        self._glob = _glob
        # evolve: adapt every micro-batch to the union-at-start schema so
        # a generation change mid-directory cannot wedge the stream (the
        # strict default fails a micro-batch spanning two schemas, and
        # Spark would retry the same offsets forever); columns added
        # AFTER the stream starts appear on restart, like Spark's own
        # file sources
        self.evolve = _evolve_on(options)
        # late-arrival detector state (see _check_late_arrivals): names
        # every planning glob has listed, and the top of the planned
        # range. In-memory only (a restart re-arms the check) and the
        # same order of memory as the directory listing each offset pass
        # already materializes.
        self._seen: set[str] = set()
        self._planned_hi: str = ""
        self._target = (_evolve_read_target(_resolve_files(options), self.columns)
                        if self.evolve else None)

    def _names(self) -> list[str]:
        return sorted(
            os.path.basename(f)
            for f in self._glob.glob(os.path.join(self.path, "*.orc"))
        )

    def initialOffset(self) -> dict:
        return {"last": ""}

    def _check_late_arrivals(self, names: list[str]) -> None:
        """Fail loudly if a NEW name materialized at or below the highest
        already-PLANNED name: such a file was absent from the planning
        glob of every batch that could have covered it (ranges only move
        up), so it would never be batched. Exact bookkeeping, no clocks:
        ``partitions()`` records the names its glob saw (``_seen``) and
        the top of the planned range (``_planned_hi``); the sink's
        idempotent same-name replays are in ``_seen`` and never flagged,
        and a file racing in between offset and planning IS in the
        planning glob, so no false positives either."""
        hi = self._planned_hi
        if not hi:
            return
        for n in names:
            if n > hi:
                break
            if n not in self._seen:
                raise RuntimeError(
                    f"orc_rs stream source: file {n!r} appeared at or below "
                    f"the already-planned watermark {hi!r} after that range "
                    "was batched — an out-of-name-order producer wrote this "
                    "directory; its rows would be silently lost. Use this "
                    "package's time-ordered writers and do not run "
                    "concurrent batch append jobs against a tailed "
                    "directory."
                )

    def latestOffset(self) -> dict:
        names = self._names()
        self._check_late_arrivals(names)
        return {"last": names[-1] if names else ""}

    def partitions(self, start: dict, end: dict):
        lo, hi = start.get("last", ""), end.get("last", "")
        names = self._names()
        # record the planning glob: every listed name <= hi is accounted
        # for (planned now, planned earlier, or pre-stream catch-up);
        # anything NEW at or below _planned_hi later is provably lost
        self._seen.update(n for n in names if n <= hi)
        if hi > self._planned_hi:
            self._planned_hi = hi
        files = [os.path.join(self.path, n) for n in names if lo < n <= hi]
        if not files:
            return []
        work = scan_work(plan_scan(files, None), require_uniform=not self.evolve)
        return [OrcStripePartition(f, i) for f, i in work]

    def read(self, partition: OrcStripePartition):
        yield from scan_stripes(
            [(partition.path, partition.stripe)], self.columns,
            target=self._target, batch_rows=self.batch_rows,
        )

    def commit(self, end: dict) -> None:
        pass


class OrcRsDataSource(DataSource):
    """``spark.dataSource.register(OrcRsDataSource)`` then read/write
    with ``.format("orc_rs")``."""

    @classmethod
    def name(cls) -> str:
        return "orc_rs"

    def schema(self):
        try:
            files = _resolve_files(self.options)
        except ValueError as e:
            raise ValueError(
                f"{e} — to start tailing a directory a sink has not "
                "populated yet, pass an explicit .schema(...)"
            ) from None
        if _evolve_on(self.options):
            full, ddl = evolve_target(plan_scan(files, None))
            self._evolve_cache = full  # reused by reader(): one union pass
            return ddl
        return orc_schema_ddl(files[0], scan=True)

    def reader(self, schema) -> OrcRsReader:
        return OrcRsReader(self.options, schema,
                           evolve_full=getattr(self, "_evolve_cache", None))

    def writer(self, schema, overwrite: bool) -> OrcRsWriter:
        return OrcRsWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> OrcRsStreamWriter:
        return OrcRsStreamWriter(self.options, schema)

    def streamReader(self, schema) -> OrcRsStreamReader:
        return OrcRsStreamReader(self.options, schema)
