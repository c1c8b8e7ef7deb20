"""Distributed ORC read: stripes are the parallel unit.

The driver parses only the file tail (one small read); each Spark task
then opens the file and decodes its own stripes — the same stripe-granular
split strategy Spark's native ORC source uses, so at 100 TB on shared
storage every executor streams only its stripes' byte ranges. Schema is
derived from the ORC types, decode runs through the shared kernels inside
``mapInArrow`` (Arrow batches, no per-row Python).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from orc_rs_spark.orcfile.reader import (
    OrcFileReader,
    OrcTail,
    map_files,
    predicate_form,
    prune_stripes_stats,
    read_stripe_statistics,
    read_tail,
    schema_signature,
)


def _residual_filter(batch: pa.RecordBatch, predicates, null_preds) -> pa.RecordBatch:
    """Vectorized in-task row filter: range and IN predicates (SQL
    semantics: NULL matches neither) and ``(column, want_null)`` IS [NOT]
    NULL tests. Pruning keeps the superset; this keeps the exact rows, so
    only matches cross the Python->JVM wire."""
    import pyarrow.compute as pc

    masks = []
    for p in predicates:
        form = predicate_form(p)
        col = batch.column(form[1])
        if form[0] == "range":
            lo, hi = form[2], form[3]
            if lo is not None:
                masks.append(pc.fill_null(pc.greater_equal(col, lo), False))
            if hi is not None:
                masks.append(pc.fill_null(pc.less_equal(col, hi), False))
        else:
            masks.append(pc.fill_null(
                pc.is_in(col, value_set=pa.array(form[2], type=col.type)), False))
    for name, want_null in null_preds:
        col = batch.column(name)
        masks.append(pc.is_null(col) if want_null else pc.is_valid(col))
    if not masks:
        return batch
    mask = masks[0]
    for m in masks[1:]:
        mask = pc.and_(mask, m)
    return batch.filter(mask)

_PA_TO_DDL = {
    pa.bool_(): "boolean",
    pa.int8(): "tinyint",
    pa.int16(): "smallint",
    pa.int32(): "int",
    pa.int64(): "bigint",
    pa.float32(): "float",
    pa.float64(): "double",
    pa.string(): "string",
    pa.binary(): "binary",
    pa.date32(): "date",
}


def _pa_ddl(t: pa.DataType) -> str:
    if t in _PA_TO_DDL:
        return _PA_TO_DDL[t]
    if pa.types.is_timestamp(t):
        return "timestamp_ntz" if t.tz is None else "timestamp"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_list(t):
        return f"array<{_pa_ddl(t.value_type)}>"
    if pa.types.is_map(t):
        return f"map<{_pa_ddl(t.key_type)},{_pa_ddl(t.item_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(f"{t.field(i).name}:{_pa_ddl(t.field(i).type)}" for i in range(t.num_fields))
        return f"struct<{inner}>"
    raise ValueError(f"no Spark DDL mapping for arrow type {t}")


def _us_type(t: pa.DataType) -> pa.DataType:
    """Spark's Arrow bridge rejects nanosecond timestamps: map ns -> us
    recursively (Spark's TimestampType is microsecond anyway)."""
    if pa.types.is_timestamp(t) and t.unit == "ns":
        return pa.timestamp("us", tz=t.tz)
    if pa.types.is_list(t):
        return pa.list_(_us_type(t.value_type))
    if pa.types.is_map(t):
        return pa.map_(_us_type(t.key_type), _us_type(t.item_type))
    if pa.types.is_struct(t):
        return pa.struct([pa.field(t.field(i).name, _us_type(t.field(i).type))
                          for i in range(t.num_fields)])
    return t


def _spark_friendly(batch: pa.RecordBatch) -> pa.RecordBatch:
    target = pa.schema([pa.field(f.name, _us_type(f.type)) for f in batch.schema])
    if target == batch.schema:
        return batch
    # safe=False: ns -> us DELIBERATELY truncates sub-microsecond digits —
    # Spark's TimestampType is microseconds, so this matches what Spark's
    # own ORC reader would return (a safe cast would instead raise an
    # opaque ArrowInvalid on valid ORC files carrying nanos)
    return (
        pa.Table.from_batches([batch])
        .cast(target, safe=False)
        .combine_chunks()
        .to_batches()[0]
    )


_ORC_DDL = {
    "boolean": "boolean", "byte": "tinyint", "short": "smallint", "int": "int",
    "long": "bigint", "float": "float", "double": "double", "string": "string",
    "binary": "binary", "date": "date",
    "timestamp": "timestamp_ntz", "timestamp_instant": "timestamp",
}


def _orc_type_ddl(types: list, col_id: int, scan: bool = False) -> str:
    """Spark DDL from the ORC footer type tree — metadata only, no data
    decode (the driver never touches stripe bytes). ``scan=True`` yields
    the mapInArrow-compatible variant: varchar/char degrade to string
    (Arrow has no length-bounded strings; Spark's own ORC source reads
    them as string too), while the default carries maximum_length through
    (reference: src/schema.rs:185-200)."""
    t = types[col_id]
    if t.kind in _ORC_DDL:
        return _ORC_DDL[t.kind]
    if t.kind in ("varchar", "char"):
        if t.maximum_length and not scan:
            return f"{t.kind}({t.maximum_length})"
        return "string"
    if t.kind == "decimal":
        prec = t.precision or 38
        return f"decimal({prec},{t.scale})"
    if t.kind == "list":
        return f"array<{_orc_type_ddl(types, t.subtypes[0], scan)}>"
    if t.kind == "map":
        return (f"map<{_orc_type_ddl(types, t.subtypes[0], scan)},"
                f"{_orc_type_ddl(types, t.subtypes[1], scan)}>")
    if t.kind == "struct":
        inner = ",".join(
            f"{name}:{_orc_type_ddl(types, sub, scan)}"
            for name, sub in zip(t.field_names, t.subtypes)
        )
        return f"struct<{inner}>"
    raise ValueError(f"no Spark DDL mapping for ORC kind {t.kind!r}")


def orc_schema_ddl(source: str | OrcTail, scan: bool = False,
                   columns: list[str] | None = None) -> str:
    """Spark DDL for an ORC file's schema, from the footer alone: ``source``
    is the file's path or its already-read tail. ``scan=True`` gives the
    scan's variant (see ``_orc_type_ddl``); ``columns`` keeps only those
    top-level fields, in file order."""
    tail = read_tail(source) if isinstance(source, str) else source
    root = tail.footer.types[0]
    return ", ".join(
        f"{name} {_orc_type_ddl(tail.footer.types, sub, scan)}"
        for name, sub in zip(root.field_names, root.subtypes)
        if columns is None or name in columns
    )


def scan_partitions(n_work: int, default_parallelism: int) -> int:
    """Task count for a stripe scan: scales WITH the cluster instead of a
    fixed cap (a hard-coded 256 would squeeze millions of stripes at 100 TB
    through 256 concurrent tasks regardless of executor count). One task
    per stripe up to 4x the cluster's core count, beyond which stripes are
    batched 4-deep per slot — enough slack for stragglers without drowning
    the scheduler in tiny tasks."""
    return max(1, min(n_work, 4 * max(1, default_parallelism)))


def orc_files(path: str | list[str]) -> list[str]:
    """A file path, a directory (its ``*.orc`` part files, sorted) or a
    list of files -> the scan's file list."""
    import glob
    import os

    if not isinstance(path, str):
        return list(path)
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.orc")))
    return [path]


def _plan_file(f: str, predicates: list[tuple] | None) -> tuple[str, OrcTail, list[int]]:
    """Plan one file: (path, tail, surviving stripe ids).
    ONE tail read; when predicates are set, ONE Metadata read/parse covers
    every predicate (prune_stripes_stats), instead of one per column."""
    tail = read_tail(f)
    if predicates:
        stats = read_stripe_statistics(f, tail)
        keep = prune_stripes_stats(tail, stats, predicates)
    else:
        keep = list(range(len(tail.footer.stripes)))
    return f, tail, keep


def plan_scan(files, predicates) -> list[tuple[str, OrcTail, list[int]]]:
    """Plan a scan on the driver: (path, tail, surviving stripe ids) per
    file, from one tail (+ one Metadata) read per file through
    ``map_files``. The planned tails also give the scan's DDL
    (``orc_schema_ddl``) or evolved union (``evolve_target``);
    ``scan_work`` turns the plan into work units."""
    return map_files(lambda f: _plan_file(f, predicates), files)


def scan_work(plans, require_uniform: bool = True) -> list[tuple[str, int]]:
    """(file, stripe) work units of a ``plan_scan`` plan, with
    mixed-schema detection. ``require_uniform=False`` skips the gate for
    evolved scans whose compatibility was already proven via the schema
    union."""
    schema_sig, sig_file = None, None
    work: list[tuple[str, int]] = []
    for f, tail, keep in plans:
        sig = schema_signature(tail)
        # one scan = one schema: a mixed-schema directory must fail HERE
        # with file names, not mid-task with an opaque Arrow type error
        if not require_uniform:
            pass
        elif schema_sig is None:
            schema_sig, sig_file = sig, f
        elif sig != schema_sig:
            raise ValueError(
                f"ORC schema mismatch in one scan: {f} differs from {sig_file}"
            )
        work.extend((f, i) for i in keep)
    return work


def _adapt(batch: pa.RecordBatch, target: pa.Schema, path: str) -> pa.RecordBatch:
    """One file's batch in an evolved target schema: missing fields as
    typed NULLs, narrower numerics widened through a safe Arrow cast."""
    import pyarrow.compute as pc

    arrays = []
    for field in target:
        idx = batch.schema.get_field_index(field.name)
        if idx < 0:
            arrays.append(pa.nulls(batch.num_rows, type=field.type))
        elif batch.column(idx).type == field.type:
            arrays.append(batch.column(idx))
        else:
            # safe=True: evolution only ever WIDENS, so a lossy cast
            # here means the file carries a column wider than the
            # target union — possible in the STREAMING evolve mode,
            # whose union is fixed at stream start while later files
            # may widen further. Fail loudly instead of silently
            # wrapping out-of-range values (timestamps were already
            # normalized to microseconds upstream in _spark_friendly,
            # so no deliberate truncation happens here).
            try:
                arrays.append(pc.cast(batch.column(idx), field.type, safe=True))
            except pa.ArrowInvalid as e:
                raise ValueError(
                    f"ORC evolve: file {path!r} column {field.name!r} "
                    f"({batch.column(idx).type}) does not fit the scan's "
                    f"target type {field.type} — the file widened the "
                    "column after the stream's schema union was fixed; "
                    "restart the stream (the union refreshes from the "
                    "checkpoint) to pick up the wider schema"
                ) from e
    return pa.RecordBatch.from_arrays(arrays, names=target.names)


def scan_stripes(work, columns: list[str] | None = None, predicates=(), null_preds=(),
                 residual=(), target: pa.Schema | None = None,
                 batch_rows: int = 65536) -> Iterator[pa.RecordBatch]:
    """The one stripe task behind ``read_orc``, ``read_orc_evolve`` and
    the ``orc_rs`` format (batch and streaming): decode (file, stripe)
    work units as Spark-ready Arrow batches of ≤ batch_rows rows.

    Per stripe: prune row groups with ``predicates`` (range / IN) and
    ``null_preds`` (``(column, want_null)``) through the ROW_INDEX and
    blooms, read the survivors, normalize timestamps for Spark, adapt to
    the evolved ``target`` schema when given (a file missing a target
    column yields typed NULLs there), then filter rows exactly by
    ``residual`` (a subset of ``predicates``) and ``null_preds``.
    ``columns`` projects a strict scan, in that order; an evolved scan
    reads the target's columns that the file has."""
    readers: dict[str, OrcFileReader] = {}
    for f, i in work:
        r = readers.get(f)
        if r is None:
            r = readers[f] = OrcFileReader(f)
        i = int(i)
        groups = r.prune_row_groups_where(i, predicates, null_preds)
        if groups == []:
            continue  # every row group proven out of range
        cols = columns
        if target is not None:
            have = set(r.tail.footer.types[0].field_names)
            cols = [c for c in target.names if c in have]
        if target is not None and not cols:
            # the file predates EVERY requested column: typed all-null
            # batches, one per batch_rows rows
            n = r.tail.footer.stripes[i].number_of_rows
            batches = (
                pa.RecordBatch.from_arrays(
                    [pa.nulls(min(batch_rows, n - m), type=fld.type) for fld in target],
                    names=target.names,
                )
                for m in range(0, n, batch_rows)
            )
        else:
            batches = (
                _spark_friendly(b)
                for b in r.read_stripe_batches(i, cols, batch_rows=batch_rows, row_groups=groups)
                if b.num_rows
            )
            if target is not None:
                batches = (_adapt(b, target, r.path) for b in batches)
        for batch in batches:
            if target is None and columns is not None and batch.schema.names != columns:
                batch = batch.select(columns)  # Spark takes columns by position
            if residual or null_preds:
                batch = _residual_filter(batch, residual, null_preds)
            if batch.num_rows:
                yield batch


def _read(spark: SparkSession, name: str, path, predicate, columns, batch_rows: int,
          ddl: str | None = None, residual: bool = False,
          evolve: bool = False) -> DataFrame:
    """Shared body of read_orc / read_orc_evolve: validate the predicates,
    plan on the driver, then map ``scan_stripes`` over a pure-JVM
    ``range`` whose ids index the closure-carried work list — no
    python-RDD createDataFrame leg and no Exchange (one stage; contiguous
    id ranges also keep a file's stripes on one task, so its tail and
    Metadata reads amortize)."""
    files = orc_files(path)
    if not files:
        raise ValueError(f"{name}: no ORC files found")
    predicates: list[tuple] = []
    if predicate is not None:
        predicates = [predicate] if isinstance(predicate, tuple) else list(predicate)
        forms = [predicate_form(p) for p in predicates]  # validate on the driver
        if residual and columns is not None:
            missing = [f[1] for f in forms if f[1] not in columns]
            if missing:
                raise ValueError(
                    f"residual=True needs predicate columns {missing} in `columns`"
                )
    elif residual:
        raise ValueError("residual=True without a predicate")
    plans = plan_scan(files, predicates)
    target = None
    if evolve:
        target, ddl = evolve_target(plans, columns)
    elif ddl is None:
        if columns is not None:
            # read_orc returns the file's column order, like its DDL
            names = plans[0][1].footer.types[0].field_names
            unknown = [c for c in columns if c not in names]
            if unknown:
                raise ValueError(f"{name}: unknown columns {unknown}; {files[0]} has {names}")
            columns = [n for n in names if n in columns]
        ddl = orc_schema_ddl(plans[0][1], scan=True, columns=columns)
    # evolve: no mixed-schema gate — the union proved compatibility
    work = scan_work(plans, require_uniform=not evolve)
    exact = predicates if residual else []

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ids = (i for b in batches for i in b.column("id").to_pylist())
        yield from scan_stripes(
            (work[i] for i in ids), columns, predicates, residual=exact,
            target=target, batch_rows=batch_rows,
        )

    n_tasks = scan_partitions(len(work), spark.sparkContext.defaultParallelism)
    return spark.range(len(work), numPartitions=n_tasks).mapInArrow(decode, ddl)


def read_orc(
    spark: SparkSession,
    path: str | list[str],
    ddl: str | None = None,
    predicate: tuple | list[tuple] | None = None,
    columns: list[str] | None = None,
    batch_rows: int = 65536,
    residual: bool = False,
) -> DataFrame:
    """Read ORC file(s) as one DataFrame, one task per (file, stripe).

    ``path`` may be a single file, a directory of part files, or a list of
    files — all stripes across all files form ONE scan. The driver reads
    only file tails (schema comes from the footer type tree, never from
    data), in parallel through a thread pool, and plans every stripe.
    ``predicate`` is ``(column, lo, hi)`` or a LIST of such tuples (a
    conjunction); it prunes at TWO granularities: planning drops whole stripes through each
    file's Metadata statistics (read ONCE per file for all predicates),
    then each task drops row groups inside surviving stripes through the
    ROW_INDEX min/max — plus bloom probes for point ranges — the index
    the reference parses but never uses (src/stripe.rs:171). A predicate
    may also be ``(column, values)`` with a list — an IN-list, the shape
    a semi-join pushdown produces (collect a small dimension's keys,
    probe them all): stats admit a group if ANY value may be present,
    blooms drop it unless SOME value probably was written. Decode
    streams out in ≤ batch_rows Arrow batches (bounded task memory,
    whatever the stripe size). By default the predicate still needs
    re-applying row-level by the caller (stats keep the superset);
    ``residual=True`` applies it IN-TASK with vectorized Arrow compute
    (SQL semantics: NULL never matches), so only matching rows cross
    into the JVM — requires every predicate column to be in ``columns``
    when a projection is given."""
    return _read(spark, "read_orc", path, predicate, columns, batch_rows,
                 ddl=ddl, residual=residual)


def write_orc_dir(
    df: DataFrame, out_dir: str, compression: str = "zlib", stripe_rows: int = 65536,
    row_index_stride: int = 10000, bloom_columns: list[str] | None = None,
    user_metadata: dict[str, bytes] | None = None,
    compression_level: int | None = None,
) -> int:
    """Distributed ORC sink: each task STREAMS its partition into one ORC
    file (the layout every distributed ORC writer uses — a directory of
    part-files, readable by Spark/Hive/Trino and by orcfile.reader).
    Stripes flush to disk every ``stripe_rows`` rows as Arrow batches
    arrive, so task memory is bounded by one stripe + one batch no matter
    how large the partition is. Returns the number of rows written.

    Every part file's footer carries per-partition LINEAGE in its user
    metadata (Footer field 5): the writing task's partition id, plus any
    caller ``user_metadata`` (e.g. a job/run id) —
    auditable per-file provenance that survives merge_orc_files and
    reads back via ``read_tail(f).footer.metadata`` at one ~16 KiB tail
    read per file, no data bytes."""
    import os

    from pyspark import TaskContext
    from pyspark.sql import functions as F

    from orc_rs_spark.orcfile.writer import write_task_file

    os.makedirs(out_dir, exist_ok=True)

    def sink(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        attempt = ctx.taskAttemptId() if ctx is not None else 0
        final = f"{out_dir}/part-{pid:05d}.orc"
        # task-commit protocol: write to an attempt-unique temp name and
        # atomically rename on success. A retried or speculative attempt
        # can then never interleave bytes into a half-written final file,
        # failed attempts leave only ignorable temp files (read_orc globs
        # *.orc), and duplicate successful attempts last-win with
        # identical content (the encode is deterministic per partition).
        tmp = f"{final}.inprogress-{attempt}"
        # partition id only — NOT the attempt id: the task-commit last-win
        # protocol relies on duplicate successful attempts producing
        # byte-identical files, and an attempt-stamped footer would make
        # which-attempt-won a visible race
        lineage = dict(user_metadata or {})
        lineage.setdefault("orc_rs_spark.partition", str(pid).encode())
        n = write_task_file(
            batches, tmp, compression=compression, stripe_rows=stripe_rows,
            row_index_stride=row_index_stride, bloom_columns=bloom_columns,
            user_metadata=lineage, compression_level=compression_level,
        )
        if n is not None:
            os.replace(tmp, final)
        yield pa.RecordBatch.from_arrays([pa.array([n or 0], type=pa.int64())], names=["n_rows"])

    out = df.mapInArrow(sink, "n_rows bigint").agg(F.sum("n_rows").alias("n")).collect()
    return int(out[0]["n"] or 0)


# ------------------------------------------------------- schema evolution

_INT_WIDEN = {"byte": 0, "short": 1, "int": 2, "long": 3}
_FLT_WIDEN = {"float": 0, "double": 1}


def _field_sig(types: list, col: int) -> tuple:
    """Recursive signature of one column subtree:
    (kind, precision, scale, maximum_length, field_names, children)."""
    t = types[col]
    return (t.kind, t.precision, t.scale, t.maximum_length, tuple(t.field_names),
            tuple(_field_sig(types, s) for s in t.subtypes))


def _file_fields(tail) -> list[tuple[str, tuple]]:
    """Top-level (name, signature) pairs, file order."""
    root = tail.footer.types[0]
    return [
        (n, _field_sig(tail.footer.types, s))
        for n, s in zip(root.field_names, root.subtypes)
    ]


def _widen(a: tuple, b: tuple) -> tuple | None:
    """The wider of two field signatures under ORC's name-based schema
    evolution rules (same promotions ORC Java's SchemaEvolution allows
    for reads): int kinds widen byte<short<int<long, float widens to
    double, varchar/char lengths take the max; anything else — including
    every nested shape — must match exactly. None = incompatible."""
    if a == b:
        return a
    (ka, pa_, sa, la, na, ca), (kb, pb, sb, lb, nb, cb) = a, b
    if not ca and not cb:
        if ka in _INT_WIDEN and kb in _INT_WIDEN:
            return a if _INT_WIDEN[ka] >= _INT_WIDEN[kb] else b
        if ka in _FLT_WIDEN and kb in _FLT_WIDEN:
            return a if _FLT_WIDEN[ka] >= _FLT_WIDEN[kb] else b
        if ka == kb and ka in ("varchar", "char") and (pa_, sa, na) == (pb, sb, nb):
            return a if la >= lb else b
    return None


def _merge_fields(per_file: list[tuple[str, list[tuple[str, tuple]]]]) -> list[tuple[str, tuple]]:
    """Union of top-level fields across files, first-seen order, each
    widened across every file that carries it. per_file: (path, fields).
    Raises on an incompatible redefinition, naming both files."""
    order: list[str] = []
    merged: dict[str, tuple] = {}
    first_file: dict[str, str] = {}
    for f, fields in per_file:
        for name, sig in fields:
            if name not in merged:
                order.append(name)
                merged[name] = sig
                first_file[name] = f
            else:
                w = _widen(merged[name], sig)
                if w is None:
                    raise ValueError(
                        f"ORC schema evolution: column {name!r} in {f} is "
                        f"incompatible with its type in {first_file[name]}"
                    )
                merged[name] = w
    return [(n, merged[n]) for n in order]


def _sig_arrow(sig: tuple) -> pa.DataType:
    """Arrow type for a field signature (timestamps microsecond — the
    evolved scan's target schema is Spark-facing)."""
    kind, prec, scale, _maxlen, names, children = sig
    simple = {
        "boolean": pa.bool_(), "byte": pa.int8(), "short": pa.int16(),
        "int": pa.int32(), "long": pa.int64(), "float": pa.float32(),
        "double": pa.float64(), "string": pa.string(), "varchar": pa.string(),
        "char": pa.string(), "binary": pa.binary(), "date": pa.date32(),
        "timestamp": pa.timestamp("us"),
        "timestamp_instant": pa.timestamp("us", tz="UTC"),
    }
    if kind in simple:
        return simple[kind]
    if kind == "decimal":
        return pa.decimal128(prec or 38, scale)
    if kind == "list":
        return pa.list_(_sig_arrow(children[0]))
    if kind == "map":
        return pa.map_(_sig_arrow(children[0]), _sig_arrow(children[1]))
    if kind == "struct":
        return pa.struct([pa.field(n, _sig_arrow(c)) for n, c in zip(names, children)])
    raise ValueError(f"schema evolution unsupported for ORC kind {kind!r}")


def evolve_target(plans, columns: list[str] | None = None) -> tuple[pa.Schema, str]:
    """(target arrow schema, Spark DDL) for an evolved scan — the union
    of every file's top-level fields, widened, from the tails of a
    ``plan_scan`` plan; ``columns`` keeps those fields (union order) and
    must name union fields. Shared by read_orc_evolve and the data
    source's evolve mode."""
    target = _merge_fields([(f, _file_fields(tail)) for f, tail, _ in plans])
    if columns is not None:
        known = {n for n, _ in target}
        unknown = [c for c in columns if c not in known]
        if unknown:
            raise ValueError(f"unknown columns {unknown}; table has {sorted(known)}")
        target = [(n, s) for n, s in target if n in columns]
    schema = pa.schema([pa.field(n, _sig_arrow(s)) for n, s in target])
    ddl = ", ".join(f"{f.name} {_pa_ddl(f.type)}" for f in schema)
    return schema, ddl


def read_orc_evolve(
    spark: SparkSession,
    path: str | list[str],
    predicate: tuple | list[tuple] | None = None,
    columns: list[str] | None = None,
    batch_rows: int = 65536,
) -> DataFrame:
    """Read ORC files whose schemas EVOLVED over the table's lifetime as
    one DataFrame — the name-based evolution semantics of ORC Java's
    SchemaEvolution, which the strict ``read_orc`` refuses by design.

    Target schema = the union of every file's top-level fields
    (first-seen order), with per-field widening: byte<short<int<long,
    float→double, varchar/char length growth. A file missing a field
    yields typed NULLs for it; a narrower column widens via an Arrow
    cast inside the decode task. Incompatible redefinition (e.g. int →
    string) fails at PLANNING time naming both files.

    The driver computes the union (``evolve_target``) and plans the
    stripes, then decode follows the same stripe-parallel path as
    read_orc. Predicates prune as usual where the column exists; files
    that predate a predicate's column decode unpruned (their rows carry
    NULL there, and NULL never satisfies a range predicate — the
    caller's row-level re-filter drops them)."""
    return _read(spark, "read_orc_evolve", path, predicate, columns, batch_rows,
                 evolve=True)


def count_rows(path: str | list[str]) -> int:
    """Exact row count from file FOOTERS alone — the 100 TB ``COUNT(*)``.

    An ORC footer's numberOfRows is authoritative, so counting needs one
    tail read per file and zero stripe bytes; a driver thread pool
    (``map_files``) hides the per-file read latency."""
    files = orc_files(path)
    if not files:
        raise ValueError("count_rows: no ORC files found")
    return sum(map_files(lambda f: read_tail(f).footer.number_of_rows, files))


_STATS_AGG_OPS = ("count_star", "count", "min", "max", "sum")


def _file_stat_partial(path: str, aggs: list[tuple[str, str | None]]) -> dict:
    """One file's contribution to each aggregate, from the FOOTER alone.

    Raises OrcUnsupportedError when the footer cannot answer exactly:
    missing min/max for a column that has values, SUM over a kind with no
    sum statistic, or timestamp bounds (stored millis-widened, so they
    are a pruning superset, not the exact nanosecond extrema —
    writer.py's minmax capture documents the widening)."""
    from orc_rs_spark.orcfile.errors import OrcUnsupportedError

    tail = read_tail(path)
    root = tail.footer.types[0]
    stats = tail.footer.statistics
    out: dict = {}
    for op, col in aggs:
        key = f"{op}({col})" if col else "count(*)"
        if op == "count_star":
            out[key] = tail.footer.number_of_rows
            continue
        if col not in root.field_names:
            raise OrcUnsupportedError(f"stats_aggregate: no top-level column {col!r}")
        cid = root.subtypes[root.field_names.index(col)]
        st = stats[cid] if cid < len(stats) else None
        if st is None or st.number_of_values is None:
            raise OrcUnsupportedError(f"stats_aggregate: footer lacks statistics for {col!r}")
        if op == "count":
            out[key] = st.number_of_values
            continue
        kind = tail.footer.types[cid].kind
        if st.number_of_values == 0:
            out[key] = None  # SQL: aggregate over no rows is NULL
            continue
        if op in ("min", "max"):
            if kind in ("timestamp", "timestamp_instant"):
                raise OrcUnsupportedError(
                    "stats_aggregate: timestamp bounds are millis-widened "
                    "(pruning supersets) — decode the column for exact MIN/MAX")
            pairs = ((st.int_min, st.int_max), (st.double_min, st.double_max),
                     (st.string_min, st.string_max), (st.date_min, st.date_max))
            vals = next(((lo, hi) for lo, hi in pairs if lo is not None), None)
            if vals is None:
                raise OrcUnsupportedError(
                    f"stats_aggregate: footer has no min/max for {col!r} "
                    f"(kind {kind}; NaN-poisoned float bounds are omitted)")
            v = vals[0] if op == "min" else vals[1]
            if kind == "date":
                import datetime

                v = datetime.date(1970, 1, 1) + datetime.timedelta(days=v)
            out[key] = v
        else:  # sum
            if kind == "boolean":
                v = st.true_count
            elif st.int_sum is not None:
                v = st.int_sum
            elif st.double_sum is not None:
                v = st.double_sum
            else:
                v = None
            if v is None:
                raise OrcUnsupportedError(
                    f"stats_aggregate: footer has no sum for {col!r} (kind "
                    f"{kind}; int sums beyond sint64 are omitted as unknown)")
            out[key] = v
    return out


def _combine_stat_partials(parts: list[dict], aggs: list[tuple[str, str | None]]) -> dict:
    out: dict = {}
    for op, col in aggs:
        key = f"{op}({col})" if col else "count(*)"
        vals = [p[key] for p in parts if p[key] is not None]
        if op in ("count_star", "count"):
            out[key] = sum(vals)
        elif not vals:
            out[key] = None
        elif op == "min":
            out[key] = min(vals)
        elif op == "max":
            out[key] = max(vals)
        else:
            out[key] = sum(vals)
    return out


def stats_aggregate(path: str | list[str], aggs: list[tuple[str, str | None]]) -> dict:
    """Exact COUNT/MIN/MAX/SUM from ORC footers alone — zero stripe bytes.

    ``aggs`` is a list of ``(op, column)`` with op in
    {count_star, count, min, max, sum} (column None for count_star).
    Returns ``{"op(col)": value}``. The reference exposes the parsed
    statistics surface (src/reader.rs:152-159); this turns it into the
    100 TB metadata-only aggregate: one ~16 KiB tail read per file
    through a driver thread pool (``map_files``). Every answer is exact
    or the call raises (OrcUnsupportedError) — never a silent
    approximation; sums come from the writer's exact Python-int
    accumulation (writer.py _stats_body)."""
    for op, col in aggs:
        if op not in _STATS_AGG_OPS and op != "avg":
            raise ValueError(f"stats_aggregate: unknown op {op!r}")
        if (col is None) != (op == "count_star"):
            raise ValueError(f"stats_aggregate: op {op!r} column mismatch")
    # AVG decomposes into footer-answerable SUM + COUNT; the division
    # happens once over the combined partials (never per file — that
    # would average averages)
    avg_cols = [col for op, col in aggs if op == "avg"]
    if avg_cols:
        base = [(op, col) for op, col in aggs if op != "avg"]
        for col in avg_cols:
            for piece in (("sum", col), ("count", col)):
                if piece not in base:
                    base.append(piece)
        res = stats_aggregate(path, base)
        for op, col in aggs:
            if op == "avg":
                cnt = res[f"count({col})"]
                res[f"avg({col})"] = (res[f"sum({col})"] / cnt) if cnt else None
        keep = {(f"{op}({col})" if col else "count(*)") for op, col in aggs}
        return {k: v for k, v in res.items() if k in keep}
    files = orc_files(path)
    if not files:
        raise ValueError("stats_aggregate: no ORC files found")
    return _combine_stat_partials(map_files(lambda f: _file_stat_partial(f, aggs), files), aggs)
