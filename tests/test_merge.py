"""Stripe-level ORC merge / compaction (orcfile.merge).

The merged file must be a first-class ORC file: readable by our reader
AND Spark's JVM reader, stripe statistics preserved byte-meaningfully
(pruning still works), refusals on schema/codec/stride mismatch.
"""

import numpy as np
import pyarrow as pa
import pytest

from orc_rs_spark.orcfile.errors import OrcFormatError
from orc_rs_spark.orcfile.merge import merge_orc_files, plan_compaction
from orc_rs_spark.orcfile.reader import OrcFileReader, read_stripe_statistics, read_tail
from orc_rs_spark.orcfile.writer import write_orc

_N = 3000


def _tbl(lo: int, n: int) -> pa.Table:
    rng = np.random.default_rng(lo)
    keys = np.arange(lo, lo + n, dtype=np.int64)
    return pa.table({
        "k": keys,
        "v": rng.integers(0, 1000, n).astype(np.int32),
        "s": pa.array([f"row-{i:07d}" for i in keys], type=pa.string()),
    })


def _parts(tmp_path, n_files=3, **kw):
    paths, tables = [], []
    for i in range(n_files):
        t = _tbl(i * _N, _N)
        p = str(tmp_path / f"part-{i}.orc")
        write_orc(t, p, stripe_rows=700, **kw)
        paths.append(p)
        tables.append(t)
    return paths, pa.concat_tables(tables)


def test_merge_roundtrip_own_reader(tmp_path):
    paths, expect = _parts(tmp_path)
    out = str(tmp_path / "merged.orc")
    n = merge_orc_files(paths, out)
    assert n == len(expect)
    got = OrcFileReader(out).read_all().combine_chunks()
    assert got.cast(expect.schema).equals(expect.combine_chunks())


def test_merge_preserves_stripe_statistics(tmp_path):
    """Metadata section = concatenation of the inputs' StripeStatistics:
    stats survive relocation value-exact, in stripe order."""
    paths, _ = _parts(tmp_path)
    out = str(tmp_path / "merged.orc")
    merge_orc_files(paths, out)
    merged = read_stripe_statistics(out)
    parts = [s for p in paths for s in read_stripe_statistics(p)]
    assert len(merged) == len(parts) > 3
    assert merged == parts
    # file-level stats merged across inputs
    tail = read_tail(out)
    k_stats = tail.footer.statistics[1]  # column ids: 0=struct, 1=k
    assert (k_stats.int_min, k_stats.int_max) == (0, 3 * _N - 1)
    assert k_stats.number_of_values == 3 * _N


def test_merge_pruning_still_works(tmp_path):
    """Stripe + row-group pruning over the merged file returns exactly
    the rows a full scan filter would."""
    paths, expect = _parts(tmp_path)
    out = str(tmp_path / "merged.orc")
    merge_orc_files(paths, out)
    r = OrcFileReader(out)
    tail = read_tail(out)
    lo, hi = _N + 50, _N + 130  # inside file 2's key range
    from orc_rs_spark.orcfile.reader import prune_stripes

    keep = prune_stripes(out, "k", lo, hi)
    assert 0 < len(keep) < len(tail.footer.stripes)
    got = []
    for s in keep:
        groups = r.prune_row_groups(s, "k", lo, hi)
        b = r.read_stripe(s, row_groups=groups)
        k = b.column("k").to_numpy(zero_copy_only=False)
        got.extend(k[(k >= lo) & (k <= hi)].tolist())
    assert sorted(got) == list(range(lo, hi + 1))


def test_merge_rejects_mismatches(tmp_path):
    t = _tbl(0, 100)
    a = str(tmp_path / "a.orc")
    write_orc(t, a)
    # schema mismatch
    b = str(tmp_path / "b.orc")
    write_orc(t.rename_columns(["k", "v", "zzz"]), b)
    with pytest.raises(OrcFormatError, match="schema mismatch"):
        merge_orc_files([a, b], str(tmp_path / "out1.orc"))
    # compression mismatch
    c = str(tmp_path / "c.orc")
    write_orc(t, c, compression="none")
    with pytest.raises(OrcFormatError, match="compression mismatch"):
        merge_orc_files([a, c], str(tmp_path / "out2.orc"))
    # stride mismatch
    d = str(tmp_path / "d.orc")
    write_orc(t, d, row_index_stride=0)
    with pytest.raises(OrcFormatError, match="rowIndexStride mismatch"):
        merge_orc_files([a, d], str(tmp_path / "out3.orc"))


def test_plan_compaction_consecutive_bins():
    sizes = [("a", 10), ("b", 10), ("c", 25), ("d", 5), ("e", 40), ("f", 1)]
    groups = plan_compaction(sizes, target_bytes=30)
    assert groups == [["a", "b"], ["c", "d"], ["e"], ["f"]]
    # oversized file still gets its own bin
    assert plan_compaction([("big", 100)], 30) == [["big"]]
    assert plan_compaction([], 30) == []


@pytest.mark.spark
def test_merged_file_read_by_spark_native(spark, tmp_path):
    """The cross-engine proof for the merge path: Spark's JVM ORC reader
    reads the merged file and sees the concatenation."""
    paths, expect = _parts(tmp_path)
    out = str(tmp_path / "merged_jvm.orc")
    merge_orc_files(paths, out)
    got = spark.read.orc(out).toArrow()
    got = got.cast(expect.schema).sort_by("k").combine_chunks()
    assert got.equals(expect.sort_by("k").combine_chunks())


@pytest.mark.spark
def test_merge_jvm_written_snappy_files(spark, tmp_path):
    """Merging files our WRITER could not have produced (JVM, snappy):
    stripes are copied verbatim whatever the codec; only the rebuilt
    tail sections need codec handling (is-original framing)."""
    src = str(tmp_path / "jvm_snappy")
    spark.range(0, 20000).selectExpr(
        "id AS k", "CAST(id % 97 AS INT) AS v", "CONCAT('s', id) AS s"
    ).repartition(2).write.option("compression", "snappy").orc(src)
    import glob

    paths = sorted(glob.glob(f"{src}/*.orc"))
    assert len(paths) == 2
    out = str(tmp_path / "merged_snappy.orc")
    n = merge_orc_files(paths, out)
    assert n == 20000
    ours = OrcFileReader(out).read_all().sort_by("k")
    theirs = spark.read.orc(out).toArrow().cast(ours.schema).sort_by("k")
    assert ours.combine_chunks().equals(theirs.combine_chunks())
    assert ours.column("k").to_pylist() == list(range(20000))


def test_merge_jvm_written_lzo_files(spark, tmp_path):
    """Same contract under kind 3 (round 6: lzo joined block_compress,
    so merge can frame the rebuilt tail for JVM-written lzo files too —
    a codec the REFERENCE cannot read at all)."""
    src = str(tmp_path / "jvm_lzo")
    spark.range(0, 12000).selectExpr(
        "id AS k", "CAST(id % 89 AS INT) AS v", "CONCAT('t', id) AS s"
    ).repartition(2).write.option("compression", "lzo").orc(src)
    import glob

    paths = sorted(glob.glob(f"{src}/*.orc"))
    assert len(paths) == 2
    out = str(tmp_path / "merged_lzo.orc")
    n = merge_orc_files(paths, out)
    assert n == 12000
    ours = OrcFileReader(out).read_all().sort_by("k")
    theirs = spark.read.orc(out).toArrow().cast(ours.schema).sort_by("k")
    assert ours.combine_chunks().equals(theirs.combine_chunks())
    assert ours.column("k").to_pylist() == list(range(12000))


@pytest.mark.spark
def test_compact_orc_dir(spark, tmp_path):
    """Distributed compaction: many small parts -> few target-sized
    files, identical data, readable by read_orc and the JVM."""
    import glob
    import os

    import pyspark.sql.functions as F

    from orc_rs_spark.orcfile.merge import compact_orc_dir
    from orc_rs_spark.orcfile.spark_source import read_orc, write_orc_dir

    df = spark.range(0, 30000).selectExpr(
        "id AS k", "CAST(id % 31 AS INT) AS v", "CONCAT('doc-', id) AS s"
    )
    small = str(tmp_path / "small")
    write_orc_dir(df.repartition(8), small, compression="zlib")
    n_small = len(glob.glob(f"{small}/*.orc"))
    assert n_small == 8
    total = sum(os.path.getsize(f) for f in glob.glob(f"{small}/*.orc"))

    compacted = str(tmp_path / "compacted")
    n = compact_orc_dir(spark, small, compacted, target_bytes=total // 3 + 1)
    assert n == 30000
    n_big = len(glob.glob(f"{compacted}/*.orc"))
    assert 1 < n_big < n_small

    a = read_orc(spark, compacted).agg(
        F.count("*").alias("n"), F.sum("k").alias("sk"), F.sum("v").alias("sv")
    ).collect()[0]
    b = df.agg(
        F.count("*").alias("n"), F.sum("k").alias("sk"), F.sum("v").alias("sv")
    ).collect()[0]
    assert list(a) == list(b)
    assert spark.read.orc(compacted).count() == 30000


def test_count_rows_metadata_only(tmp_path):
    """count_rows sums footer numberOfRows — and proves it never touches
    stripe bytes by counting a directory whose stripe regions have been
    OVERWRITTEN with garbage (tails intact)."""
    paths, expect = _parts(tmp_path)
    from orc_rs_spark.orcfile.spark_source import count_rows

    assert count_rows(paths) == len(expect)
    assert count_rows(paths[0]) == _N
    # corrupt every stripe's data region in a copy; the count must not care
    import shutil

    for p in paths:
        tail = read_tail(p)
        with open(p, "r+b") as f:
            for si in tail.footer.stripes:
                f.seek(si.offset)
                f.write(b"\xde\xad" * 100)
    assert count_rows(paths) == len(expect)


def test_merge_all_types_table(tmp_path):
    """Type-tree re-serialization must be lossless for EVERY kind the
    writer emits: merge two parts of the all-types table (nested
    list/map/struct, decimal(38,5), dates, binary, every int width) and
    round-trip the result."""
    from tests.test_orcfile import _writer_table

    tbl = _writer_table()
    half = tbl.num_rows // 2
    a, b = tbl.slice(0, half), tbl.slice(half)
    pa_ = str(tmp_path / "a.orc")
    pb = str(tmp_path / "b.orc")
    write_orc(a, pa_, stripe_rows=300)
    write_orc(b, pb, stripe_rows=300)
    out = str(tmp_path / "merged.orc")
    n = merge_orc_files([pa_, pb], out)
    assert n == tbl.num_rows
    got = OrcFileReader(out).read_all()
    assert got.cast(tbl.schema).combine_chunks().equals(tbl.combine_chunks())
    # footer types survived exactly (incl. decimal precision/scale)
    ta, tm = read_tail(pa_), read_tail(out)
    assert [
        (t.kind, t.subtypes, t.field_names, t.precision, t.scale, t.maximum_length)
        for t in ta.footer.types
    ] == [
        (t.kind, t.subtypes, t.field_names, t.precision, t.scale, t.maximum_length)
        for t in tm.footer.types
    ]


def test_merge_union_column_table(tmp_path):
    """Union columns (TAG + per-child streams) relocate like any other
    stripe; the union type node re-serializes with its children."""
    import pyarrow as pa

    types = pa.union(
        [pa.field("i", pa.int64()), pa.field("s", pa.string())], mode="dense"
    )
    tags = pa.array([0, 1, 0, 1] * 100, type=pa.int8())
    offsets = pa.array(
        [i // 2 for i in range(400)], type=pa.int32()
    )
    ints = pa.array(range(200), type=pa.int64())
    strs = pa.array([f"u{i}" for i in range(200)], type=pa.string())
    u = pa.UnionArray.from_dense(tags, offsets, [ints, strs])
    tbl = pa.table({"u": u})
    p1, p2 = str(tmp_path / "u1.orc"), str(tmp_path / "u2.orc")
    write_orc(tbl.slice(0, 200), p1, stripe_rows=90)
    write_orc(tbl.slice(200), p2, stripe_rows=90)
    out = str(tmp_path / "u_merged.orc")
    assert merge_orc_files([p1, p2], out) == 400
    got = OrcFileReader(out).read_all()
    assert got.column("u").combine_chunks() == tbl.column("u").combine_chunks()


def test_merge_file_stats_honest_when_input_statless():
    """Review finding: an input with no stats for a column must yield an
    EMPTY merged ColumnStatistics (unknown), never affirmative counts
    that undercount / claim hasNull=false."""
    from types import SimpleNamespace

    from orc_rs_spark.orcfile.merge import _merge_file_stats
    from orc_rs_spark.orcfile.proto import ColumnStatistics

    types = [SimpleNamespace(kind="struct"), SimpleNamespace(kind="long")]
    full = SimpleNamespace(footer=SimpleNamespace(
        types=types,
        statistics=[ColumnStatistics(5, False), ColumnStatistics(5, False, int_min=1, int_max=9)],
    ))
    statless = SimpleNamespace(footer=SimpleNamespace(types=types, statistics=[]))
    bodies = _merge_file_stats([full, statless])
    assert bodies == [b"", b""]  # unknown, not "5 values, no nulls"
    # both present: counts sum, bounds combine
    full2 = SimpleNamespace(footer=SimpleNamespace(
        types=types,
        statistics=[ColumnStatistics(3, True), ColumnStatistics(3, True, int_min=-4, int_max=2)],
    ))
    bodies = _merge_file_stats([full, full2])
    parsed = ColumnStatistics.parse(bodies[1])
    assert (parsed.number_of_values, parsed.has_null) == (8, True)
    assert (parsed.int_min, parsed.int_max) == (-4, 9)


def test_combine_stats_unknown_and_neutral_parts():
    """The one statistics fold behind stripe, footer and merged-footer
    statistics: a part with no values is neutral, a part with values but
    no bound (or sum) makes that field unknown, unknown counts poison all."""
    from orc_rs_spark.orcfile.writer import combine_stats

    a = (5, False, 1, 9, 20)
    assert combine_stats([a, (3, True, -4, 2, -1)]) == (8, True, -4, 9, 19)
    assert combine_stats([a, (0, True, None, None, None)]) == (5, True, 1, 9, 20)
    assert combine_stats([a, (3, False, -4, 2, None)]) == (8, False, -4, 9, None)
    assert combine_stats([a, (3, False, None, None, 7)]) == (8, False, None, None, 27)
    assert combine_stats([a, None]) is None
    assert combine_stats([]) == (0, False, None, None, None)


@pytest.mark.spark
def test_merged_footer_keeps_sums_and_bounds(spark, tmp_path):
    """Footer-only aggregates answer the same before and after
    merge_orc_files and compact_orc_dir: merged footers keep the int and
    double sums and the boolean true count, and an input whose column has
    no values (all null) leaves the merged bounds known."""
    import os

    from orc_rs_spark.orcfile.merge import compact_orc_dir
    from orc_rs_spark.orcfile.spark_source import stats_aggregate

    n = 1000
    parts = tmp_path / "parts"
    os.makedirs(parts)
    full = pa.table({
        "x": pa.array(np.arange(n, dtype=np.int64)),
        "f": pa.array(np.full(n, 0.5)),
        "b": pa.array(np.arange(n) % 2 == 0),
    })
    nulls = pa.table({c: pa.nulls(n, full.schema.field(c).type) for c in full.column_names})
    paths = [str(parts / f"part-{i}.orc") for i in range(3)]
    for p, t in zip(paths, (full, full, nulls)):
        write_orc(t, p, stripe_rows=400)
    aggs = [("sum", "x"), ("sum", "f"), ("sum", "b"), ("min", "x"), ("max", "x"),
            ("min", "f"), ("max", "f"), ("count", "x"), ("count_star", None)]
    want = stats_aggregate(paths, aggs)
    assert (want["sum(x)"], want["sum(f)"], want["sum(b)"]) == (999000, 1000.0, 1000)
    assert (want["min(x)"], want["max(x)"], want["count(x)"]) == (0, 999, 2000)

    merged = str(tmp_path / "merged.orc")
    assert merge_orc_files(paths, merged) == 3 * n
    assert stats_aggregate(merged, aggs) == want
    compacted = str(tmp_path / "compacted")
    assert compact_orc_dir(spark, str(parts), compacted, target_bytes=1 << 30) == 3 * n
    assert len(os.listdir(compacted)) == 1
    assert stats_aggregate(compacted, aggs) == want


def test_merge_property_random_splits(tmp_path):
    """Property: for random (table, split points, stripe size), merging
    the parts reproduces the concatenation exactly and count_rows agrees
    with the footer."""
    from orc_rs_spark.orcfile.spark_source import count_rows

    rng = np.random.default_rng(7)
    for trial in range(6):
        n = int(rng.integers(10, 2500))
        tbl = pa.table({
            "k": rng.integers(-(1 << 40), 1 << 40, n),
            "s": pa.array(
                [None if rng.random() < 0.1 else f"s{int(v)}"
                 for v in rng.integers(0, 50, n)], type=pa.string()),
            "f": rng.normal(size=n),
        })
        k_files = int(rng.integers(2, 5))
        cuts = sorted(rng.integers(0, n + 1, k_files - 1).tolist())
        bounds = [0] + cuts + [n]
        paths = []
        stripe_rows = int(rng.integers(7, 900))
        for j in range(k_files):
            p = str(tmp_path / f"t{trial}_{j}.orc")
            part = tbl.slice(bounds[j], bounds[j + 1] - bounds[j])
            write_orc(part, p, stripe_rows=stripe_rows, row_index_stride=64)
            paths.append(p)
        out = str(tmp_path / f"t{trial}_m.orc")
        rows = merge_orc_files(paths, out)
        assert rows == n == count_rows(out)
        got = OrcFileReader(out).read_all().combine_chunks()
        assert got.cast(tbl.schema).equals(tbl.combine_chunks()), f"trial {trial}"


@pytest.mark.spark
def test_compact_group_by_schema(spark, tmp_path):
    """Evolved directory compaction: files group by schema generation,
    each generation compacts alone, and the evolved reader sees one
    table over the compacted output."""
    import glob

    from orc_rs_spark.orcfile.merge import compact_orc_dir
    from orc_rs_spark.orcfile.spark_source import read_orc_evolve

    src = str(tmp_path / "gens")
    import os

    os.makedirs(src)
    # generation 1: (k, v:int) in 3 small files; generation 2 adds s
    for j in range(3):
        t = pa.table({
            "k": np.arange(j * 100, (j + 1) * 100, dtype=np.int64),
            "v": np.arange(j * 100, (j + 1) * 100, dtype=np.int32),
        })
        write_orc(t, f"{src}/part-a{j}.orc")
    for j in range(2):
        t = pa.table({
            "k": np.arange(300 + j * 100, 400 + j * 100, dtype=np.int64),
            "v": np.arange(300 + j * 100, 400 + j * 100, dtype=np.int64),
            "s": pa.array([f"x{i}" for i in range(100)], type=pa.string()),
        })
        write_orc(t, f"{src}/part-b{j}.orc")
    # without grouping the task-side merge refuses (Spark wraps the error)
    with pytest.raises(Exception, match="schema mismatch"):
        compact_orc_dir(spark, src, str(tmp_path / "nope"), target_bytes=1 << 30)
    out = str(tmp_path / "gens_compact")
    n = compact_orc_dir(spark, src, out, target_bytes=1 << 30,
                        group_by_schema=True)
    assert n == 500
    assert len(glob.glob(f"{out}/*.orc")) == 2  # one file per generation
    df = read_orc_evolve(spark, out)
    rows = df.orderBy("k").collect()
    assert [r["k"] for r in rows] == list(range(500))
    assert [r["v"] for r in rows] == list(range(500))
    assert all(r["s"] is None for r in rows[:300])
    assert rows[300]["s"] == "x0"


def test_merge_preserves_user_metadata(tmp_path):
    """OrcFile.mergeFiles semantics: footer user-metadata KV pairs
    survive the stripe-copy merge (union of inputs, first file wins on a
    conflicting key), validated both by our reader and by the ORC C++
    library (pyarrow.orc) as a third party."""
    import pyarrow.orc as po

    from orc_rs_spark.orcfile.merge import merge_orc_files
    from orc_rs_spark.orcfile.reader import OrcFileReader, read_tail
    from orc_rs_spark.orcfile.writer import write_orc

    t1 = pa.table({"x": pa.array([1, 2, 3], pa.int64())})
    t2 = pa.table({"x": pa.array([4, 5], pa.int64())})
    p1, p2 = str(tmp_path / "a.orc"), str(tmp_path / "b.orc")
    write_orc(t1, p1, user_metadata={"run": b"alpha", "who": b"job1"})
    write_orc(t2, p2, user_metadata={"run": b"beta", "extra": b"\x00\x01"})
    out = str(tmp_path / "m.orc")
    merge_orc_files([p1, p2], out)
    md = read_tail(out).footer.metadata
    assert md["run"] == b"alpha"  # first file wins
    assert md["who"] == b"job1" and md["extra"] == b"\x00\x01"
    assert md["orc_rs_spark.writer"].startswith(b"orc_rs_spark/")
    got = OrcFileReader(out).read_all()
    assert got.column("x").to_pylist() == [1, 2, 3, 4, 5]
    # ORC C++ sees the same pairs and rows
    f = po.ORCFile(out)
    assert f.nrows == 5
    cpp_md = {k: v for k, v in f.metadata.items()}
    assert cpp_md[b"run" if b"run" in cpp_md else "run"] in (b"alpha",)


def test_write_orc_dir_stamps_partition_lineage(spark, tmp_path):
    """Each part file's footer user metadata carries the writing task's
    partition id (plus caller KV) — per-partition lineage readable from
    tails alone, surviving merge. Deliberately NOT the attempt id: the
    last-win commit protocol needs duplicate attempts byte-identical."""
    from orc_rs_spark.orcfile.reader import read_tail
    from orc_rs_spark.orcfile.spark_source import write_orc_dir

    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    out = str(tmp_path / "lineage")
    n = write_orc_dir(df.repartition(3), out, user_metadata={"run": b"r5"})
    assert n == 1000
    import glob

    parts = sorted(glob.glob(f"{out}/*.orc"))
    assert len(parts) == 3
    seen_pids = set()
    for p in parts:
        md = read_tail(p).footer.metadata
        assert md["run"] == b"r5"
        seen_pids.add(int(md["orc_rs_spark.partition"]))
        assert md["orc_rs_spark.writer"].startswith(b"orc_rs_spark/")
    assert seen_pids == {0, 1, 2}
