"""Schema-evolution reads (read_orc_evolve): name-based column
add/widen across files of one scan, per ORC Java's SchemaEvolution
semantics — missing fields decode as typed NULLs, narrower numerics
widen in-task, incompatible redefinitions fail at planning time."""

import numpy as np
import pyarrow as pa
import pytest

from orc_rs_spark.orcfile.spark_source import _merge_fields, _widen, read_orc_evolve
from orc_rs_spark.orcfile.writer import write_orc


def _sig(kind, prec=0, scale=0, maxlen=0, names=(), children=()):
    return (kind, prec, scale, maxlen, tuple(names), tuple(children))


def test_widen_rules():
    assert _widen(_sig("int"), _sig("long")) == _sig("long")
    assert _widen(_sig("long"), _sig("byte")) == _sig("long")
    assert _widen(_sig("float"), _sig("double")) == _sig("double")
    assert _widen(_sig("varchar", maxlen=10), _sig("varchar", maxlen=20)) == _sig(
        "varchar", maxlen=20
    )
    assert _widen(_sig("int"), _sig("string")) is None
    assert _widen(_sig("int"), _sig("double")) is None  # no int->float promotion
    # nested shapes must match exactly
    lst_i = _sig("list", children=(_sig("int"),))
    lst_l = _sig("list", children=(_sig("long"),))
    assert _widen(lst_i, lst_i) == lst_i
    assert _widen(lst_i, lst_l) is None


def test_merge_fields_union_and_conflict():
    a = ("a.orc", [("k", _sig("long")), ("v", _sig("int"))])
    b = ("b.orc", [("k", _sig("long")), ("v", _sig("long")), ("s", _sig("string"))])
    merged = _merge_fields([a, b])
    assert merged == [("k", _sig("long")), ("v", _sig("long")), ("s", _sig("string"))]
    c = ("c.orc", [("v", _sig("string"))])
    with pytest.raises(ValueError, match="incompatible"):
        _merge_fields([a, c])


def _old_new(tmp_path):
    """Two generations: old = (k long, v int); new adds `extra` and
    widens v to long."""
    old = pa.table({
        "k": np.arange(0, 1000, dtype=np.int64),
        "v": np.arange(0, 1000, dtype=np.int32),
    })
    new = pa.table({
        "k": np.arange(1000, 2000, dtype=np.int64),
        "v": np.arange(1000, 2000, dtype=np.int64),
        "extra": pa.array([f"e{i}" for i in range(1000)], type=pa.string()),
    })
    d = tmp_path / "evo"
    d.mkdir()
    write_orc(old, str(d / "part-0.orc"), stripe_rows=300, row_index_stride=128)
    write_orc(new, str(d / "part-1.orc"), stripe_rows=300, row_index_stride=128)
    return str(d)


@pytest.mark.spark
def test_evolve_union_and_nulls(spark, tmp_path):
    src = _old_new(tmp_path)
    df = read_orc_evolve(spark, src)
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint", "bigint", "string"
    ]
    rows = df.orderBy("k").collect()
    assert len(rows) == 2000
    assert [r["v"] for r in rows] == list(range(2000))  # widened int32 half included
    assert all(r["extra"] is None for r in rows[:1000])
    assert rows[1000]["extra"] == "e0" and rows[1999]["extra"] == "e999"


@pytest.mark.spark
def test_evolve_projection_and_predicate(spark, tmp_path):
    import pyspark.sql.functions as F

    src = _old_new(tmp_path)
    # predicate column exists everywhere: both generations prune + filter
    df = read_orc_evolve(spark, src, predicate=("k", 900, 1100), columns=["k", "v"])
    got = df.filter((F.col("k") >= 900) & (F.col("k") <= 1100)).orderBy("k").collect()
    assert [r["k"] for r in got] == list(range(900, 1101))
    assert [r["v"] for r in got] == list(range(900, 1101))
    # predicate on the NEW column: old files decode to NULL there and the
    # caller's row filter drops them — never a planning error
    df2 = read_orc_evolve(spark, src, predicate=("extra", "e10", "e10"))
    got2 = df2.filter(F.col("extra") == "e10").collect()
    assert len(got2) == 1 and got2[0]["k"] == 1010


@pytest.mark.spark
def test_evolve_all_columns_missing_emits_null_rows(spark, tmp_path):
    src = _old_new(tmp_path)
    df = read_orc_evolve(spark, src, columns=["extra"])
    assert df.count() == 2000
    assert df.filter("extra IS NULL").count() == 1000


@pytest.mark.spark
def test_evolve_incompatible_fails_at_planning(spark, tmp_path):
    d = tmp_path / "bad"
    d.mkdir()
    write_orc(pa.table({"v": pa.array([1, 2], type=pa.int64())}), str(d / "a.orc"))
    write_orc(pa.table({"v": pa.array(["x"], type=pa.string())}), str(d / "b.orc"))
    with pytest.raises(ValueError, match="incompatible"):
        read_orc_evolve(spark, str(d))


def test_evolve_refuses_narrowing_cast(tmp_path):
    """A file whose column is WIDER than the evolve target (possible in
    streaming evolve mode, where the union is fixed at stream start) must
    fail loudly, not wrap out-of-range values through an unsafe cast."""
    import pyarrow as pa
    import pytest as _pytest

    from orc_rs_spark.orcfile.spark_source import scan_stripes
    from orc_rs_spark.orcfile.writer import write_orc

    wide = pa.table({"k": pa.array([1, 2, 2**40], pa.int64())})
    p = str(tmp_path / "wide.orc")
    write_orc(wide, p)
    narrow_target = pa.schema([pa.field("k", pa.int32())])
    with _pytest.raises(ValueError, match="does not fit the scan's target type"):
        list(scan_stripes([(p, 0)], target=narrow_target))
    # in-range values still adapt fine through the safe cast
    ok = pa.table({"k": pa.array([1, 2, 3], pa.int64())})
    p2 = str(tmp_path / "ok.orc")
    write_orc(ok, p2)
    got = pa.Table.from_batches(
        list(scan_stripes([(p2, 0)], target=narrow_target)))
    assert got.column("k").to_pylist() == [1, 2, 3]
    assert got.schema.field("k").type == pa.int32()
