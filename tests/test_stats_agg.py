"""Metadata-only aggregate pushdown (spark_source.stats_aggregate):
COUNT/MIN/MAX/SUM answered from ORC footers with zero stripe bytes read.
The reference exposes the parsed statistics surface (src/reader.rs:152-159);
our writer additionally persists exact sums (writer.py _stats_body), which
is what makes SUM answerable from metadata."""

from __future__ import annotations

import datetime

import numpy as np
import pyarrow as pa
import pytest

from orc_rs_spark.orcfile.errors import OrcUnsupportedError
from orc_rs_spark.orcfile.reader import read_tail
from orc_rs_spark.orcfile.spark_source import stats_aggregate
from orc_rs_spark.orcfile.writer import write_orc


def _table(seed: int, n: int = 9000) -> pa.Table:
    rng = np.random.default_rng(seed)
    return pa.table({
        "k": pa.array(rng.integers(-10**6, 10**6, n), pa.int64()),
        "f": pa.array(rng.normal(size=n)),
        "flag": pa.array(rng.integers(0, 2, n).astype(bool)),
        "s": pa.array([f"w{i % 331:04d}" for i in range(n)]),
        "d": pa.array(rng.integers(0, 20000, n).astype("int32"), pa.date32()),
        "ts": pa.array(rng.integers(0, 10**15, n), pa.timestamp("us")),
    })


AGGS = [("count_star", None), ("count", "k"), ("min", "k"), ("max", "k"),
        ("sum", "k"), ("min", "f"), ("max", "f"), ("sum", "f"),
        ("sum", "flag"), ("min", "s"), ("max", "s"), ("min", "d"), ("max", "d")]


def _expected(tables: list[pa.Table]) -> dict:
    k = np.concatenate([t.column("k").to_numpy() for t in tables])
    f = np.concatenate([t.column("f").to_numpy() for t in tables])
    flag = np.concatenate([t.column("flag").to_numpy() for t in tables])
    s = sum((t.column("s").to_pylist() for t in tables), [])
    d = sum((t.column("d").to_pylist() for t in tables), [])
    return {
        "count(*)": sum(t.num_rows for t in tables),
        "count(k)": len(k), "min(k)": int(k.min()), "max(k)": int(k.max()),
        "sum(k)": int(k.sum()), "min(f)": float(f.min()), "max(f)": float(f.max()),
        "sum(f)": float(f.sum()), "sum(flag)": int(flag.sum()),
        "min(s)": min(s), "max(s)": max(s), "min(d)": min(d), "max(d)": max(d),
    }


def _check(got: dict, want: dict) -> None:
    assert set(got) == set(want)
    for key, w in want.items():
        g = got[key]
        if isinstance(w, float):
            assert abs(g - w) < 1e-9 * max(1.0, abs(w)), key
        else:
            assert g == w, key


def test_stats_aggregate_single_file(tmp_path):
    t = _table(1)
    p = str(tmp_path / "a.orc")
    write_orc(t, p, stripe_rows=2048)
    _check(stats_aggregate(p, AGGS), _expected([t]))


def test_stats_aggregate_zero_data_bytes(tmp_path):
    """The whole point: every stripe's index+data region is overwritten
    with garbage (only the file tail survives) and the aggregates still
    come back exact — proof that not one data-stream byte is read."""
    t = _table(2)
    p = str(tmp_path / "a.orc")
    write_orc(t, p, stripe_rows=2048)
    tail = read_tail(p)
    with open(p, "r+b") as fh:
        for s in tail.footer.stripes:
            fh.seek(s.offset)
            fh.write(b"\xff" * (s.index_length + s.data_length))
    _check(stats_aggregate(p, AGGS), _expected([t]))


def test_stats_aggregate_multi_file_and_dir(tmp_path):
    tables = [_table(s, n) for s, n in ((3, 5000), (4, 7000), (5, 1000))]
    for i, t in enumerate(tables):
        write_orc(t, str(tmp_path / f"part-{i}.orc"), stripe_rows=2048)
    _check(stats_aggregate(str(tmp_path), AGGS), _expected(tables))


def test_stats_aggregate_nulls_and_empty(tmp_path):
    t = pa.table({
        "k": pa.array([None, 5, None, -2, 9], pa.int64()),
        "e": pa.array([None] * 5, pa.int64()),
    })
    p = str(tmp_path / "n.orc")
    write_orc(t, p)
    got = stats_aggregate(p, [("count_star", None), ("count", "k"), ("sum", "k"),
                              ("min", "k"), ("count", "e"), ("min", "e"),
                              ("sum", "e")])
    assert got["count(*)"] == 5 and got["count(k)"] == 3
    assert got["sum(k)"] == 12 and got["min(k)"] == -2
    # all-null column: COUNT 0, MIN/SUM are SQL NULL (not an error)
    assert got["count(e)"] == 0
    assert got["min(e)"] is None and got["sum(e)"] is None


def test_stats_aggregate_refuses_inexact(tmp_path):
    t = _table(6)
    p = str(tmp_path / "a.orc")
    write_orc(t, p)
    # timestamp bounds are millis-widened -> refuse, never approximate
    with pytest.raises(OrcUnsupportedError, match="millis-widened"):
        stats_aggregate(p, [("min", "ts")])
    with pytest.raises(OrcUnsupportedError, match="no top-level column"):
        stats_aggregate(p, [("min", "zz")])
    with pytest.raises(ValueError, match="unknown op"):
        stats_aggregate(p, [("median", "k")])
    # NaN-poisoned float bounds are omitted by the writer -> refuse
    tn = pa.table({"f": pa.array([1.0, float("nan"), 2.0])})
    pn = str(tmp_path / "nan.orc")
    write_orc(tn, pn)
    with pytest.raises(OrcUnsupportedError, match="no min/max"):
        stats_aggregate(pn, [("min", "f")])


def test_int_sum_overflow_omitted(tmp_path):
    """Sums beyond sint64 are written as unknown (ORC Java semantics) and
    stats_aggregate refuses rather than wrapping."""
    big = (1 << 62) + 7
    t = pa.table({"k": pa.array([big, big, big, big], pa.int64())})
    p = str(tmp_path / "big.orc")
    write_orc(t, p)
    got = stats_aggregate(p, [("min", "k"), ("max", "k"), ("count", "k")])
    assert got["min(k)"] == big and got["count(k)"] == 4
    with pytest.raises(OrcUnsupportedError, match="no sum"):
        stats_aggregate(p, [("sum", "k")])


def test_stats_aggregate_date_roundtrip(tmp_path):
    t = pa.table({"d": pa.array([datetime.date(1999, 12, 31),
                                 datetime.date(2031, 1, 2),
                                 datetime.date(1969, 7, 20)])})
    p = str(tmp_path / "d.orc")
    write_orc(t, p)
    got = stats_aggregate(p, [("min", "d"), ("max", "d")])
    assert got["min(d)"] == datetime.date(1969, 7, 20)
    assert got["max(d)"] == datetime.date(2031, 1, 2)


def test_stats_aggregate_avg(tmp_path):
    """AVG decomposes to footer SUM / COUNT over the COMBINED partials
    (never an average of per-file averages — files have different row
    counts)."""
    t1 = pa.table({"k": pa.array([10, 20, None], pa.int64())})
    t2 = pa.table({"k": pa.array([40], pa.int64())})
    write_orc(t1, str(tmp_path / "a.orc"))
    write_orc(t2, str(tmp_path / "b.orc"))
    got = stats_aggregate(str(tmp_path), [("avg", "k"), ("min", "k")])
    assert got["avg(k)"] == (10 + 20 + 40) / 3  # 23.33, not (15+40)/2
    assert got["min(k)"] == 10
    assert set(got) == {"avg(k)", "min(k)"}
    # all-null -> SQL NULL
    t3 = pa.table({"k": pa.array([None, None], pa.int64())})
    p3 = str(tmp_path / "nulls" )
    import os
    os.makedirs(p3)
    write_orc(t3, os.path.join(p3, "c.orc"))
    assert stats_aggregate(p3, [("avg", "k")])["avg(k)"] is None
