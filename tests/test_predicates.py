"""IN-list predicates and in-task residual filtering for the ORC scan."""

import numpy as np
import pyarrow as pa
import pytest

from orc_rs_spark.orcfile.reader import (
    OrcFileReader,
    predicate_form,
    prune_stripes_stats,
    read_stripe_statistics,
    read_tail,
)
from orc_rs_spark.orcfile.writer import write_orc


def test_predicate_form():
    assert predicate_form(("k", 1, 5)) == ("range", "k", 1, 5)
    assert predicate_form(("k", [3, 7])) == ("in", "k", [3, 7])
    assert predicate_form(("k", (3,))) == ("in", "k", [3])
    with pytest.raises(ValueError, match="predicate"):
        predicate_form(("k",))
    with pytest.raises(ValueError, match="predicate"):
        predicate_form(("k", 3))  # bare scalar is ambiguous: reject


def _sorted_file(tmp_path, n=8000):
    t = pa.table({
        "k": np.arange(n, dtype=np.int64),
        "u": (np.arange(n, dtype=np.int64) * 2654435761) % 100000,  # uniform-ish
    })
    p = str(tmp_path / "in.orc")
    write_orc(t, p, stripe_rows=2000, row_index_stride=500,
              bloom_columns=["u"])
    return p, t


def test_in_list_prunes_stripes(tmp_path):
    p, _ = _sorted_file(tmp_path)
    tail = read_tail(p)
    stats = read_stripe_statistics(p)
    # values land in stripes 0 and 3 only (k sorted, 2000 rows/stripe)
    keep = prune_stripes_stats(tail, stats, [("k", [10, 7500])])
    assert keep == [0, 3]
    # empty IN-list proves everything away
    assert prune_stripes_stats(tail, stats, [("k", [])]) == []
    # unknown column: no pruning
    assert prune_stripes_stats(tail, stats, [("zzz", [1])]) == list(range(4))


def test_file_statistics_prune_before_stripe_statistics(tmp_path, monkeypatch):
    """A range the file's footer statistics exclude is pruned by one check
    of those: no stripe's statistics are looked at."""
    from orc_rs_spark.orcfile import reader

    p, _ = _sorted_file(tmp_path)
    tail = read_tail(p)
    stats = read_stripe_statistics(p)
    seen = []
    overlap = reader._stats_overlap
    monkeypatch.setattr(reader, "_stats_overlap", lambda st, lo, hi: seen.append(st) or overlap(st, lo, hi))
    assert prune_stripes_stats(tail, stats, [("k", 9000, 9500)]) == []
    assert seen == [tail.footer.statistics[1]]
    seen.clear()
    assert prune_stripes_stats(tail, stats, [("k", 4100, 4200)]) == [2]
    assert len(seen) == 1 + 4  # the file's, then each stripe's
    # without file statistics, or with ones that hold no bounds, the
    # stripes' statistics still decide
    tail.footer.statistics = []
    assert prune_stripes_stats(tail, stats, [("k", 4100, 4200)]) == [2]
    tail.footer.statistics = [reader.proto.ColumnStatistics.parse(b"")] * 3
    assert prune_stripes_stats(tail, stats, [("k", 9000, 9500)]) == []
    assert prune_stripes_stats(tail, [], [("k", 9000, 9500)]) == list(range(4))


def test_in_list_prunes_row_groups_with_blooms(tmp_path):
    p, t = _sorted_file(tmp_path)
    r = OrcFileReader(p)
    u = t.column("u").to_numpy()
    present = [int(u[123]), int(u[4567])]
    absent = 100001  # outside the value domain
    hits = []
    scanned = 0
    for s in range(4):
        groups = r.prune_row_groups_where(s, [("u", present + [absent])])
        assert groups is not None
        scanned += len(groups)
        if not groups:
            continue
        b = r.read_stripe(s, row_groups=groups)
        uu = b.column("u").to_numpy(zero_copy_only=False)
        hits.extend(uu[np.isin(uu, present + [absent])].tolist())
    assert sorted(hits) == sorted(present)
    # blooms must have dropped most groups: 16 groups total, 2 real hits
    assert scanned <= 6
    # empty list prunes everything
    assert r.prune_row_groups_where(0, [("u", [])]) == []


@pytest.mark.spark
def test_read_orc_in_list_and_residual(spark, tmp_path):
    import glob

    import pyspark.sql.functions as F

    from orc_rs_spark.orcfile.spark_source import read_orc, write_orc_dir

    df = spark.range(0, 20000).selectExpr(
        "id AS k", "CAST((id * 2654435761) % 100000 AS BIGINT) AS u"
    )
    out = str(tmp_path / "inres")
    write_orc_dir(df.coalesce(2), out, stripe_rows=4000, row_index_stride=500,
                  bloom_columns=["u"])
    want = [r["u"] for r in df.limit(3).collect()]
    got = read_orc(spark, out, predicate=("u", want), residual=True)
    exp = df.filter(F.col("u").isin(want))
    assert sorted(r["k"] for r in got.collect()) == sorted(r["k"] for r in exp.collect())
    # range + residual: no caller-side filter needed
    got2 = read_orc(spark, out, predicate=("k", 500, 700), residual=True)
    assert sorted(r["k"] for r in got2.collect()) == list(range(500, 701))
    # conjunction of range and IN
    got3 = read_orc(
        spark, out, predicate=[("k", 0, 9999), ("u", want)], residual=True
    )
    exp3 = exp.filter("k < 10000")
    assert sorted(r["k"] for r in got3.collect()) == sorted(r["k"] for r in exp3.collect())
    # residual demands the predicate column in the projection
    with pytest.raises(ValueError, match="residual"):
        read_orc(spark, out, predicate=("u", want), columns=["k"], residual=True)
    with pytest.raises(ValueError, match="residual"):
        read_orc(spark, out, residual=True)


def test_null_group_pruning(tmp_path):
    """IS NULL / IS NOT NULL group pruning from hasNull/numberOfValues:
    an all-null group vanishes for IS NOT NULL, a no-null group for
    IS NULL."""
    n = 4000
    vals = [None] * 500 + list(range(500, n))  # group 0 (stride 500) all null
    t = pa.table({
        "k": np.arange(n, dtype=np.int64),
        "v": pa.array(vals, type=pa.int64()),
    })
    p = str(tmp_path / "nulls.orc")
    write_orc(t, p, stripe_rows=n, row_index_stride=500)
    r = OrcFileReader(p)
    not_null = r.prune_row_groups_where(0, null_preds=[("v", False)])
    assert not_null == list(range(1, 8))  # group 0 proven all-NULL
    is_null = r.prune_row_groups_where(0, null_preds=[("v", True)])
    assert is_null == [0]  # groups 1..7 proven null-free
    # decode the kept groups and check exact row recovery
    b = r.read_stripe(0, row_groups=not_null)
    assert b.column("v").null_count == 0
    assert b.num_rows == n - 500
