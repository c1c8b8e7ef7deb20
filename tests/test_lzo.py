"""LZO1X codec (round 6): from-spec encode+decode, JVM cross-validated.

The reference reader has NO lzo support (kind 3 exists in
orc_proto.proto:386 but src/compression.rs has no decode arm), so these
tests certify a surface that EXCEEDS reference parity. The third-party
validator is Spark's bundled pure-Java aircompressor lzo1x, driven
through real ORC files in both directions.
"""

from __future__ import annotations

import glob

import numpy as np
import pyarrow as pa
import pytest

from orc_rs_spark.kernels.lzo import (
    EOS,
    _lzo1x_decompress_np,
    _lzo1x_decompress_scalar,
    lzo1x_compress,
    lzo1x_decompress,
)

RNG = np.random.default_rng(42)


def _shapes():
    rng = np.random.default_rng(7)
    # periodic runs (offset < match length) of periods 1..7, then literals
    # interleaved with periodic runs so copy chains cross sequences
    periodic = [bytes(rng.integers(0, 256, period, dtype=np.uint8)) * (40000 // period)
                for period in (1, 2, 3, 5, 7)]
    interleaved = b"".join(
        bytes(rng.integers(0, 256, 17, dtype=np.uint8)) + b"xy" * 300
        for _ in range(50)
    )
    return periodic + [interleaved] + [
        b"",
        b"x",
        b"ab",
        b"abc",
        b"q" * 3,
        b"q" * 4,
        b"q" * 18,
        b"q" * 19,
        b"q" * 238,
        b"q" * 239,
        b"q" * 100_000,  # long offset-1 overlap chain
        b"hello world " * 2000,
        b"ab" * 30_000,  # offset-2 period
        bytes(RNG.integers(0, 256, 60_000, dtype=np.uint8)),  # incompressible
        bytes(RNG.integers(0, 4, 30_000, dtype=np.uint8)),  # low entropy
        (b"token " * 4)[:23] + b"Z" * 500 + bytes(RNG.integers(0, 256, 333, dtype=np.uint8)),
    ]


def test_lzo_roundtrip_shapes():
    for blob in _shapes():
        c = lzo1x_compress(blob)
        assert c.endswith(EOS)
        assert lzo1x_decompress(c) == blob
        # scalar and NumPy paths must agree byte for byte
        assert _lzo1x_decompress_scalar(c) == blob
        assert _lzo1x_decompress_np(c) == blob


def test_lzo_m4_long_distance():
    """A match referencing > 16384 back must round-trip through the M4
    form (d = 16384 + (H << 14) + (le16 >> 2))."""
    base = bytes(RNG.integers(0, 256, 40_000, dtype=np.uint8))
    blob = base + b"-" * 64 + base[:4_000]
    c = lzo1x_compress(blob)
    assert lzo1x_decompress(c) == blob
    assert len(c) < len(blob) * 0.95  # the far match was actually used


@pytest.mark.parametrize("seed", range(6))
def test_lzo_fuzz_np_vs_scalar(seed):
    rng = np.random.default_rng(seed)
    for _ in range(8):
        kind = rng.integers(0, 3)
        n = int(rng.integers(1, 50_000))
        if kind == 0:
            blob = bytes(rng.integers(0, 256, n, dtype=np.uint8))
        elif kind == 1:
            pat = bytes(rng.integers(0, 256, int(rng.integers(1, 40)), dtype=np.uint8))
            blob = (pat * (n // max(1, len(pat)) + 1))[:n]
        else:
            blob = bytes(rng.integers(0, 6, n, dtype=np.uint8))
        c = lzo1x_compress(blob)
        assert _lzo1x_decompress_scalar(c) == blob
        assert _lzo1x_decompress_np(c) == blob


def test_lzo_truncation_raises():
    blob = b"the quick brown fox " * 500
    c = lzo1x_compress(blob)
    for cut in (0, 1, 2, len(c) // 2, len(c) - 1):
        with pytest.raises(ValueError):
            lzo1x_decompress(c[:cut])
    # declared-size guard
    with pytest.raises(ValueError):
        lzo1x_decompress(c, max_size=len(blob) - 1)


def test_lzo_registry_and_block_framing():
    from orc_rs_spark.kernels.blockcomp import CODECS, block_compress, block_decompress

    assert "lzo" in CODECS
    data = bytes(RNG.integers(0, 64, 800_000, dtype=np.uint8)) + b"run" * 100_000
    assert block_decompress(block_compress(data, "lzo"), "lzo") == data
    # incompressible input must take the is-original escape (3-byte header)
    rnd = bytes(RNG.integers(0, 256, 5_000, dtype=np.uint8))
    assert len(block_compress(rnd, "lzo")) <= len(rnd) + 3


def _read_all(path):
    from orc_rs_spark.orcfile import OrcFileReader

    r = OrcFileReader(path)
    bats = [r.read_stripe(i) for i in range(len(r.tail.footer.stripes))]
    return pa.Table.from_batches([b for b in bats if b.num_rows])


def test_jvm_lzo_to_our_reader(spark, tmp_path):
    """Spark (aircompressor lzo1x_1) writes kind-3 ORC; our reader
    decodes it value-identically — including whatever M1/M2/M3/M4
    instruction mix the Java compressor emits."""
    out = str(tmp_path / "jvm_lzo")
    df = spark.range(20_000).selectExpr(
        "id",
        "id % 13 as k",
        "concat('doc token payload ', cast(id % 97 as string)) as t",
        "cast(id * 1.5 as double) as x",
    )
    df.coalesce(2).write.mode("overwrite").option("compression", "lzo").orc(out)
    files = sorted(glob.glob(f"{out}/*.orc"))
    assert files
    tot, sum_id = 0, 0
    for p in files:
        t = _read_all(p)
        tot += t.num_rows
        sum_id += sum(t.column("id").to_pylist())
    assert tot == 20_000 and sum_id == sum(range(20_000))
    ours = _read_all(files[0]).to_pydict()
    jvm = spark.read.orc(files[0]).toPandas()
    assert list(jvm["t"]) == ours["t"] and list(jvm["x"]) == ours["x"]


def test_our_lzo_to_jvm_reader(spark, tmp_path):
    """Our lzo writer's files decode value-identically in the JVM (and in
    our own reader)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from orc_rs_spark.orcfile.writer import write_orc

    rng = np.random.default_rng(9)
    tbl = pa.table({
        "a": pa.array(rng.integers(-(10**9), 10**9, 50_000), type=pa.int64()),
        "s": pa.array(["tok-%d" % (i % 211) for i in range(50_000)]),
        "f": pa.array(rng.random(50_000)),
    })
    path = str(tmp_path / "ours.orc")
    write_orc(tbl, path, compression="lzo")
    back = spark.read.orc(path)
    r = back.agg(F.count("*").alias("n"), F.sum("a").alias("sa")).collect()[0]
    assert r["n"] == 50_000 and r["sa"] == sum(tbl.column("a").to_pylist())
    # full-row sort: "a" alone can collide (random 1e9 range, 50k draws)
    got = back.orderBy("a", "s", "f").toPandas().reset_index(drop=True)
    exp = tbl.to_pandas().sort_values(["a", "s", "f"], ignore_index=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    mine = _read_all(path)
    assert mine.num_rows == 50_000
    assert mine.column("s").to_pylist() == tbl.column("s").to_pylist()


def test_lzo_wire_dir_roundtrip(spark, tmp_path):
    """write_orc_dir / read_orc with compression='lzo' — the distributed
    wire path under the fifth codec."""
    from pyspark.sql import functions as F

    from orc_rs_spark.orcfile.spark_source import read_orc, write_orc_dir

    df = spark.range(30_000).selectExpr(
        "id", "concat('payload-', cast(id % 1000 as string)) as s")
    out = str(tmp_path / "wire_lzo")
    write_orc_dir(df.repartition(4), out, compression="lzo")
    got = read_orc(spark, out)
    assert got.count() == 30_000
    assert got.agg(F.sum("id")).first()[0] == sum(range(30_000))
    # JVM also reads the directory
    assert spark.read.orc(out).count() == 30_000
