"""Byte pins: the encoded bytes a refactor of the encoders must keep.

Each pin is the sha1 of bytes our encoders wrote for a fixed seed, taken
before a change that claims to keep them. The chunk pins cover the codec
tag and the raw (not block-compressed) bytes of every stream, so they do
not depend on the zlib build; the ORC pins cover whole files written with
``compression="none"``. A change that means to alter these bytes updates
the pin and says why.

Inputs come from the benchmark's own seeded generators
(``perfbench/workloads.py``), read only, and from a seeded table built
here with one column of every kind the ORC writer takes.
"""

from __future__ import annotations

import hashlib
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pytest

from orc_rs_spark.chunk import STREAM_COLS, encode_chunk
from orc_rs_spark.orcfile.writer import write_orc
from perfbench.workloads import lm_corpus, regime_mix

SEED = 7

# (slice rows, codec tags, sha1 per stream in STREAM_COLS order)
CHUNK_PINS = {
    "lm-corpus": (
        1536,
        "str_direct_fsst,rlev2,rankplanes,str_dict_fsst",
        (
            "4859ddaf323c0b01a0ef156ec9fc8b3acd651a08",
            "f8602a74c49eb6c733a3c83a00968285588aab21",
            "ce01c547f2a4ff608d44757b75bbc0402885593a",
            "041a52d1a592577f908de58b9844cc26bc817587",
        ),
    ),
    "regime-mix": (
        4096,
        "str_direct_fsst,dict,rlev2,str_dict_fsst",
        (
            "0d6bc6cb831a28d77dd657c31edfe06fe050c428",
            "1f8cd334a7e916c4e8b16baed65189ee1e9c4e49",
            "02551bebb898df39e7e4efef8f7ac41e3c2ca30d",
            "375c2a87d6e2f10379b9166e9beea9b116df9fa3",
        ),
    ),
}

# sha1 of the whole file: the regime-mix slice, 1500-row stripes (not a
# multiple of the stride), a fixed writer stamp
ORC_PINS = {
    0: "63dd929c3fc9f27e00733a2db36f0cff03bd9fe9",
    1000: "f3a86feae31d73d4133cad263ade10acf39bc582",
}

_GENERATORS = {"lm-corpus": lm_corpus, "regime-mix": regime_mix}


@pytest.fixture(scope="module")
def slices():
    return {
        name: _GENERATORS[name](SEED).slice(0, rows).combine_chunks()
        for name, (rows, _, _) in CHUNK_PINS.items()
    }


@pytest.mark.parametrize("workload", sorted(CHUNK_PINS))
def test_chunk_streams_pinned(slices, workload):
    _, tags, sha1s = CHUNK_PINS[workload]
    batch = slices[workload].to_batches()[0]
    row = encode_chunk(batch, 0, block_codec="none")
    assert row["block_codec"] == "none,none,none,none"
    assert row["codec"] == tags
    got = tuple(hashlib.sha1(row[s]).hexdigest() for s in STREAM_COLS)
    assert got == sha1s


@pytest.mark.parametrize("stride", sorted(ORC_PINS))
def test_orc_writer_bytes_pinned(slices, stride, tmp_path):
    path = tmp_path / f"pin_{stride}.orc"
    write_orc(
        slices["regime-mix"],
        str(path),
        compression="none",
        stripe_rows=1500,
        row_index_stride=stride,
        user_metadata={"orc_rs_spark.writer": b"pin"},
    )
    assert hashlib.sha1(path.read_bytes()).hexdigest() == ORC_PINS[stride]


# ------------------------------------------------ every ORC column kind

KIND_ROWS = 3000
KIND_STRIPE_ROWS = 1100  # a multiple of neither stride
# rows null in every column: group 1 of stripe 0 at stride 333, and the
# last group of stripe 1 at stride 1000
_ALL_NULL = (slice(333, 666), slice(2100, 2200))


def _kinds_table() -> pa.Table:
    """A seeded table with one column of every kind the writer takes.

    Every column has nulls, including the rows in ``_ALL_NULL``; ``long``
    has no other nulls, so stripe 2 writes it without a PRESENT stream.
    ``mixed_str`` is dictionary-encoded in stripe 0 and direct after it."""
    rng = np.random.default_rng(20)
    n = KIND_ROWS

    def nulls(p):
        m = rng.random(n) < p
        for s in _ALL_NULL:
            m[s] = True
        return m

    def col(values, typ, p=0.1):
        return pa.array(values, type=typ, mask=nulls(p))

    words = np.array([f"w{i:03d}" for i in range(40)])
    long_vals = rng.integers(-(1 << 62), 1 << 62, n)
    long_vals[::97] = np.iinfo(np.int64).max
    ns = rng.integers(-(40 << 56), 40 << 56, n) // 7  # spans 1970: pre-epoch nanos
    mixed = np.where(np.arange(n) < KIND_STRIPE_ROWS, words[rng.integers(0, 3, n)],
                     np.array([f"u{i}" for i in range(n)]))

    def lists(p):  # list<int32> rows: nulls, empty lists, null elements
        lens = rng.integers(0, 5, n)
        flat = rng.integers(-1000, 1000, int(lens.sum())).astype(np.int32)
        vals = pa.array(flat, mask=rng.random(len(flat)) < 0.1)
        offs = np.concatenate(([0], np.cumsum(lens))).astype(np.int32)
        return pa.ListArray.from_arrays(pa.array(offs), vals, mask=pa.array(nulls(p)))

    # map<string, double>: a null offset makes its row a null map
    map_nulls = nulls(0.1)
    lens = np.where(map_nulls, 0, rng.integers(0, 4, n))
    n_ent = int(lens.sum())
    map_col = pa.MapArray.from_arrays(
        pa.array(np.concatenate(([0], np.cumsum(lens))).astype(np.int32),
                 mask=np.append(map_nulls, False)),
        pa.array(words[rng.integers(0, 40, n_ent)]),
        pa.array(rng.normal(size=n_ent), mask=rng.random(n_ent) < 0.2),
    )
    struct_col = pa.StructArray.from_arrays(
        [col(rng.integers(-50, 50, n), pa.int64()),
         col(words[rng.integers(0, 40, n)], pa.string()),
         lists(0.1)],
        names=["a", "b", "c"],
        mask=pa.array(nulls(0.1)),
    )
    tags = rng.integers(0, 2, n).astype(np.int8)
    union_col = pa.UnionArray.from_dense(
        pa.array(tags),
        pa.array(np.where(tags == 0, np.cumsum(tags == 0) - 1,
                          np.cumsum(tags == 1) - 1).astype(np.int32)),
        [col(rng.integers(-9, 9, n).astype(np.int32), pa.int32(), 0.2),
         col(words[rng.integers(0, 40, n)], pa.string(), 0.2)],
    )
    dec = [None if m else int(v) for v, m in
           zip(rng.integers(-(10**17), 10**17, n), nulls(0.1))]
    fields = {
        "byte": col(rng.integers(-128, 128, n).astype(np.int8), pa.int8()),
        "short": col(rng.integers(-3000, 3000, n).astype(np.int16), pa.int16()),
        "int": col(np.cumsum(rng.integers(0, 5, n)).astype(np.int32), pa.int32()),
        "long": pa.array(long_vals, mask=nulls(0.0)),
        "bool": col(rng.random(n) < 0.3, pa.bool_()),
        "float": col(rng.normal(size=n).astype(np.float32), pa.float32()),
        "double": col(rng.normal(scale=1e6, size=n), pa.float64()),
        "date": col(rng.integers(-800, 20000, n).astype(np.int32), pa.date32()),
        "ts": col(ns, pa.timestamp("ns")),
        "dec": pa.array([None if d is None else Decimal(d).scaleb(-3) for d in dec],
                        type=pa.decimal128(18, 3)),
        "bin": col([bytes(rng.integers(0, 256, rng.integers(0, 12)).astype(np.uint8))
                    for _ in range(n)], pa.binary()),
        "dict_str": col(words[rng.integers(0, 40, n)], pa.string()),
        "direct_str": col([f"s{v}" for v in rng.integers(0, 1 << 40, n)], pa.string()),
        "mixed_str": col(mixed, pa.string()),
        "vchar": col(words[rng.integers(0, 40, n)], pa.string()),
        "list": lists(0.1),
        "map": map_col,
        "struct": struct_col,
        "union": union_col,
    }
    schema = pa.schema([
        pa.field(k, v.type, metadata={"orc_type": "varchar(8)"} if k == "vchar" else None)
        for k, v in fields.items()
    ])
    return pa.Table.from_arrays(list(fields.values()), schema=schema)


# sha1 of the whole file per (stride, bloom_columns)
KIND_PINS = {
    (0, None): "ace2206a16692a548abf661f6b2917c01bf6df1a",
    (333, None): "50de6b93e0ae677406af4b5feef14775b5ae1d6e",
    (1000, None): "06b53671554c0a079aa9a38d5c464162d47ab7a1",
    (333, ("long", "double", "date", "dict_str")): "504ed5dcf0e93b7c05f3b3dcf38d77067729e7df",
}


@pytest.mark.parametrize("stride,blooms", sorted(KIND_PINS, key=str))
def test_orc_writer_every_kind_pinned(stride, blooms, tmp_path):
    path = tmp_path / "kinds.orc"
    write_orc(
        _kinds_table(),
        str(path),
        compression="none",
        stripe_rows=KIND_STRIPE_ROWS,
        row_index_stride=stride,
        bloom_columns=list(blooms) if blooms else None,
        user_metadata={"orc_rs_spark.writer": b"pin"},
    )
    assert hashlib.sha1(path.read_bytes()).hexdigest() == KIND_PINS[(stride, blooms)]
