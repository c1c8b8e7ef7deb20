"""Generic any-schema encoder: 12-type round-trip with nulls, Spark pass."""

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from orc_rs_spark.generic import (
    decode_generic_chunk,
    decode_generic_table,
    encode_generic_batch,
    encode_generic_table,
)

RNG = np.random.default_rng(3)


def _decimal_col(n):
    unscaled = RNG.integers(-(10**11), 10**11, n)
    pairs = np.zeros((n, 2), dtype=np.int64)
    pairs[:, 0] = unscaled
    pairs[:, 1] = unscaled >> 63
    return pa.Array.from_buffers(pa.decimal128(12, 2), n, [None, pa.py_buffer(pairs.tobytes())])


def _batch(n=2000):
    b = pa.RecordBatch.from_arrays(
        [
            pa.array(RNG.integers(-100, 100, n), type=pa.int8()),
            pa.array(RNG.integers(0, 30000, n), type=pa.int16()),
            pa.array(RNG.integers(-(2**31), 2**31, n), type=pa.int32()),
            pa.array(np.arange(n) * 7, type=pa.int64()),
            pa.array(RNG.standard_normal(n), type=pa.float64()),
            pa.array(RNG.standard_normal(n).astype(np.float32)),
            pa.array([f"s{i % 37}" for i in range(n)]),
            pa.array([bytes([i % 256, (i * 7) % 256]) for i in range(n)], type=pa.binary()),
            pa.array(RNG.random(n) < 0.3),
            pa.array(RNG.integers(0, 20000, n), type=pa.int32()).cast(pa.date32()),
            pa.array(RNG.integers(0, 2**40, n), type=pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            pa.ListArray.from_arrays(
                pa.array(np.arange(0, 4 * (n + 1), 4, dtype=np.int32)),
                pa.array(RNG.integers(0, 1000, 4 * n), type=pa.int32()),
            ),
            pa.ListArray.from_arrays(
                pa.array(np.arange(0, 3 * (n + 1), 3, dtype=np.int32)),
                pa.array(RNG.standard_normal(3 * n).astype(np.float32)),
            ),
            _decimal_col(n),
        ],
        names=["i8", "i16", "i32", "i64", "f64", "f32", "s", "b", "flag", "d", "ts", "lst", "flst", "dec"],
    )
    mask = pa.array(RNG.random(n) < 0.1)
    b = b.set_column(6, "s", pc.if_else(mask, pa.scalar(None, pa.string()), b.column("s")))
    b = b.set_column(4, "f64", pc.if_else(mask, pa.scalar(None, pa.float64()), b.column("f64")))
    return b


def test_generic_batch_roundtrip_all_types():
    batch = _batch()
    row = encode_generic_batch(batch, 0)
    out = decode_generic_chunk(row)
    for name in batch.schema.names:
        assert batch.column(name).to_pylist() == out.column(name).to_pylist(), name
        assert batch.column(name).type == out.column(name).type, name
    raw = sum(
        sum(len(x) for x in batch.column(i).buffers() if x is not None)
        for i in range(batch.num_columns)
    )
    assert row["enc_bytes"] < raw  # compresses overall


def test_generic_unsupported_type_raises():
    # struct/list/map are supported since the recursive frame format;
    # duration has no codec mapping and must fail loudly, not corrupt
    b = pa.RecordBatch.from_arrays(
        [pa.array(np.array([1, 2], dtype="timedelta64[s]"))], names=["d"]
    )
    with pytest.raises(TypeError, match="unsupported column type"):
        encode_generic_batch(b, 0)


@pytest.mark.spark
def test_generic_spark_roundtrip_lineitem(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    out = decode_generic_table(encode_generic_table(df), ddl)
    a = sorted(map(str, df.collect()))
    b = sorted(map(str, out.collect()))
    assert a == b


# ------------------------------------------------- hypothesis differential


from hypothesis import given, settings, strategies as st


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=0, max_size=120),
    st.lists(st.text(max_size=24), min_size=0, max_size=120),
    st.lists(st.booleans(), min_size=0, max_size=120),
    st.lists(st.floats(allow_nan=False, width=64), min_size=0, max_size=120),
)
def test_generic_fuzz_roundtrip(ints, texts, flags, floats):
    n = min(len(ints), len(texts), len(flags), len(floats))
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(ints[:n], type=pa.int64()),
            pa.array(texts[:n]),
            pa.array(flags[:n]),
            pa.array(floats[:n], type=pa.float64()),
        ],
        names=["i", "t", "f", "x"],
    )
    if n == 0:
        return
    out = decode_generic_chunk(encode_generic_batch(batch, 0))
    for name in batch.schema.names:
        assert batch.column(name).to_pylist() == out.column(name).to_pylist(), name


def test_recursive_frames_nested_types():
    """list<string>/struct/map/deep nesting with nulls at every level."""
    import pyarrow as pa

    from orc_rs_spark.generic import decode_frame, encode_frame

    cases = [
        pa.array([["a", "bb", None], ["x"], None, [], ["zz", "q"]]),
        pa.array(
            [{"i": 1, "s": "x", "l": [1, 2]}, None, {"i": None, "s": "y", "l": []}],
            type=pa.struct([("i", pa.int64()), ("s", pa.string()), ("l", pa.list_(pa.int32()))]),
        ),
        pa.array([[("k1", 1.5)], [], None, [("z", -0.0)]], type=pa.map_(pa.string(), pa.float64())),
        pa.array(
            [[{"m": [("a", 1)]}, {"m": []}], None, [{"m": None}]],
            type=pa.list_(pa.struct([("m", pa.map_(pa.string(), pa.int64()))])),
        ),
        pa.array([[[1, None, 3], []], None, [[7]]], type=pa.list_(pa.list_(pa.int64()))),
    ]
    for arr in cases:
        out, consumed = decode_frame(encode_frame(arr), 0, len(arr), arr.type)
        assert out.equals(arr), arr.type
        assert consumed == len(encode_frame(arr))


def test_decimal38_two_word_mantissa():
    from decimal import Decimal

    import pyarrow as pa

    from orc_rs_spark.generic import decode_frame, encode_frame

    vals = [
        Decimal("1234567890123456789012345678.0123456789"),
        Decimal("-9876543210987654321098765432.1098765432"),
        None,
        Decimal("0"),
        Decimal("-0.0000000001"),
    ]
    arr = pa.array(vals, type=pa.decimal128(38, 10))
    out, _ = decode_frame(encode_frame(arr), 0, len(arr), arr.type)
    assert out.equals(arr)


def test_cut_nested_frame_raises_value_error():
    """A nested frame cut at ANY byte is a ValueError — never an
    IndexError from a header read past the end."""
    from decimal import Decimal

    from orc_rs_spark.generic import decode_frame, encode_frame

    arr = pa.array(
        [{"l": ["a", None], "m": [("k", 1)], "d": Decimal("1e20")}, None,
         {"l": None, "m": [], "d": None}] * 3,
        type=pa.struct([("l", pa.list_(pa.string())), ("m", pa.map_(pa.string(), pa.int64())),
                        ("d", pa.decimal128(38, 2))]),
    )
    buf = encode_frame(arr)
    assert decode_frame(buf, 0, len(arr), arr.type)[0].equals(arr)
    for cut in range(len(buf)):
        with pytest.raises(ValueError):
            decode_frame(buf[:cut], 0, len(arr), arr.type)


@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(st.one_of(st.none(), st.text(max_size=8)), max_size=5),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=30, deadline=None)
def test_frame_fuzz_list_of_strings(rows):
    import pyarrow as pa

    from orc_rs_spark.generic import decode_frame, encode_frame

    arr = pa.array(rows, type=pa.list_(pa.string()))
    out, _ = decode_frame(encode_frame(arr), 0, len(arr), arr.type)
    assert out.equals(arr)
