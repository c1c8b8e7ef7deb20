"""Byte pins: the encoded bytes a refactor of the encoders must keep.

Each pin is the sha1 of bytes our encoders wrote for a fixed seed, taken
before a change that claims to keep them. The chunk pins cover the codec
tag and the raw (not block-compressed) bytes of every stream, so they do
not depend on the zlib build; the ORC pins cover whole files written with
``compression="none"``. A change that means to alter these bytes updates
the pin and says why.

Inputs come from the benchmark's own seeded generators
(``perfbench/workloads.py``), read only.
"""

from __future__ import annotations

import hashlib

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
