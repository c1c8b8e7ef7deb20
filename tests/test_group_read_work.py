"""Row-group reads cost what the selected groups hold.

A point read of one row group, on a file laid out like the benchmark's
lookup export (lm-corpus rows from ``perfbench/workloads.py``, read only;
256-row stripes, 32-row index stride, zlib), is checked by counting work:

- the block decoder inflates exactly the blocks between the group's
  recorded start and the next group's in every positioned stream, plus
  the stripe-global dictionary streams on the stripe's first read;
- the byte source serves no more than those stream ranges plus the gaps
  the reader's 64 KiB coalescing may bridge;
- each stripe's row positions are parsed, and its string dictionaries
  decoded, once, however often reads come back to it;
- where libdeflate is installed, no block goes through stdlib inflate.
"""

from __future__ import annotations

import zlib
from collections import Counter

import numpy as np
import pytest

from orc_rs_spark.kernels import blockcomp
from orc_rs_spark.orcfile import proto
from orc_rs_spark.orcfile import reader as reader_mod
from orc_rs_spark.orcfile.reader import FileSource, OrcFileReader
from orc_rs_spark.orcfile.writer import write_orc
from perfbench.workloads import lm_corpus

STRIPE_ROWS, STRIDE, ROWS = 256, 32, 1024
COALESCE = 64 * 1024


@pytest.fixture(scope="module")
def lm_file(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("groupwork") / "lm.orc")
    table = lm_corpus(7).slice(0, ROWS).sort_by("doc_id")
    write_orc(table, path, compression="zlib", stripe_rows=STRIPE_ROWS,
              row_index_stride=STRIDE, bloom_columns=["doc_id"])
    return path


class CountingSource(FileSource):
    def __init__(self, path):
        super().__init__(path)
        self.bytes_read = 0

    def read_at(self, offset, length):
        self.bytes_read += length
        return super().read_at(offset, length)


def _group_ranges(r: OrcFileReader, i: int, g: int) -> dict[tuple[int, str], tuple[int, int]]:
    """(data-region start, end) of every data stream's bytes for row group
    g of stripe i: from the group's recorded block offset to the next
    group's (the stream's end after the last group); streams with no
    positions (dictionaries) span whole."""
    stripe = r.tail.footer.stripes[i]
    sfooter = r._stripe_entry(i).footer
    rows = r.read_row_index(i)
    spans, pos = {}, -stripe.index_length
    for s in sfooter.streams:
        if pos >= 0:
            spans[(s.column, s.kind)] = (pos, pos + s.length)
        pos += s.length
    out = dict(spans)
    for col, entries in rows.items():
        layout = proto.stream_position_layout(r.tail.footer.types[col].kind,
                                              sfooter.columns[col].kind)
        at = 0
        for kind, extra in layout:
            if (col, kind) not in spans:
                continue
            lo, hi = spans[(col, kind)]
            start = entries[g].positions[at]
            end = entries[g + 1].positions[at] if g + 1 < len(entries) else hi - lo
            out[(col, kind)] = (lo + start, lo + end)
            at += 2 + extra  # compressed: block offset + decompressed skip
    return out


def _coalesced_bytes(ranges) -> int:
    merged: list[list[int]] = []
    for lo, hi in sorted(ranges):
        if merged and lo - merged[-1][1] <= COALESCE:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    return sum(hi - lo for lo, hi in merged)


@pytest.fixture
def inflated(monkeypatch):
    """Bytes the zlib block decoder has produced, as a one-item list."""
    real = blockcomp._DECODERS["zlib"]
    total = [0]

    def spy(block):
        out = real(block)
        total[0] += len(out)
        return out

    monkeypatch.setitem(blockcomp._DECODERS, "zlib", spy)
    return total


def _point_reads(r):
    n_stripes = len(r.tail.footer.stripes)
    return [(i, g) for i in range(n_stripes) for g in (0, 3, STRIPE_ROWS // STRIDE - 1)]


def _dict_streams(r: OrcFileReader, i: int) -> set[tuple[int, str]]:
    """Stripe i's dictionary streams (LENGTH and DICTIONARY_DATA of its
    dictionary-encoded columns)."""
    sfooter = r._stripe_entry(i).footer
    return {
        (s.column, s.kind) for s in sfooter.streams
        if s.kind in ("LENGTH", "DICTIONARY_DATA")
        and sfooter.columns[s.column].kind in ("DICTIONARY", "DICTIONARY_V2")
    }


def test_point_read_inflates_only_its_group(lm_file, inflated):
    r = OrcFileReader(lm_file)
    with open(lm_file, "rb") as f:
        data = f.read()
    seen = set()
    for i, g in _point_reads(r):
        stripe = r.tail.footer.stripes[i]
        data_off = stripe.offset + stripe.index_length
        ranges = _group_ranges(r, i, g)  # warms the stripe's footer and index
        if i in seen:  # the stripe's dictionaries are decoded already
            assert _dict_streams(r, i)
            for key in _dict_streams(r, i):
                del ranges[key]
        seen.add(i)
        inflated[0] = 0
        for lo, hi in ranges.values():
            blockcomp.block_decompress(data[data_off + lo : data_off + hi], "zlib")
        want = inflated[0]
        inflated[0] = 0
        batch = r.read_stripe(i, row_groups=[g])
        assert batch.num_rows == STRIDE
        assert inflated[0] == want, (i, g, inflated[0], want)


@pytest.mark.skipif(blockcomp._system_lib("deflate", blockcomp._bind_inflate) is None,
                    reason="the system has no libdeflate")
def test_group_read_inflates_without_stdlib_zlib(lm_file, monkeypatch):
    """Where libdeflate is installed it inflates every zlib block of a
    group read, the file tail's included: with stdlib inflate refusing,
    reads still return the written rows."""
    table = lm_corpus(7).slice(0, ROWS).sort_by("doc_id")

    def refuse(*args, **kwargs):
        raise AssertionError("stdlib zlib inflated a block")

    monkeypatch.setattr(zlib, "decompress", refuse)
    r = OrcFileReader(lm_file)
    for i, g in _point_reads(r):
        got = r.read_stripe(i, row_groups=[g])
        want = table.slice(i * STRIPE_ROWS + g * STRIDE, STRIDE)
        assert got.column("doc_id").to_pylist() == want.column("doc_id").to_pylist()
        assert got.column("tokens").to_pylist() == want.column("tokens").to_pylist()


def test_point_read_fetches_only_group_ranges(lm_file):
    src = CountingSource(lm_file)
    r = OrcFileReader(src)
    for i, g in _point_reads(r):
        ranges = _group_ranges(r, i, g)
        before = src.bytes_read
        r.read_stripe(i, row_groups=[g])
        got = src.bytes_read - before
        assert got <= _coalesced_bytes(ranges.values()), (i, g, got)
        assert got < r.tail.footer.stripes[i].data_length / 2, (i, g, got)


def test_positions_parsed_once_per_stripe(lm_file, monkeypatch):
    parsed = Counter()
    real = OrcFileReader._parse_row_positions

    def counting(self, i, rows):
        parsed[i] += 1
        return real(self, i, rows)

    monkeypatch.setattr(OrcFileReader, "_parse_row_positions", counting)
    r = OrcFileReader(lm_file)
    full = [r.read_stripe(i) for i in range(len(r.tail.footer.stripes))]
    rng = np.random.default_rng(11)
    visited = set()
    for _ in range(200):
        i = int(rng.integers(0, len(full)))
        g = int(rng.integers(0, STRIPE_ROWS // STRIDE))
        got = r.read_stripe(i, row_groups=[g])
        assert got.equals(full[i].slice(g * STRIDE, STRIDE))
        visited.add(i)
    assert parsed == Counter(dict.fromkeys(visited, 1))


def _count_dict_decodes(monkeypatch) -> Counter:
    """(stripe description, column) -> dictionary decodes, by spying on
    the column reader's dictionary build."""
    decodes = Counter()
    real = reader_mod._StripeColumnReader._dict_array

    def spy(self, col):
        if col not in self._dicts:
            decodes[(self.where, col)] += 1
        return real(self, col)

    monkeypatch.setattr(reader_mod._StripeColumnReader, "_dict_array", spy)
    return decodes


def test_dictionary_decoded_once_per_stripe(lm_file, monkeypatch):
    """200 random group reads through one reader decode each stripe's
    string dictionary once, fetch no dictionary stream after that, and
    return what a fresh reader returns."""
    n_stripes = len(OrcFileReader(lm_file).tail.footer.stripes)
    rng = np.random.default_rng(5)
    reads = [(int(rng.integers(0, n_stripes)), int(rng.integers(0, STRIPE_ROWS // STRIDE)))
             for _ in range(200)]
    want = [OrcFileReader(lm_file).read_stripe(i, row_groups=[g]) for i, g in reads]
    decodes = _count_dict_decodes(monkeypatch)
    src = CountingSource(lm_file)
    r = OrcFileReader(src)
    visited = set()
    for (i, g), expect in zip(reads, want):
        before = src.bytes_read
        got = r.read_stripe(i, row_groups=[g])
        if i in visited:
            ranges = _group_ranges(r, i, g)
            for key in _dict_streams(r, i):
                del ranges[key]
            assert src.bytes_read - before <= _coalesced_bytes(ranges.values())
        visited.add(i)
        assert got.equals(expect)
    assert decodes and set(decodes.values()) == {1}
    assert {where for where, _col in decodes} == {f"{lm_file} stripe {i}" for i in visited}


def test_evicted_dictionary_is_decoded_again(lm_file, monkeypatch):
    """With a metadata cache too small to keep two stripes, alternating
    reads evict and decode the dictionaries again, and rows stay right."""
    want = {i: OrcFileReader(lm_file).read_stripe(i, row_groups=[2]) for i in (0, 1)}
    decodes = _count_dict_decodes(monkeypatch)
    monkeypatch.setattr(reader_mod, "_STRIPE_META_BYTES", 1)
    r = OrcFileReader(lm_file)
    for i in (0, 1, 0, 1):
        assert r.read_stripe(i, row_groups=[2]).equals(want[i])
    assert decodes and set(decodes.values()) == {2}
