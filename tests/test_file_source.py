"""FileSource keeps one descriptor per source and reads with os.pread.

Opens are counted by shadowing ``open`` in the reader module, which is the
only call that gives a FileSource its descriptor; every file handed out is
kept, so a test can also see which are still open.
"""

from __future__ import annotations

import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pytest

from orc_rs_spark.orcfile import reader as reader_mod
from orc_rs_spark.orcfile.reader import FileSource, OrcFileReader, read_tail
from orc_rs_spark.orcfile.spark_source import scan_stripes
from orc_rs_spark.orcfile.writer import write_orc

ROWS, STRIPE_ROWS, STRIDE = 4096, 1024, 128


def _write(path: str, seed: int) -> str:
    rng = np.random.default_rng(seed)
    table = pa.table({
        "doc_id": pa.array(np.arange(ROWS, dtype=np.int64)),
        "v": pa.array(rng.integers(0, 1 << 20, ROWS)),
    })
    write_orc(table, path, stripe_rows=STRIPE_ROWS, row_index_stride=STRIDE)
    return path


@pytest.fixture(scope="module")
def orc_paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("filesource")
    return [_write(str(d / f"part-{k}.orc"), k) for k in range(2)]


@pytest.fixture
def opened(monkeypatch):
    """Every file the reader module opens, in order."""
    files = []

    def counting_open(*args, **kwargs):
        f = open(*args, **kwargs)
        files.append(f)
        return f

    monkeypatch.setattr(reader_mod, "open", counting_open, raising=False)
    return files


def test_point_reads_open_the_file_once(orc_paths, opened):
    r = OrcFileReader(orc_paths[0])
    want = r.read_all()
    groups = STRIPE_ROWS // STRIDE
    for k in np.random.default_rng(3).integers(0, ROWS // STRIDE, 200):
        i, g = divmod(int(k), groups)
        got = r.read_stripe(i, row_groups=[g])
        assert got.to_pydict() == want.slice(int(k) * STRIDE, STRIDE).to_pydict()
    assert len(opened) == 1
    r.close()
    assert opened[0].closed


def test_threads_read_one_source_at_once(orc_paths, opened):
    with open(orc_paths[0], "rb") as f:
        whole = f.read()
    rng = np.random.default_rng(4)
    ranges = [(int(o), int(n)) for o, n in zip(rng.integers(0, len(whole), 400),
                                                rng.integers(1, 8192, 400))]
    src = FileSource(orc_paths[0])
    start = threading.Barrier(8, timeout=30)

    def read(part):
        start.wait()  # every thread reaches the unopened source together
        return [src.read_at(o, n) for o, n in part]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads often, to expose a racing open
    try:
        with ThreadPoolExecutor(8) as ex:
            parts = list(ex.map(read, [ranges[t::8] for t in range(8)], timeout=60))
    finally:
        sys.setswitchinterval(interval)
    for t, got in enumerate(parts):
        assert got == [whole[o : o + n] for o, n in ranges[t::8]]
    assert len(opened) == 1
    src.close()


def test_read_after_close_reopens(orc_paths, opened):
    src = FileSource(orc_paths[0])
    head = src.read_at(0, 3)
    src.close()
    src.close()  # closing twice is harmless
    assert opened[0].closed
    assert src.read_at(0, 3) == head == b"ORC"
    assert len(opened) == 2 and not opened[1].closed
    src.close()


def test_reader_closes_only_a_source_it_opened(orc_paths, opened):
    own = OrcFileReader(orc_paths[0])
    own.close()
    assert len(opened) == 1 and opened[0].closed
    src = FileSource(orc_paths[0])
    r = OrcFileReader(src)
    r.close()
    assert not opened[1].closed  # the caller's source stays open
    assert r.read_stripe(0).num_rows == STRIPE_ROWS  # still usable
    src.close()


def test_tail_of_a_path_leaves_no_file_open(orc_paths, opened):
    read_tail(orc_paths[0])
    assert opened and all(f.closed for f in opened)


def test_scan_holds_at_most_one_open_file(orc_paths, opened):
    a, b = orc_paths
    work = [(a, 0), (a, 1), (b, 0), (a, 2), (b, 3), (b, 1)]
    n = 0
    for batch in scan_stripes(work, batch_rows=256):
        assert sum(not f.closed for f in opened) == 1
        n += batch.num_rows
    assert n == len(work) * STRIPE_ROWS
    assert all(f.closed for f in opened)
    # one open per visit: a revisit reopens the descriptor, the tail stays parsed
    assert len(opened) == 4
