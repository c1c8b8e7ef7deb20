"""Point lookup by ``doc_id`` over a directory of ORC part files.

One in-process client walks the reader's own pruning path: stripe
statistics from each file's tail, row-group statistics and bloom filters
from the stripe index, then ``read_stripe`` of the surviving row groups.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.compute as pc

from orc_rs_spark.orcfile.reader import (
    FileSource,
    OrcFileReader,
    prune_stripes_stats,
    read_stripe_statistics,
)


class CountingSource(FileSource):
    """A file source that counts the bytes the reader asks for."""

    def __init__(self, path: str):
        super().__init__(path)
        self.bytes_read = 0

    def read_at(self, offset: int, length: int) -> bytes:
        data = super().read_at(offset, length)
        self.bytes_read += len(data)
        return data


class DocIndex:
    def __init__(self, orc_dir: str, count_bytes: bool = False):
        files = sorted(glob.glob(os.path.join(orc_dir, "*.orc")))
        if not files:
            raise ValueError(f"no ORC files in {orc_dir}")
        self.sources = [CountingSource(f) if count_bytes else f for f in files]
        self.readers = [OrcFileReader(s) for s in self.sources]
        self.stats = [read_stripe_statistics(r.source, r.tail) for r in self.readers]
        self.stripes_read = 0
        self.row_groups_read = 0

    def bytes_read(self) -> int:
        return sum(s.bytes_read for s in self.sources if isinstance(s, CountingSource))

    def lookup(self, doc_id: str) -> pa.Table:
        pred = [("doc_id", doc_id, doc_id)]
        hits = []
        for r, stats in zip(self.readers, self.stats):
            for i in prune_stripes_stats(r.tail, stats, pred):
                groups = r.prune_row_groups(i, "doc_id", doc_id, doc_id)
                if groups == []:
                    continue
                batch = r.read_stripe(i, row_groups=groups)
                self.stripes_read += 1
                if groups is not None:
                    self.row_groups_read += len(groups)
                hits.append(batch.filter(pc.equal(batch.column("doc_id"), doc_id)))
        return pa.Table.from_batches(hits) if hits else None
