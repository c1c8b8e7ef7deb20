"""ORC file reader: tail walk + stripe decode using the shared kernels.

Wire walk mirrors the reference (/root/reference/src/tail.rs:47-215): read
the last 16 KiB, postscript length from the final byte, postscript
protobuf, then the (possibly compressed) footer. Stripe decode follows the
public ORC v1 spec stream layout: per-stripe index region, data streams in
stripe-footer order, PRESENT bitmaps as boolean RLE, ints as RLEv1
(DIRECT, Hive 0.11) or RLEv2 (DIRECT_V2), strings direct or dictionary,
lists/maps via LENGTH streams, structs by recursion — the same reader
matrix as /root/reference/src/column_reader/*.

One per-kind decoder serves whole stripes and row groups: a group read
fetches and inflates each stream only between the selected groups'
positions, which come from the stripe's ROW_INDEX (read once per stripe
and shared with row-group pruning) and are parsed once per stripe.

Decompression: every codec goes through the one framing decoder and
codec table in kernels/blockcomp.py (stdlib zlib, pyarrow snappy, system
liblz4/libzstd, from-spec lzo); ``orc_stream_decompress`` is its
whole-stream form under the reader's name.
"""

from __future__ import annotations

import os
import sys
import threading
from collections import OrderedDict
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from orc_rs_spark.kernels.blockcomp import block_decompress as orc_stream_decompress
from orc_rs_spark.kernels.blockcomp import iter_blocks
from orc_rs_spark.kernels.byte_rle import byte_rle_decode
from orc_rs_spark.kernels.rlev1 import rlev1_decode
from orc_rs_spark.kernels.rlev2 import rlev2_decode
from orc_rs_spark.kernels.varint import varint_decode_zigzag128
from orc_rs_spark.orcfile import proto
from orc_rs_spark.orcfile.errors import (  # noqa: F401
    OrcBoundsError,
    OrcError,
    OrcFormatError,
    OrcUnsupportedError,
)

TAIL_BUFFER_SIZE = 16 * 1024

# seconds between 1970-01-01 and the ORC timestamp base 2015-01-01 (UTC)
TS_BASE_SECONDS = 1420070400


class FileSource:
    """Positional byte source over a local file (the reference's
    OrcFile/FileSource abstraction, src/source.rs:11-62). Every reader
    access is a bounded (offset, length) range read, so an object-store
    implementation (S3/GCS ranged GET) slots in with no reader changes:
    anything with ``size()`` and ``read_at()`` works.

    The file is opened on the first read and stays open until ``close()``;
    a read after ``close()`` opens it again. Reads go through ``os.pread``,
    which moves no shared offset, so threads may read one source at once
    (but must not race ``close()``)."""

    def __init__(self, path: str):
        self.path = path
        self._file = None
        self._opening = threading.Lock()

    def size(self) -> int:
        return os.path.getsize(self.path)

    def _fileno(self) -> int:
        f = self._file
        if f is None:
            with self._opening:
                if self._file is None:
                    self._file = open(self.path, "rb", buffering=0)
                f = self._file
        return f.fileno()

    def read_at(self, offset: int, length: int) -> bytes:
        fd = self._fileno()
        data = os.pread(fd, length, offset)
        while 0 < len(data) < length:  # a short read before end of file
            more = os.pread(fd, length - len(data), offset + len(data))
            if not more:
                break
            data += more
        return data

    def close(self) -> None:
        f, self._file = self._file, None
        if f is not None:
            f.close()


class MemorySource:
    """In-memory byte source (reference MemoryReader, src/source.rs:114-174)."""

    def __init__(self, data: bytes):
        self.data = data
        self.path = "<memory>"

    def size(self) -> int:
        return len(self.data)

    def read_at(self, offset: int, length: int) -> bytes:
        return self.data[offset : offset + length]

    def close(self) -> None:
        pass


def as_source(src):
    """str path / bytes / any size()+read_at() object -> byte source."""
    if isinstance(src, (bytes, bytearray, memoryview)):
        return MemorySource(bytes(src))
    if hasattr(src, "read_at") and hasattr(src, "size"):
        return src
    return FileSource(src)


@contextmanager
def opened_source(src):
    """``as_source(src)`` for a with-block: a source made here from a path
    or bytes is closed on exit, a source passed in is left open."""
    source = as_source(src)
    try:
        yield source
    finally:
        if source is not src:
            source.close()


class RowIndexUnsupported(Exception):
    """Positional row-group decode not possible for this stripe/column;
    callers fall back to full-stripe decode (correctness preserved)."""


def decompress_from(data, codec: str, chunk_off: int, skip: int, min_bytes: int,
                    end: int | None = None):
    """Decompress an ORC-framed stream starting at block boundary
    ``chunk_off``, dropping ``skip`` decompressed bytes — the positional
    read behind row-group decode. With ``end`` (a block boundary, e.g. the
    next row group's clean start) it inflates exactly the blocks in
    ``[chunk_off, end)``; without, it stops as soon as ``min_bytes`` of
    useful output exist (a bound for positions that end mid-block)."""
    if codec == "none":
        return memoryview(data)[chunk_off + skip : end]
    if end is not None:
        blocks = iter_blocks(memoryview(data)[:end], codec, chunk_off)
        return memoryview(b"".join(blocks))[skip:]
    out = []
    got = 0
    need = skip + min_bytes
    if need > 0:
        for piece in iter_blocks(data, codec, chunk_off):
            out.append(piece)
            got += len(piece)
            if got >= need:
                break
    return memoryview(b"".join(out))[skip:]


@dataclass
class OrcTail:
    postscript: proto.PostScript
    footer: proto.Footer
    file_length: int

    @property
    def schema_names(self) -> list[str]:
        return list(self.footer.types[0].field_names)


def read_tail(path) -> OrcTail:
    """Parse the file tail from a path, bytes, or byte source — one
    speculative 16 KiB range read (reference src/tail.rs:38,52-59), plus a
    second ranged read only when the footer outgrows the speculation."""
    with opened_source(path) as src:
        file_len = src.size()
        read_pos = max(0, file_len - TAIL_BUFFER_SIZE)
        buf = src.read_at(read_pos, file_len - read_pos)
        if not buf:
            raise OrcFormatError("empty ORC file")
        ps_len = buf[-1]
        ps = proto.PostScript.parse(buf[len(buf) - 1 - ps_len : len(buf) - 1])
        if ps.magic != "ORC":
            raise OrcFormatError(f"invalid postscript magic {ps.magic!r}")
        tail_size = ps.footer_length + ps_len + 1
        if tail_size >= file_len:
            raise OrcFormatError(f"invalid tail size {tail_size} >= file size {file_len}")
        if ps.footer_length <= len(buf) - 1 - ps_len:
            footer_comp = buf[len(buf) - 1 - ps_len - ps.footer_length : len(buf) - 1 - ps_len]
        else:
            footer_comp = src.read_at(file_len - tail_size, ps.footer_length)
    footer = proto.Footer.parse(orc_stream_decompress(footer_comp, ps.compression))
    if footer.encrypted:
        raise OrcUnsupportedError(
            "encrypted ORC files are not supported (footer carries an "
            "Encryption section; reference rejects these too, "
            "src/tail.rs:86-88)"
        )
    return OrcTail(postscript=ps, footer=footer, file_length=file_len)


def map_files(fn, files: list) -> list:
    """``[fn(f) for f in files]`` through a thread pool of up to 32
    workers: per-file tail and Metadata reads are I/O-bound and release
    the GIL, so the pool hides their latency on the driver."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=max(1, min(32, len(files)))) as ex:
        return list(ex.map(fn, files))


def read_stripe_statistics(path, tail: OrcTail | None = None) -> list[list[proto.ColumnStatistics]]:
    """Per-stripe column statistics from the file's Metadata section —
    the pruning index the reference parses but never uses
    (/root/reference/src/tail.rs:113-132, src/stripe.rs:171 TODO).
    Returns stats[stripe][column]; empty list when the section is absent."""
    with opened_source(path) as src:
        if tail is None:
            tail = read_tail(src)
        ps = tail.postscript
        if ps.metadata_length == 0:
            return []
        file_len = src.size()
        ps_len = src.read_at(file_len - 1, 1)[0]
        meta_off = file_len - ps_len - 1 - ps.footer_length - ps.metadata_length
        raw = src.read_at(meta_off, ps.metadata_length)
    meta = proto.decode_fields(orc_stream_decompress(raw, ps.compression))
    out = []
    for ss in meta.get(1, []):  # repeated StripeStatistics
        cols = proto.decode_fields(ss)
        out.append([proto.ColumnStatistics.parse(x) for x in cols.get(1, [])])
    return out


def _stats_overlap(st: proto.ColumnStatistics, lo, hi) -> bool:
    """True when the stats' [min, max] MAY intersect [lo, hi] (missing
    stats always overlap — pruning must only skip proven-empty ranges).
    Either bound may be None = unbounded on that side (one-sided ranges,
    e.g. a pushed-down ``col > v``). Date bounds compare in epoch days,
    timestamps in UTC millis; python date/datetime predicate values are
    converted accordingly."""
    import datetime as _dt

    if st.int_min is not None:
        smin, smax = st.int_min, st.int_max
    elif st.double_min is not None:
        smin, smax = st.double_min, st.double_max
    elif st.ts_min is not None:
        smin, smax = st.ts_min, st.ts_max

        def _ms(v):
            if isinstance(v, _dt.datetime):
                if v.tzinfo is None:
                    v = v.replace(tzinfo=_dt.timezone.utc)
                return int(v.timestamp() * 1000)
            return v

        lo, hi = _ms(lo), _ms(hi)
    elif st.date_min is not None:
        smin, smax = st.date_min, st.date_max

        def _days(v):
            if isinstance(v, _dt.datetime):
                v = v.date()
            if isinstance(v, _dt.date):
                return (v - _dt.date(1970, 1, 1)).days
            return v

        lo, hi = _days(lo), _days(hi)
    else:
        smin, smax = st.string_min, st.string_max
    if smin is None or smax is None:
        return True
    try:
        return not ((lo is not None and smax < lo) or (hi is not None and smin > hi))
    except TypeError:
        # type-mismatched predicate (e.g. string bounds against an int
        # column): keep everything rather than abort the scan — pruning
        # may only skip PROVEN-empty ranges
        return True


def _bloom_test(bloom, value, kind: str | None = None) -> bool:
    """Bloom probe matching the Java writer's hashing, dispatched by the
    COLUMN kind (the writer hashed by column type, so the probe value must
    be coerced the same way — an int probe against a double column's bloom
    must hash doubleToLongBits(float(v)), not ThomasWang(v)); falls back
    to python-type dispatch when the kind is unknown. Ints/dates via the
    Thomas Wang mix, floats via doubleToLongBits -> long hash,
    strings/bytes via Murmur3 hash64."""
    import datetime as _dt
    import struct as _s

    if isinstance(value, bool):
        return True  # boolean columns carry no blooms
    if kind in ("float", "double"):
        if isinstance(value, (int, float, np.integer, np.floating)):
            value = float(value)
        else:
            return True
    elif kind in ("byte", "short", "int", "long"):
        if isinstance(value, (float, np.floating)):
            if not float(value).is_integer():
                return True  # non-integral value can't be in an int column
            value = int(value)
    elif kind == "date":
        if isinstance(value, _dt.datetime):
            value = value.date()
        if isinstance(value, _dt.date):
            value = (value - _dt.date(1970, 1, 1)).days
    if isinstance(value, (int, np.integer)):
        return bloom.test_long(int(value))
    if isinstance(value, (float, np.floating)):
        return bloom.test_long(_s.unpack("<q", _s.pack("<d", float(value)))[0])
    if isinstance(value, str):
        return bloom.test_bytes(value.encode("utf-8"))
    if isinstance(value, (bytes, bytearray)):
        return bloom.test_bytes(bytes(value))
    return True  # unknown type: never prune on a guess


def _group_may_match(form: tuple, st, bloom, kind: str) -> bool:
    """May a row group with index statistics ``st`` and bloom filter
    ``bloom`` (either None when absent) hold a row matching one
    normalized predicate — ("range", col, lo, hi), ("in", col, values)
    or ("null", col, want_null)? Blooms only answer point probes."""
    if form[0] == "null":
        if st is None:
            return True
        if form[2]:
            return st.has_null is None or st.has_null
        return st.number_of_values is None or st.number_of_values > 0
    if form[0] == "range":
        _, _, lo, hi = form
        if st is not None and not _stats_overlap(st, lo, hi):
            return False
        if bloom is None or lo is None or lo != hi:
            return True
        return _bloom_test(bloom, lo, kind)
    values = form[2]
    if st is not None and not any(_stats_overlap(st, v, v) for v in values):
        return False
    return bloom is None or any(_bloom_test(bloom, v, kind) for v in values)


def resolve_column_path(types: list, name: str) -> int | None:
    """ORC column id for a possibly-nested path: top-level names, struct
    fields by name, list elements as ``col.item`` (or ``.element``), map
    sides as ``col.key`` / ``col.value``. None when the path doesn't
    resolve — pruning then simply keeps everything."""
    cur = types[0]
    cid = 0
    for part in name.split("."):
        kind = cur.kind
        if kind == "struct":
            if part not in cur.field_names:
                return None
            cid = cur.subtypes[cur.field_names.index(part)]
        elif kind == "list" and part in ("item", "element"):
            cid = cur.subtypes[0]
        elif kind == "map" and part in ("key", "value"):
            cid = cur.subtypes[0 if part == "key" else 1]
        else:
            return None
        cur = types[cid]
    return cid


def _runs(sorted_ids: list[int]) -> list[tuple[int, int]]:
    """Collapse a sorted id list into (start, length) consecutive runs."""
    runs: list[tuple[int, int]] = []
    for g in sorted_ids:
        if runs and g == runs[-1][0] + runs[-1][1]:
            runs[-1] = (runs[-1][0], runs[-1][1] + 1)
        else:
            runs.append((g, 1))
    return runs


def schema_signature(tail: OrcTail) -> tuple:
    """Hashable signature of the full type tree — every field that
    affects decode or rendering, including varchar/char maximum_length.
    The single source of truth for both the scan's mixed-schema gate and
    merge's compatibility check (drift between two copies would let one
    path combine files the other refuses)."""
    return tuple(
        (t.kind, tuple(t.subtypes), tuple(t.field_names), t.precision, t.scale,
         t.maximum_length)
        for t in tail.footer.types
    )


def predicate_form(p: tuple) -> tuple:
    """Normalize one scan predicate: ``(col, lo, hi)`` -> ("range", col,
    lo, hi); ``(col, values)`` with a list/tuple/set/ndarray -> ("in",
    col, list(values)) — the IN-list shape a semi-join pushdown produces."""
    if len(p) == 3:
        return ("range", p[0], p[1], p[2])
    if len(p) == 2 and isinstance(p[1], (list, tuple, set, frozenset, np.ndarray)):
        return ("in", p[0], list(p[1]))
    raise ValueError(
        f"predicate must be (column, lo, hi) or (column, values-list); got {p!r}"
    )


def prune_stripes_stats(tail: OrcTail, stats: list, predicates: list[tuple]) -> list[int]:
    """Stripe indices that MAY satisfy every predicate — ``(column, lo,
    hi)`` ranges and ``(column, values)`` IN-lists — from pre-parsed
    stripe statistics: the Metadata section is read and parsed ONCE per
    file however many predicates the scan carries. Falls back to all
    stripes when statistics are missing or malformed."""
    n = len(tail.footer.stripes)
    if not stats or len(stats) != n:
        return list(range(n))
    keep = set(range(n))
    for p in predicates:
        form = predicate_form(p)
        column = form[1]
        col_id = resolve_column_path(tail.footer.types, column)
        if col_id is None:
            continue
        if form[0] == "range":
            _, _, lo, hi = form

            def hit(st):
                return _stats_overlap(st, lo, hi)
        else:
            vals = form[2]
            if not vals:
                return []

            def hit(st):
                return any(_stats_overlap(st, v, v) for v in vals)

        keep = {
            i for i in keep
            if col_id >= len(stats[i]) or hit(stats[i][col_id])
        }
    return sorted(keep)


def prune_stripes(path: str, column: str, lo, hi, tail: OrcTail | None = None) -> list[int]:
    """Stripe indices whose [min, max] for ``column`` overlaps [lo, hi].
    Falls back to all stripes when stripe statistics are missing."""
    if tail is None:
        tail = read_tail(path)
    stats = read_stripe_statistics(path, tail)
    return prune_stripes_stats(tail, stats, [(column, lo, hi)])


def _scatter(dense: pa.Array, present: np.ndarray | None) -> pa.Array:
    if present is None:
        return dense
    idx = np.full(len(present), -1, dtype=np.int64)
    idx[present] = np.arange(len(dense))
    return dense.take(pa.array(idx, mask=~present))


def _parse_nanos(v: np.ndarray) -> np.ndarray:
    """ORC SECONDARY nano encoding: low 3 bits = trailing-zero marker z;
    if z != 0 the value is (v >> 3) * 10^(z+1) (ORC v1 spec, timestamps)."""
    zeros = (v & 7).astype(np.int64)
    base = v >> 3
    mult = np.where(zeros != 0, 10 ** (zeros + 1), 1)
    return base * mult


class _StripeColumnReader:
    """Decodes one stripe's data streams. ``read_column(col, n, groups)``
    reads ``n`` values from the start of the column's streams (``groups``
    None) or from the first of the consecutive row groups ``groups`` (a
    ``range``), one per-kind decoder over four stream accessors
    (PRESENT/boolean bits, byte RLE, ints, raw bytes) — the row-group skip
    the reference left as a TODO (src/stripe.rs:171).

    A group read seeks each stream to the group's cursor and, when the
    cursor of ``groups.stop`` is a clean start (a block boundary with no
    decompressed, value or bit skip, as our writer records every group),
    inflates exactly the blocks between the two; otherwise (a mid-block
    position, e.g. from the JVM writer, or a boolean stream whose next
    group starts mid-byte) it inflates until a size bound of the values
    is met. ``streams`` may hold only a byte range of each stream, starting
    at stream offset ``bases[key]``; ``where`` names the stripe in errors.
    ``dicts`` holds the stripe's decoded string dictionaries by column: a
    column found there needs no dictionary streams, and one decoded here
    is added to it and reported to ``on_dict(nbytes)``."""

    def __init__(self, streams: dict[tuple[int, str], bytes],
                 sfooter: proto.StripeFooter, types: list[proto.OrcType], codec: str,
                 where: str = "", positions: dict[int, dict] | None = None,
                 bases: dict[tuple[int, str], int] | None = None,
                 dicts: dict[int, pa.Array] | None = None, on_dict=lambda nbytes: None):
        self.types = types
        self.codec = codec
        self.encodings = sfooter.columns
        self.streams = streams
        self.where = where
        # col -> {stream kind: cursors}, see _column_cursors
        self.positions = positions or {}
        self.bases = bases or {}
        self._dicts = {} if dicts is None else dicts
        self._on_dict = on_dict

    def _corrupt(self, col: int, kind: str, msg: str) -> OrcFormatError:
        return OrcFormatError(f"{self.where} column {col} stream {kind}: {msg}")

    # ---------------------------------------------------- stream accessors

    def _skips(self, col: int, kind: str, groups: range | None) -> tuple[int, int]:
        """Value skips at the first group's cursor in stream (col, kind):
        (values, 0) for RLE streams, (bytes, bits) for bit streams; zero
        from a stream's start."""
        if groups is None or (col, kind) not in self.streams:
            return 0, 0
        cursor = self.positions[col][kind][groups.start]
        return cursor[2], cursor[3]

    def _data(self, col: int, kind: str, groups: range | None, min_bytes: int = 0):
        """Decompressed bytes of stream (col, kind): the whole stream when
        ``groups`` is None, else from the first group's cursor up to the
        next group's clean start (or, failing that, until ``min_bytes``
        are out). An absent stream reads as empty."""
        raw = self.streams.get((col, kind))
        if raw is None:
            return b""
        if groups is None:
            return orc_stream_decompress(raw, self.codec)
        cursors = self.positions[col][kind]
        start, end = cursors[groups.start], _clean_start(cursors[groups.stop])
        base = self.bases.get((col, kind), 0)
        try:
            return decompress_from(raw, self.codec, start[0] - base, start[1], min_bytes,
                                   None if end is None else end - base)
        except OrcFormatError as e:
            raise self._corrupt(col, kind, str(e)) from e

    @staticmethod
    def _byte_rle_bound(need: int, groups: range | None) -> int:
        """Encoded bytes that hold ``need`` byte-RLE values: a literal
        header per 128 values, plus one per row group, since a writer may
        restart runs at every group."""
        return need + need // 128 + 4 + len(groups or ())

    def _bits(self, col: int, kind: str, n: int, groups: range | None) -> np.ndarray:
        """n booleans of a bit-packed byte-RLE stream (PRESENT, boolean DATA)."""
        byte_skip, bit_skip = self._skips(col, kind, groups)
        need = byte_skip + (bit_skip + n + 7) // 8
        buf = self._data(col, kind, groups, self._byte_rle_bound(need, groups))
        try:
            bys = byte_rle_decode(np.frombuffer(buf, dtype=np.uint8), need)
        except ValueError as e:
            raise self._corrupt(col, kind, str(e)) from e
        return np.unpackbits(bys[byte_skip:])[bit_skip : bit_skip + n].astype(bool)

    def _bytes(self, col: int, n: int, groups: range | None) -> np.ndarray:
        """n values of the byte-RLE DATA stream (byte columns, union tags)."""
        skip = self._skips(col, "DATA", groups)[0]
        need = skip + n
        buf = self._data(col, "DATA", groups, self._byte_rle_bound(need, groups))
        try:
            return byte_rle_decode(np.frombuffer(buf, dtype=np.uint8), need)[skip:]
        except ValueError as e:
            raise self._corrupt(col, "DATA", str(e)) from e

    def _ints(self, col: int, kind: str, n: int, groups: range | None,
              signed: bool) -> np.ndarray:
        """n integers of stream (col, kind): RLEv2 under the *_V2
        encodings, RLEv1 (Hive 0.11) otherwise."""
        skip = self._skips(col, kind, groups)[0]
        total = skip + n
        b = np.frombuffer(self._data(col, kind, groups, total * 11 + 32), dtype=np.uint8)
        v2 = self.encodings[col].kind in ("DIRECT_V2", "DICTIONARY_V2")
        try:
            vals = (rlev2_decode if v2 else rlev1_decode)(b, total, signed=signed)
        except ValueError as e:
            raise self._corrupt(col, kind, str(e)) from e
        return vals[skip:]

    def _raw(self, col: int, kind: str, nbytes: int, groups: range | None):
        """The first ``nbytes`` bytes of stream (col, kind) from the first
        group's cursor (strings, floats); a shorter stream is corrupt."""
        data = memoryview(self._data(col, kind, groups, nbytes))
        if len(data) < nbytes:
            raise self._corrupt(col, kind, f"{len(data)} bytes where {nbytes} are needed")
        return data[:nbytes]

    def _decimal_dense(self, buf, n_dense: int, scales: np.ndarray,
                       t: proto.OrcType) -> pa.Array:
        """Dense decimal column from the DATA varint stream + SECONDARY
        scales. Fast path: whole-array zigzag-i128 varint decode straight
        into pyarrow's decimal128 two-word buffer layout — no per-value
        Python (the reference loops per value,
        src/column_reader/numeric_reader.rs:314-383). Falls back to the
        python-int path only for Hive-0.11 unbounded decimals or files
        whose per-value scales differ from the column scale (both need
        per-value rescaling/rounding)."""
        prec = t.precision or 38
        scale = t.scale
        if t.precision == 0:  # Hive 0.11 unbounded decimal: per-value scale
            scale = int(scales.max()) if len(scales) else 0
        elif n_dense == 0 or bool((scales == scale).all()):
            lo, hi, _ = varint_decode_zigzag128(
                np.frombuffer(buf, dtype=np.uint8), n_dense
            )
            words = np.empty((n_dense, 2), dtype=np.uint64)
            words[:, 0] = lo
            words[:, 1] = hi
            return pa.Array.from_buffers(
                pa.decimal128(max(prec, 1), scale), n_dense,
                [None, pa.py_buffer(words.tobytes())],
            )
        from decimal import Decimal

        mantissas = self._varint_bigints(bytes(buf), n_dense)
        vals = [
            Decimal(m).scaleb(-int(s)).quantize(Decimal(1).scaleb(-scale))
            for m, s in zip(mantissas, scales)
        ]
        return pa.array(vals, type=pa.decimal128(max(prec, 1), scale))

    def _varint_bigints(self, buf: bytes, n: int) -> list[int]:
        """n zigzag base-128 varints of unbounded width (decimal mantissas,
        reference: src/column_reader/decimal_reader via numeric_reader i128)."""
        out = []
        pos = 0
        mv = memoryview(buf)
        for _ in range(n):
            result = 0
            shift = 0
            while True:
                byte = mv[pos]
                pos += 1
                result |= (byte & 0x7F) << shift
                if not (byte & 0x80):
                    break
                shift += 7
            out.append((result >> 1) ^ -(result & 1))
        return out

    def _dict_array(self, col: int) -> pa.Array:
        """Stripe-global string dictionary (materialized once per column)."""
        if col not in self._dicts:
            dict_size = self.encodings[col].dictionary_size
            dlen = self._ints(col, "LENGTH", dict_size, None, signed=False)
            doffsets = np.concatenate(([0], np.cumsum(dlen))).astype(np.int64)
            # copied: the kept dictionary must not hold the fetched range
            dbuf = bytes(self._raw(col, "DICTIONARY_DATA", int(doffsets[-1]), None))
            arr = self._dicts[col] = pa.Array.from_buffers(
                pa.string(), dict_size,
                [None, pa.py_buffer(doffsets.astype(np.int32).tobytes()), pa.py_buffer(dbuf)],
            )
            self._on_dict(arr.nbytes)
        return self._dicts[col]

    # ------------------------------------------------------------- decode

    def read_column(self, col: int, n: int, groups: range | None = None) -> pa.Array:
        """``n`` values of column ``col`` from its streams' start, or from
        the first of the consecutive row groups ``groups``."""
        t = self.types[col]
        kind = t.kind
        present = None
        if n and (col, "PRESENT") in self.streams:
            present = self._bits(col, "PRESENT", n, groups)
        n_dense = int(present.sum()) if present is not None else n

        if kind == "struct":
            children = [self.read_column(sub, n_dense, groups) for sub in t.subtypes]
            dense = pa.StructArray.from_arrays(children, names=t.field_names)
            return _scatter(dense, present)

        if kind == "union":
            # ORC union (R13 — present but never wired in the reference,
            # /root/reference/src/column_reader/mod.rs:265): DIRECT byte-RLE
            # TAG stream; each child stream holds only its rows, in order,
            # and a group read seeks each child through its own index entry
            tags = self._bytes(col, n_dense, groups).astype(np.int8)
            counts = np.bincount(tags, minlength=len(t.subtypes))
            children = [
                self.read_column(sub, int(counts[ci]), groups) for ci, sub in enumerate(t.subtypes)
            ]
            # dense-union offsets: running index within each child
            offsets = np.zeros(n_dense, dtype=np.int32)
            for ci in range(len(t.subtypes)):
                sel = tags == ci
                offsets[sel] = np.arange(int(counts[ci]), dtype=np.int32)
            dense = pa.UnionArray.from_dense(
                pa.array(tags), pa.array(offsets), children
            )
            if present is not None:
                raise ValueError("nullable union columns not supported")
            return dense

        if kind in ("list", "map"):
            lengths = self._ints(col, "LENGTH", n_dense, groups, signed=False)
            n_child = int(lengths.sum())
            offsets = pa.array(np.concatenate(([0], np.cumsum(lengths))).astype(np.int32))
            if kind == "list":
                child = self.read_column(t.subtypes[0], n_child, groups)
                dense = pa.ListArray.from_arrays(offsets, child)
            else:
                keys = self.read_column(t.subtypes[0], n_child, groups)
                vals = self.read_column(t.subtypes[1], n_child, groups)
                dense = pa.MapArray.from_arrays(offsets, keys, vals)
            return _scatter(dense, present)

        if kind == "boolean":
            return _scatter(pa.array(self._bits(col, "DATA", n_dense, groups)), present)
        if kind == "byte":
            return _scatter(pa.array(self._bytes(col, n_dense, groups).astype(np.int8)), present)
        if kind in ("short", "int", "long", "date"):
            vals = self._ints(col, "DATA", n_dense, groups, signed=True)
            if kind == "short":
                arr = pa.array(vals.astype(np.int16))
            elif kind == "int":
                arr = pa.array(vals.astype(np.int32))
            elif kind == "date":
                arr = pa.array(vals.astype(np.int32)).cast(pa.date32())
            else:
                arr = pa.array(vals)
            return _scatter(arr, present)
        if kind in ("float", "double"):
            dtype = np.dtype("<f4" if kind == "float" else "<f8")
            data = self._raw(col, "DATA", n_dense * dtype.itemsize, groups)
            return _scatter(pa.array(np.frombuffer(data, dtype=dtype)), present)
        if kind in ("string", "varchar", "char", "binary"):
            out_type = pa.binary() if kind == "binary" else pa.string()
            if self.encodings[col].kind in ("DICTIONARY", "DICTIONARY_V2"):
                dictionary = self._dict_array(col)
                idx = self._ints(col, "DATA", n_dense, groups, signed=False)
                dense = dictionary.take(pa.array(idx))
                if kind == "binary":
                    dense = dense.cast(pa.binary())
                return _scatter(dense, present)
            lengths = self._ints(col, "LENGTH", n_dense, groups, signed=False)
            offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int32)
            data = self._raw(col, "DATA", int(offsets[-1]), groups)
            dense = pa.Array.from_buffers(
                out_type, n_dense,
                [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data)],
            )
            return _scatter(dense, present)
        if kind in ("timestamp", "timestamp_instant"):
            secs = self._ints(col, "DATA", n_dense, groups, signed=True)
            nanos = _parse_nanos(self._ints(col, "SECONDARY", n_dense, groups, signed=False))
            # JVM convention (calibrated against Spark's ORC writer): the
            # seconds stream is trunc-toward-zero, nanos are the positive
            # fraction; pre-1970 (ABSOLUTE seconds < 0) values with nanos
            # step back one second. Fractional values in (-1s, 0) are
            # lossy (+1s) in the JVM reader too — bug-compatible on purpose.
            abs_secs = secs + TS_BASE_SECONDS
            epoch = abs_secs * 1_000_000_000
            neg = (abs_secs < 0) & (nanos != 0)
            epoch = epoch + nanos - np.where(neg, 1_000_000_000, 0)
            arr = pa.array(epoch).cast(pa.timestamp("ns", tz="UTC" if kind == "timestamp_instant" else None))
            return _scatter(arr, present)
        if kind == "decimal":
            data = self._data(col, "DATA", groups, 19 * n_dense + 32)
            if np.count_nonzero(np.frombuffer(data, dtype=np.uint8) < 0x80) < n_dense:
                raise self._corrupt(col, "DATA", f"fewer than {n_dense} decimal varints")
            scales = self._ints(col, "SECONDARY", n_dense, groups, signed=True)
            return _scatter(self._decimal_dense(data, n_dense, scales, t), present)
        raise OrcUnsupportedError(f"unsupported ORC type {kind!r} (column {col})")


def _clean_start(cursor: tuple) -> int | None:
    """The block offset of a cursor that starts a block with nothing to
    skip (every earlier value lies in earlier blocks); None for a
    mid-block, mid-run or mid-byte cursor."""
    return None if cursor[1] or cursor[2] or cursor[3] else cursor[0]


def _column_cursors(col: int, kind: str, encoding: str, entries: list | None,
                    n_groups: int, lengths: dict, comp: bool, where: str) -> dict[str, list]:
    """Column ``col``'s row-group cursors: {stream kind: cursors}, where
    ``cursors[g]`` is ``(block offset, decompressed skip, value skip, bit
    skip)`` at group g's start, and one more entry, the stream's length,
    ends the last group. Each index entry's flat position list splits by
    the canonical stream order (``proto.stream_position_layout``) over the
    streams the stripe holds (``lengths``). Every entry is checked: a
    missing index, or an entry or slot count that does not fit, raises
    RowIndexUnsupported; a block offset past the stream's end or before
    the previous group's start raises OrcFormatError."""
    if not entries:
        raise RowIndexUnsupported(f"column {col}: no ROW_INDEX stream")
    if len(entries) != n_groups:
        raise RowIndexUnsupported(
            f"column {col}: {len(entries)} index entries for {n_groups} row groups"
        )
    try:
        layout = proto.stream_position_layout(kind, encoding)
    except ValueError as e:
        raise RowIndexUnsupported(str(e)) from None
    slots = [(k, (2 if comp else 1) + extra) for k, extra in layout if (col, k) in lengths]
    width = sum(n for _, n in slots)
    cursors: dict[str, list] = {k: [] for k, _ in slots}
    for e in entries:
        flat = e.positions
        if len(flat) != width:
            raise RowIndexUnsupported(f"column {col}: {len(flat)} position slots, expected {width}")
        at = 0
        for k, n in slots:
            vals = tuple(flat[at : at + n]) if comp else (flat[at], 0, *flat[at + 1 : at + n])
            cursors[k].append(vals + (0,) * (4 - len(vals)))
            at += n
    for k, cs in cursors.items():
        end = lengths[(col, k)]
        prev = 0
        for g, c in enumerate(cs):
            if not prev <= c[0] <= end:
                raise OrcFormatError(
                    f"{where} column {col} stream {k}: row group {g} starts at byte "
                    f"{c[0]}, outside [{prev}, {end}]"
                )
            prev = c[0]
        cs.append((end, 0, 0, 0))
    return cursors


# bytes of stripe footers and index regions (as stored, plus 8 bytes per
# parsed position slot) one reader keeps parsed; a lookup file's whole
# index fits, so random point reads parse each stripe's metadata once
_STRIPE_META_BYTES = 8 << 20
# a dictionary-encoded string column's dictionary streams
_DICT_STREAMS = ("LENGTH", "DICTIONARY_DATA")


@dataclass
class _StripeMeta:
    footer: proto.StripeFooter
    index: tuple | None = None  # (row_index, bloom_index) once parsed
    # col -> {stream kind: cursors} or the error a group read raises, once
    # parsed from ``index`` (see _column_cursors)
    positions: dict | None = None
    # col -> decoded string dictionary, filled by the stripe's reads
    dicts: dict = field(default_factory=dict)
    nbytes: int = 0  # bytes charged against _STRIPE_META_BYTES


class OrcFileReader:
    """Reads a whole ORC file (or selected stripes) into pyarrow batches.

    Accepts a local path, raw bytes, or any positional byte source with
    ``size()``/``read_at()`` (src/source.rs parity) — every access is a
    bounded range read, never a whole-file scan, so at 100 TB on object
    storage each task pulls only its stripes' byte ranges."""

    def __init__(self, path):
        self.source = as_source(path)
        self._owns_source = self.source is not path
        self.path = getattr(self.source, "path", "<source>")
        self.tail = read_tail(self.source)
        self.codec = self.tail.postscript.compression
        # parsed stripe footers and (row_index, blooms) per stripe, least
        # recently used first: a conjunctive scan probes the same stripe
        # once per predicate, and point lookups come back to a file's
        # stripes at random, so each stripe's footer and index region are
        # read and parsed once while they fit _STRIPE_META_BYTES
        self._stripe_meta: OrderedDict[int, _StripeMeta] = OrderedDict()
        self._stripe_meta_bytes = 0

    def close(self) -> None:
        """Close the source if this reader opened it (a path or bytes); a
        source passed in is the caller's to close. The parsed tail and
        stripe metadata stay cached, and a later read reopens the file."""
        if self._owns_source:
            self.source.close()

    def _column_subtree(self, col: int, out: set[int]) -> None:
        out.add(col)
        for sub in self.tail.footer.types[col].subtypes:
            self._column_subtree(sub, out)

    def _open_stripe(self, i: int, columns: list[str] | None = None,
                     runs: list[tuple[int, int]] | None = None):
        """Open one stripe, reading ONLY the selected columns' data-stream
        byte ranges (coalesced when closer than 64 KiB) — column pruning
        at the I/O level, the byte-range analogue of the reference's
        per-stream range readers (src/compression.rs:39-56,
        src/io_utils.rs:237-281). A full-stripe, full-schema read stays
        one contiguous range. With ``runs`` (``(first group, count)``
        pairs, ascending) each positioned stream is read from the first
        run's start to the last run's end — the next group's offset when
        that is a clean start, else the stream's end; dictionary streams
        are read whole, unless the stripe's cached metadata already holds
        the decoded dictionary (then they are not read at all). Raises
        RowIndexUnsupported when the index cannot locate the groups (the
        caller reads the stripe whole instead)."""
        stripe = self.tail.footer.stripes[i]
        data_off = stripe.offset + stripe.index_length
        entry = self._stripe_entry(i)
        sfooter = entry.footer
        _names, subs = self._select(columns)
        positions = None if runs is None else self._group_positions(i, subs)
        # data-stream layout: (offset-in-data-region, length) in footer order
        spans = []
        pos = -stripe.index_length
        for s in sfooter.streams:
            if pos >= 0:
                spans.append((s, pos, s.length))
            pos += s.length
        bases: dict[tuple[int, str], int] = {}
        if columns is None and runs is None:
            raw = self.source.read_at(data_off, stripe.data_length)
            streams = {
                (s.column, s.kind): raw[off : off + ln] for s, off, ln in spans
            }
        else:
            needed: set[int] = set()
            for sub in subs:
                self._column_subtree(sub, needed)
            # (key, region offset, region end) of every stream range to fetch
            picked = []
            for s, off, ln in spans:
                if s.column not in needed or (
                        s.column in entry.dicts and s.kind in _DICT_STREAMS):
                    continue
                lo, hi = 0, ln
                cursors = positions and positions[s.column].get(s.kind)
                if cursors:
                    lo = cursors[runs[0][0]][0]
                    end = _clean_start(cursors[sum(runs[-1])])
                    hi = ln if end is None else end
                    bases[(s.column, s.kind)] = lo
                picked.append(((s.column, s.kind), off + lo, off + hi))
            # coalesce ranges closer than 64 KiB: fewer, larger reads
            ranges: list[list[int]] = []
            for _key, lo, hi in sorted(picked, key=lambda t: t[1]):
                if ranges and lo - ranges[-1][1] <= 64 * 1024:
                    ranges[-1][1] = max(ranges[-1][1], hi)
                else:
                    ranges.append([lo, hi])
            blobs = [(lo, self.source.read_at(data_off + lo, hi - lo)) for lo, hi in ranges]
            streams = {}
            for key, lo, hi in picked:
                for rlo, blob in blobs:
                    if rlo <= lo and hi <= rlo + len(blob):
                        streams[key] = blob[lo - rlo : hi - rlo]
                        break

        def on_dict(nbytes: int) -> None:
            # charged only while the entry is still cached
            if self._stripe_meta.get(i) is entry:
                self._charge(entry, nbytes)

        return (
            _StripeColumnReader(streams, sfooter, self.tail.footer.types, self.codec,
                                f"{self.path} stripe {i}", positions, bases,
                                entry.dicts, on_dict),
            stripe,
        )

    def _select(self, columns: list[str] | None):
        root = self.tail.footer.types[0]
        if columns is None:
            return list(root.field_names), list(root.subtypes)
        unknown = [c for c in columns if c not in root.field_names]
        if unknown:
            raise ValueError(f"unknown ORC columns {unknown}; have {root.field_names}")
        names = [n for n in root.field_names if n in columns]
        subs = [s for n, s in zip(root.field_names, root.subtypes) if n in columns]
        return names, subs

    def _empty_batch(self, names: list[str]) -> pa.RecordBatch:
        schema = self.arrow_schema()
        return pa.RecordBatch.from_arrays(
            [pa.array([], type=schema.field(n).type) for n in names], names=names
        )

    def _group_ids(self, i: int, row_groups) -> list[int]:
        """Sorted distinct row-group ids, each checked against stripe i."""
        stride = self.tail.footer.row_index_stride
        if stride <= 0:
            raise OrcBoundsError("row_groups given but the file has no rowIndexStride")
        n_groups = -(-self.tail.footer.stripes[i].number_of_rows // stride)
        sel = sorted({int(g) for g in row_groups})
        bad = [g for g in sel if g < 0 or g >= n_groups]
        if bad:
            raise OrcBoundsError(
                f"row groups {bad} out of range (stripe {i} has {n_groups})"
            )
        return sel

    def read_stripe(self, i: int, columns: list[str] | None = None,
                    row_groups: list[int] | None = None) -> pa.RecordBatch:
        """Decode one stripe into one batch: ``read_stripe_batches`` with
        no batch bound, gathered. ``columns`` projects at the STREAM
        level: unselected columns' streams are never read or decoded (the
        wire analogue of the chunk format's stream pruning).
        ``row_groups`` restricts decode to those row-index groups."""
        names, _subs = self._select(columns)
        batches = list(self.read_stripe_batches(i, columns, sys.maxsize, row_groups))
        if not batches:
            return self._empty_batch(names)
        if len(batches) == 1:
            return batches[0]
        return pa.Table.from_batches(batches).combine_chunks().to_batches()[0]

    def read_stripe_batches(self, i: int, columns: list[str] | None = None,
                            batch_rows: int = 65536,
                            row_groups: list[int] | None = None):
        """Iterate one stripe as RecordBatches of ≤ ~batch_rows rows (the
        reference's bounded-batch pull loop, src/reader.rs:17-27 applied
        at row-group granularity). ``row_groups`` (ids validated up front,
        OrcBoundsError when out of range or the file has no stride)
        decodes those groups positionally: the read fetches only the
        groups' stream ranges, and each batch of ``batch_rows // stride``
        consecutive groups inflates only its own blocks when the next
        group starts clean (see ``_StripeColumnReader``), from positions
        parsed once per stripe. When the index cannot locate every group,
        the stripe is decoded whole and sliced (same rows either way); an
        index that contradicts its streams raises OrcFormatError. A FULL
        read decodes the stripe in one pass per column and slices —
        per-group seeks and restarted decompressions are pure overhead
        when every group is wanted anyway, and memory is already bounded
        by the stripe (the format's sizing unit)."""
        sel = None if row_groups is None else self._group_ids(i, row_groups)
        if sel == []:
            return
        names, subs = self._select(columns)
        stride = self.tail.footer.row_index_stride
        if sel is not None:
            runs = _runs(sel)
            try:
                reader, stripe = self._open_stripe(i, columns, runs)
            except RowIndexUnsupported:
                pass
            else:
                n_rows = stripe.number_of_rows
                per_batch = max(1, batch_rows // stride)
                for g0, glen in runs:
                    for g in range(g0, g0 + glen, per_batch):
                        groups = range(g, min(g + per_batch, g0 + glen))
                        n = min(len(groups) * stride, n_rows - g * stride)
                        arrays = [reader.read_column(sub, n, groups) for sub in subs]
                        yield pa.RecordBatch.from_arrays(arrays, names=names)
                return
        reader, stripe = self._open_stripe(i, columns)
        n_rows = stripe.number_of_rows
        full = pa.Table.from_arrays(
            [reader.read_column(sub, n_rows) for sub in subs], names=names
        )
        if sel is not None:
            full = pa.concat_tables([
                full.slice(g0 * stride, min(glen * stride, n_rows - g0 * stride))
                for g0, glen in _runs(sel)
            ])
        yield from full.to_batches(max_chunksize=batch_rows)

    def _group_positions(self, i: int, subs: list[int]) -> dict[int, dict]:
        """Row-group cursors of the column subtrees ``subs`` in stripe i
        (see ``_column_cursors``), parsed for every column on the stripe's
        first group read and kept in its cached metadata at 8 bytes a
        slot. Raises the first needed column's parse error:
        RowIndexUnsupported (read the stripe whole) or OrcFormatError —
        before any batch is emitted, since every entry was checked (a
        fallback mid-yield would re-emit rows the caller already has)."""
        entry = self._stripe_entry(i)
        if entry.positions is None:
            entry.positions = self._parse_row_positions(i, self._read_index_region(i)[0])
            self._charge(entry, 32 * sum(
                len(cursors) for p in entry.positions.values() if isinstance(p, dict)
                for cursors in p.values()
            ))
        needed: set[int] = set()
        for sub in subs:
            self._column_subtree(sub, needed)
        for col in sorted(needed):
            err = entry.positions[col]
            if isinstance(err, Exception):
                raise type(err)(*err.args)
        return {col: entry.positions[col] for col in needed}

    def _parse_row_positions(self, i: int, rows: dict[int, list]) -> dict[int, dict | Exception]:
        """col -> its cursors, or the error a group read of it raises, for
        every column of stripe i from the stripe's parsed ROW_INDEX."""
        stripe = self.tail.footer.stripes[i]
        sfooter = self._stripe_entry(i).footer
        n_groups = -(-stripe.number_of_rows // self.tail.footer.row_index_stride)
        lengths = {(s.column, s.kind): s.length for s in sfooter.streams}
        out: dict[int, dict | Exception] = {}
        for col, t in enumerate(self.tail.footer.types):
            try:
                out[col] = _column_cursors(
                    col, t.kind, sfooter.columns[col].kind, rows.get(col), n_groups,
                    lengths, self.codec != "none", f"{self.path} stripe {i}",
                )
            except (RowIndexUnsupported, OrcFormatError) as e:
                out[col] = e
        return out

    def _stripe_entry(self, i: int) -> _StripeMeta:
        """Stripe i's cached metadata, its footer read and parsed on first
        use; the entry becomes the most recently used."""
        entry = self._stripe_meta.get(i)
        if entry is not None:
            self._stripe_meta.move_to_end(i)
            return entry
        stripe = self.tail.footer.stripes[i]
        raw = self.source.read_at(
            stripe.offset + stripe.index_length + stripe.data_length, stripe.footer_length
        )
        entry = _StripeMeta(proto.StripeFooter.parse(orc_stream_decompress(raw, self.codec)))
        self._stripe_meta[i] = entry
        self._charge(entry, stripe.footer_length)
        return entry

    def _charge(self, entry: _StripeMeta, nbytes: int) -> None:
        """Count ``nbytes`` more against the cache, then drop the least
        recently used entries until it fits (never the newest one)."""
        entry.nbytes += nbytes
        self._stripe_meta_bytes += nbytes
        while self._stripe_meta_bytes > _STRIPE_META_BYTES and len(self._stripe_meta) > 1:
            _, old = self._stripe_meta.popitem(last=False)
            self._stripe_meta_bytes -= old.nbytes

    def _read_index_region(self, i: int):
        """(row_index, bloom_index) for stripe i from the index region
        alone — no data bytes touched. Parsed once per stripe while it
        stays cached (see __init__), with the stripe's footer."""
        stripe = self.tail.footer.stripes[i]
        if stripe.index_length == 0:
            return {}, {}
        entry = self._stripe_entry(i)
        if entry.index is None:
            entry.index = self._read_index_region_uncached(i)
            self._charge(entry, stripe.index_length)
        return entry.index

    def _read_index_region_uncached(self, i: int):
        stripe = self.tail.footer.stripes[i]
        sfooter = self._stripe_entry(i).footer
        idx = self.source.read_at(stripe.offset, stripe.index_length)
        rows: dict[int, list[proto.RowIndexEntry]] = {}
        blooms: dict[int, list] = {}
        pos = 0
        for s in sfooter.streams:
            if pos >= stripe.index_length:
                break
            if s.kind == "ROW_INDEX":
                rows[s.column] = proto.parse_row_index(
                    orc_stream_decompress(idx[pos : pos + s.length], self.codec)
                )
            elif s.kind in ("BLOOM_FILTER", "BLOOM_FILTER_UTF8"):
                from orc_rs_spark.kernels.orc_bloom import OrcBloom

                raw = orc_stream_decompress(idx[pos : pos + s.length], self.codec)
                blooms[s.column] = [
                    OrcBloom.from_proto(proto.decode_fields(e))
                    for e in proto.decode_fields(raw).get(1, [])
                ]
            pos += s.length
        return rows, blooms

    def read_row_index(self, i: int) -> dict[int, list[proto.RowIndexEntry]]:
        """Parse stripe i's ROW_INDEX streams from the index region alone
        (no data bytes touched) — for planning-time group pruning."""
        return self._read_index_region(i)[0]

    def read_bloom_index(self, i: int) -> dict[int, list]:
        """col -> per-group OrcBloom filters (BLOOM_FILTER_UTF8 / legacy
        BLOOM_FILTER streams) — the index the reference validates but
        never probes (src/stripe.rs:209-219)."""
        return self._read_index_region(i)[1]

    def prune_row_groups(self, i: int, column: str, lo, hi) -> list[int] | None:
        """Row-group ids in stripe i whose [min, max] for ``column``
        overlaps [lo, hi] — ``prune_row_groups_where`` for one range."""
        return self.prune_row_groups_where(i, [(column, lo, hi)])

    def prune_row_groups_where(self, i: int, predicates=(), null_preds=()) -> list[int] | None:
        """Row-group ids in stripe i that MAY satisfy every predicate, from
        one parse of the stripe's index; None when no predicate column has
        a usable index (caller decodes everything).

        ``predicates`` are scan predicates (``predicate_form``):
        ``(column, lo, hi)`` keeps groups whose [min, max] overlaps the
        range, and a point range (lo == hi) also probes the column's
        bloom filters — stats keep a group whose RANGE covers the value,
        the bloom drops it unless the value was (probably) written.
        ``(column, values)`` is an IN-list: a group stays when its
        stats/blooms admit ANY value (the semi-join pushdown shape); an
        empty list proves every group away. ``null_preds`` are
        ``(column, want_null)`` IS NULL / IS NOT NULL tests: hasNull=False
        proves a group holds no NULL, numberOfValues == 0 proves it holds
        nothing but NULLs."""
        tests = [predicate_form(p) for p in predicates]
        tests += [("null", col, want_null) for col, want_null in null_preds]
        stride = self.tail.footer.row_index_stride
        if stride <= 0 or not tests:
            return None
        if any(form[0] == "in" and not form[2] for form in tests):
            return []
        n_groups = -(-self.tail.footer.stripes[i].number_of_rows // stride)
        types = self.tail.footer.types
        try:
            rows, blooms = self._read_index_region(i)
        except ValueError:
            return None
        keep: set[int] | None = None
        for form in tests:
            col_id = resolve_column_path(types, form[1])
            entries = rows.get(col_id)
            if not entries or len(entries) != n_groups:
                continue  # no usable index for this column: it prunes nothing
            col_blooms = blooms.get(col_id)
            if col_blooms is None or len(col_blooms) != n_groups:
                col_blooms = [None] * n_groups
            kind = types[col_id].kind
            hit = {
                g for g, e in enumerate(entries)
                if _group_may_match(form, e.statistics, col_blooms[g], kind)
            }
            keep = hit if keep is None else keep & hit
        return None if keep is None else sorted(keep)

    def arrow_schema(self) -> pa.Schema:
        """Arrow schema from the footer type tree (metadata only)."""
        types = self.tail.footer.types

        def conv(cid: int) -> pa.DataType:
            t = types[cid]
            simple = {
                "boolean": pa.bool_(), "byte": pa.int8(), "short": pa.int16(),
                "int": pa.int32(), "long": pa.int64(), "float": pa.float32(),
                "double": pa.float64(), "string": pa.string(), "varchar": pa.string(),
                "char": pa.string(), "binary": pa.binary(), "date": pa.date32(),
                "timestamp": pa.timestamp("ns"),
                "timestamp_instant": pa.timestamp("ns", tz="UTC"),
            }
            if t.kind in simple:
                return simple[t.kind]
            if t.kind == "decimal":
                return pa.decimal128(t.precision or 38, t.scale)
            if t.kind == "list":
                return pa.list_(conv(t.subtypes[0]))
            if t.kind == "map":
                return pa.map_(conv(t.subtypes[0]), conv(t.subtypes[1]))
            if t.kind == "struct":
                return pa.struct(
                    [pa.field(n, conv(s)) for n, s in zip(t.field_names, t.subtypes)]
                )
            raise ValueError(f"no arrow mapping for ORC kind {t.kind!r}")

        root = types[0]
        return pa.schema(
            [pa.field(n, conv(s)) for n, s in zip(root.field_names, root.subtypes)]
        )

    def read_all(self, columns: list[str] | None = None) -> pa.Table:
        batches = [
            self.read_stripe(i, columns) for i in range(len(self.tail.footer.stripes))
        ]
        if not batches:  # zero-row file: typed empty table from the footer
            schema = self.arrow_schema()
            if columns is not None:
                schema = pa.schema([schema.field(c) for c in schema.names if c in columns])
            return pa.Table.from_batches([], schema=schema)
        return pa.Table.from_batches(batches)
