"""Traced run: per-layer metrics.

Three sources, all driven from the benchmark's own files:

- Spark's REST API gives each pass's stages: executor CPU, GC, input and
  shuffle bytes, task-time quantiles. Stages are found by the pass's job
  group and attributed by what they do (a stage that writes output is an
  encode stage).
- ``worker_site/sitecustomize.py`` wraps the chunk and ORC entry points in
  the executors' Python workers and logs each call's duration, which gives
  the share of a pass's slot time spent outside those calls.
- An in-process pass over the same rows calls ``chunk.encode_chunk`` and
  ``decode_chunk``, then ``OrcWriter`` and ``OrcFileReader``, with the
  kernels' public functions wrapped where each name is looked up, and
  records spans with parent links, self time and counts.

The untraced in-process pass runs first; ``trace.overhead`` is the traced
pass's throughput over the untraced one.
"""

from __future__ import annotations

import functools
import glob
import os
import statistics
import time
from collections import Counter
from datetime import datetime

import numpy as np

from harness import ORC_OPTS, PASS_KINDS
from lookups import DocIndex
from spark_rest import SparkRest

INT_CODEC_NAMES = ("rlev2", "rlev2_rle", "rlev1", "for", "bitpack", "dict", "raw")
RUN_MODES = ("short_repeat", "direct", "patched", "delta")
IN_PROCESS_CHUNK_ROWS = 4096
TRACED_LOOKUPS = 200

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.prewarm_s": "s",
    "pipeline.job_s": "s",
    "pipeline.shuffle_write_bytes": "B",
    "pipeline.non_encode_s": "s",
    "encoder.pass_s": "s",
    "encoder.task_cpu_s": "s",
    "encoder.py_cpu_s": "s",
    "encoder.gc_s": "s",
    "encoder.task_skew": "ratio",
    "encoder.chunks": "count",
    "decoder.pass_s": "s",
    "decoder.task_cpu_s": "s",
    "decoder.py_cpu_s": "s",
    "decoder.input_bytes": "B",
    "decoder.proj_input_bytes": "B",
    "encode.outside_kernels_share": "ratio",
    "decode.outside_kernels_share": "ratio",
    "encode.outside_kernels_cpu_share": "ratio",
    "decode.outside_kernels_cpu_share": "ratio",
    "chunk.encode_self_s": "s",
    "chunk.decode_self_s": "s",
    "chunk.encode_ms_p50": "ms",
    "chunk.encode_ms_max": "ms",
    "select.int_s": "s",
    "select.trial_s": "s",
    "select.trials": "count",
    "select.trial_win_ratio": "ratio",
    "select.str_s": "s",
    **{f"select.codec_mix.{c}": "count" for c in INT_CODEC_NAMES},
    "rlev2.encode_s": "s",
    "rlev2.decode_s": "s",
    "rlev2.values": "count",
    **{f"rlev2.runs_by_mode.{m}": "count" for m in RUN_MODES},
    "intcodecs.encode_s": "s",
    "intcodecs.decode_s": "s",
    "fsst.trial_s": "s",
    "fsst.encode_s": "s",
    "strings.decode_s": "s",
    "blockcomp.compress_s": "s",
    "blockcomp.decompress_s": "s",
    "blockcomp.in_bytes": "B",
    "blockcomp.out_bytes": "B",
    "blockcomp.kept_ratio": "ratio",
    "orcfile.write_tok_s": "tokens/s",
    "orcfile.scan_tok_s": "tokens/s",
    "orc_write.outside_kernels_share": "ratio",
    "orc_scan.outside_kernels_share": "ratio",
    "orcfile.write_s": "s",
    "orcfile.write_task_cpu_s": "s",
    "orcfile.write_py_cpu_s": "s",
    "orcfile.read_stripe_s": "s",
    "orcfile.tail_s": "s",
    "orcfile.lookup_read_stripe_ms": "ms",
    "orcfile.lookup_stripes_read": "count",
    "orcfile.lookup_row_groups_read": "count",
    "orcfile.lookup_bytes_read": "B",
    "trace.overhead": "ratio",
}

# in-process span name -> the layer metric its SELF time adds to
SELF_TIME_METRIC = {
    "chunk.encode": "chunk.encode_self_s",
    "chunk.decode": "chunk.decode_self_s",
    "rlev2.encode": "rlev2.encode_s",
    "rlev2.decode": "rlev2.decode_s",
    "fsst.trial": "fsst.trial_s",
    "fsst.encode": "fsst.encode_s",
    "fsst.decode": "strings.decode_s",
    "str.decode": "strings.decode_s",
    "blockcomp.compress": "blockcomp.compress_s",
    "blockcomp.decompress": "blockcomp.decompress_s",
    **{f"codec.{c}.encode": "intcodecs.encode_s" for c in ("for", "bitpack", "dict", "raw")},
    **{f"codec.{c}.decode": "intcodecs.decode_s" for c in ("for", "bitpack", "dict", "raw")},
}
# span name -> the layer metric its INCLUSIVE time adds to
INCLUSIVE_METRIC = {
    "select.int": "select.int_s",
    "select.str": "select.str_s",
    "orc.write": "orcfile.write_s",
    "orc.read_stripe": "orcfile.read_stripe_s",
    "orc.tail": "orcfile.tail_s",
}


class Tracer:
    """In-memory spans: [name, parent index, start, end]; written out only
    as aggregates when the run ends."""

    def __init__(self):
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.counts: Counter = Counter()
        self.rlev2_streams: list[tuple[bytes, int]] = []

    def wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = len(self.spans)
            span = [name, self.stack[-1] if self.stack else -1, time.perf_counter(), 0.0]
            self.spans.append(span)
            self.stack.append(idx)
            try:
                out = fn(*args, **kwargs)
            finally:
                span[3] = time.perf_counter()
                self.stack.pop()
            if on_result is not None:
                on_result(args, out)
            return out

        return traced

    def durations(self) -> tuple[np.ndarray, np.ndarray]:
        """(inclusive, self) seconds per span."""
        incl = np.array([s[3] - s[2] for s in self.spans])
        child = np.zeros(len(self.spans))
        for s, d in zip(self.spans, incl):
            if s[1] >= 0:
                child[s[1]] += d
        return incl, incl - child


def install(tracer: Tracer):
    """Wrap the public kernel and format functions at every module that looks
    them up by name (``from ... import`` copies the reference), and the codec
    tables' entries. Returns a function that restores the originals."""
    import orc_rs_spark.chunk as chunk
    import orc_rs_spark.kernels.intcodecs as intcodecs
    import orc_rs_spark.kernels.select as select
    import orc_rs_spark.kernels.strings as strings
    from orc_rs_spark.orcfile import reader, writer

    undo: list = []

    def patch(owner, attr: str, name: str, on_result=None) -> None:
        orig = getattr(owner, attr)
        undo.append(lambda: setattr(owner, attr, orig))
        setattr(owner, attr, tracer.wrap(name, orig, on_result))

    def rlev2_out(args, out):
        tracer.counts["rlev2.values"] += len(args[0])
        tracer.rlev2_streams.append((out, len(args[0])))

    def block_out(args, out):
        tracer.counts["blockcomp.in_bytes"] += len(args[0])
        tracer.counts["blockcomp.out_bytes"] += len(out)
        tracer.counts["blockcomp.attempted"] += 1
        tracer.counts["blockcomp.kept"] += len(out) < len(args[0])

    def codec_chosen(args, out):
        tracer.counts[f"select.codec_mix.{out[0]}"] += 1

    patch(chunk, "encode_chunk", "chunk.encode")
    patch(chunk, "decode_chunk", "chunk.decode")
    patch(chunk, "encode_ints_auto", "select.int", codec_chosen)
    patch(chunk, "encode_strings_auto", "select.str")
    patch(select, "_zprobe", "select.probe")
    patch(select, "fsst_encode", "fsst.trial")
    patch(strings, "fsst_encode", "fsst.encode")
    patch(strings, "fsst_decode", "fsst.decode")
    for mod in (select, intcodecs, strings, writer):
        patch(mod, "rlev2_encode", "rlev2.encode", rlev2_out)
    patch(select, "rlev2_encode_runs", "rlev2.encode", rlev2_out)
    for mod in (select, intcodecs, strings, reader):
        patch(mod, "rlev2_decode", "rlev2.decode")
    for mod in (chunk, writer):
        patch(mod, "block_compress", "blockcomp.compress", block_out)
    patch(chunk, "block_decompress", "blockcomp.decompress")
    patch(reader, "orc_stream_decompress", "blockcomp.decompress")
    patch(reader, "decompress_from", "blockcomp.decompress")
    patch(reader, "read_tail", "orc.tail")
    patch(writer.OrcWriter, "write_batch", "orc.write")
    patch(writer.OrcWriter, "close", "orc.write")
    patch(reader.OrcFileReader, "read_stripe", "orc.read_stripe")
    # chunk.decode_chunk and the trial loop reach the codecs through these
    # tables, which chunk shares with select
    for key, (enc, dec) in list(select.INT_CODECS.items()):
        undo.append(functools.partial(select.INT_CODECS.__setitem__, key, (enc, dec)))
        select.INT_CODECS[key] = (
            tracer.wrap(f"codec.{key}.encode", enc), tracer.wrap(f"codec.{key}.decode", dec)
        )
    for key, (enc, dec) in list(select.STR_CODECS.items()):
        undo.append(functools.partial(select.STR_CODECS.__setitem__, key, (enc, dec)))
        select.STR_CODECS[key] = (enc, tracer.wrap("str.decode", dec))

    def restore() -> None:
        for fn in reversed(undo):
            fn()

    return restore


def _aggregate(tracer: Tracer, m: dict) -> None:
    from orc_rs_spark.kernels.rlev2 import rlev2_run_modes

    incl, self_t = tracer.durations()
    last_codec_encode: dict[int, int] = {}
    trial_spans: set[int] = set()
    trial_parents: set[int] = set()
    for i, (name, parent, _, _) in enumerate(tracer.spans):
        if name in SELF_TIME_METRIC:
            m[SELF_TIME_METRIC[name]] += self_t[i]
        if name in INCLUSIVE_METRIC:
            m[INCLUSIVE_METRIC[name]] += incl[i]
        if name.startswith("codec.") and name.endswith(".encode"):
            last_codec_encode[parent] = i
        elif name == "select.probe":
            # encode_ints_auto measures each trial encode with one probe
            trial_spans.add(i)
            if parent in last_codec_encode:
                trial_spans.add(last_codec_encode.pop(parent))
            trial_parents.add(parent)
    m["select.trial_s"] = float(sum(incl[i] for i in trial_spans))
    m["select.trials"] = sum(1 for i in trial_spans if tracer.spans[i][0] == "select.probe")
    m["select.trial_win_ratio"] = len(trial_parents) / m["select.trials"] if m["select.trials"] else 0.0
    for key in ("rlev2.values", "blockcomp.in_bytes", "blockcomp.out_bytes",
                *(f"select.codec_mix.{c}" for c in INT_CODEC_NAMES)):
        m[key] = tracer.counts[key]
    if tracer.counts["blockcomp.attempted"]:
        m["blockcomp.kept_ratio"] = tracer.counts["blockcomp.kept"] / tracer.counts["blockcomp.attempted"]
    modes = Counter()
    for buf, count in tracer.rlev2_streams:
        modes.update(rlev2_run_modes(buf, count))
    for mode in RUN_MODES:
        m[f"rlev2.runs_by_mode.{mode}"] = modes[mode]


def _in_process_pass(bench) -> tuple[float, list[float]]:
    """Single-threaded pass over every row: chunk encode and decode in
    4096-row chunks, then one ORC file written and scanned. Returns the
    seconds taken and each chunk's encode time in ms."""
    from orc_rs_spark import chunk
    from orc_rs_spark.orcfile.reader import OrcFileReader
    from orc_rs_spark.orcfile.writer import OrcWriter

    t0 = time.perf_counter()
    tbl = bench.table
    encoded, encode_ms = [], []
    for lo in range(0, tbl.num_rows, IN_PROCESS_CHUNK_ROWS):
        batch = tbl.slice(lo, IN_PROCESS_CHUNK_ROWS).combine_chunks().to_batches()[0]
        t = time.perf_counter()
        encoded.append(chunk.encode_chunk(batch, 0))
        encode_ms.append((time.perf_counter() - t) * 1e3)
    decoded = sum(chunk.decode_chunk(row).num_rows for row in encoded)
    path = os.path.join(bench.work, "in-process.orc")
    with OrcWriter(path, tbl.schema, **ORC_OPTS) as w:
        w.write_table(tbl)
    r = OrcFileReader(path)
    scanned = sum(r.read_stripe(i).num_rows for i in range(len(r.tail.footer.stripes)))
    os.remove(path)
    if decoded != bench.rows or scanned != bench.rows:
        raise RuntimeError(f"in-process pass returned {decoded}/{scanned} rows, want {bench.rows}")
    return time.perf_counter() - t0, encode_ms


def _traced_lookups(bench, m: dict) -> None:
    tracer = Tracer()
    restore = install(tracer)
    try:
        index = DocIndex(bench.lookup_dir, count_bytes=True)
        bytes0 = index.bytes_read()
        for k in bench.key_rng.integers(0, bench.rows, TRACED_LOOKUPS).tolist():
            key = bench.sorted_ids[k]
            bench.attempted += 1
            if not bench.lookup_ok(index.lookup(key), bench.row_of[key]):
                bench.failed += 1
    finally:
        restore()
    incl, _ = tracer.durations()
    names = [s[0] for s in tracer.spans]
    m["orcfile.tail_s"] = float(sum(d for n, d in zip(names, incl) if n == "orc.tail"))
    m["orcfile.lookup_read_stripe_ms"] = 1e3 * float(
        sum(d for n, d in zip(names, incl) if n == "orc.read_stripe")
    ) / TRACED_LOOKUPS
    m["orcfile.lookup_stripes_read"] = index.stripes_read / TRACED_LOOKUPS
    m["orcfile.lookup_row_groups_read"] = index.row_groups_read / TRACED_LOOKUPS
    m["orcfile.lookup_bytes_read"] = (index.bytes_read() - bytes0) / TRACED_LOOKUPS


def _projected_bytes(chunks_dir: str, columns) -> int:
    """Compressed bytes of the chunk-table column chunks a decode projection
    selects. Spark's task input metrics miss reads made on the thread that
    feeds a Python UDF, so these come from the parquet footers instead."""
    import pyarrow.parquet as pq

    from orc_rs_spark.chunk import chunk_columns_for

    need = set(chunk_columns_for(columns))
    total = 0
    for path in glob.glob(os.path.join(chunks_dir, "**", "*.parquet"), recursive=True):
        md = pq.ParquetFile(path).metadata
        for rg in range(md.num_row_groups):
            for c in range(md.num_columns):
                col = md.row_group(rg).column(c)
                if col.path_in_schema in need:
                    total += col.total_compressed_size
    return total


def _worker_span_seconds(span_dir: str) -> Counter:
    total: Counter = Counter()
    for path in glob.glob(os.path.join(span_dir, "*.spans")):
        with open(path) as f:
            for line in f:
                name, dt = line.split()
                total[name] += float(dt)
    return total


def _rest_time(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").timestamp()


def _covered_s(stages: list[dict]) -> float:
    """Wall time covered by the union of the stages' run intervals."""
    spans = sorted((_rest_time(s["submissionTime"]), _rest_time(s["completionTime"])) for s in stages)
    total, end = 0.0, float("-inf")
    for lo, hi in spans:
        if hi > end:
            total += hi - max(lo, end)
            end = hi
    return total


def _spark_layers(bench, m: dict) -> None:
    rest = SparkRest(bench.spark)
    slots = bench.cores
    runs = {}
    for kind in PASS_KINDS + ("orc_write", "orc_scan"):
        group = f"traced-{kind}"
        run = bench.run_pass(kind, group=group)
        if run["wall"] is not None:
            runs[kind] = (run, rest.group_stages(group), _worker_span_seconds(bench.span_dir))

    if "encode" in runs:
        run, stages, kernel_s = runs["encode"]
        wall = run["wall"]
        m["encode.outside_kernels_share"] = 1.0 - kernel_s["chunk.encode"] / (wall * slots)
        m["encode.outside_kernels_cpu_share"] = 1.0 - kernel_s["chunk.encode"] / run["cpu_s"]
        writes = [s for s in stages if s["outputBytes"] > 0] or stages
        if bench.workload == "lm-corpus":
            # the encode stage reads the bucket shuffle and writes chunks
            writes = [s for s in writes if s["shuffleReadBytes"] > 0] or writes
            m["pipeline.job_s"] = wall
            m["pipeline.shuffle_write_bytes"] = sum(s["shuffleWriteBytes"] for s in stages)
            m["encoder.pass_s"] = _covered_s(writes)
            m["pipeline.non_encode_s"] = wall - m["encoder.pass_s"]
        else:
            m["encoder.pass_s"] = wall
        m["encoder.task_cpu_s"] = sum(s["executorCpuTime"] for s in writes) / 1e9
        m["encoder.py_cpu_s"] = run["py_cpu_s"]
        m["encoder.gc_s"] = sum(s["jvmGcTime"] for s in writes) / 1e3
        med, mx = rest.task_run_quantiles(max(writes, key=lambda s: s["executorRunTime"]))
        m["encoder.task_skew"] = mx / med if med else 0.0
        m["encoder.chunks"] = bench.n_chunks
    if "decode" in runs:
        run, stages, kernel_s = runs["decode"]
        m["decode.outside_kernels_share"] = 1.0 - kernel_s["chunk.decode"] / (run["wall"] * slots)
        m["decode.outside_kernels_cpu_share"] = 1.0 - kernel_s["chunk.decode"] / run["cpu_s"]
        m["decoder.pass_s"] = run["wall"]
        m["decoder.task_cpu_s"] = sum(s["executorCpuTime"] for s in stages) / 1e9
        m["decoder.py_cpu_s"] = run["py_cpu_s"]
        m["decoder.input_bytes"] = _projected_bytes(bench.chunks_dir, None)
        m["decoder.proj_input_bytes"] = _projected_bytes(bench.chunks_dir, ("n_tok",))
    if "orc_write" in runs:
        run, stages, kernel_s = runs["orc_write"]
        m["orcfile.write_tok_s"] = bench.tokens / run["wall"]
        m["orcfile.write_task_cpu_s"] = sum(s["executorCpuTime"] for s in stages) / 1e9
        m["orcfile.write_py_cpu_s"] = run["py_cpu_s"]
        m["orc_write.outside_kernels_share"] = 1.0 - kernel_s["orc.write"] / (run["wall"] * slots)
    if "orc_scan" in runs:
        run, stages, kernel_s = runs["orc_scan"]
        m["orcfile.scan_tok_s"] = bench.tokens / run["wall"]
        m["orc_scan.outside_kernels_share"] = 1.0 - kernel_s["orc.read"] / (run["wall"] * slots)


def traced_run(bench) -> tuple[dict, dict]:
    m = {name: 0.0 for name in PER_LAYER_UNITS}
    m["session.start_s"] = bench.setup["session.start_s"]
    m["session.prewarm_s"] = bench.setup["session.prewarm_s"]
    _spark_layers(bench, m)
    _in_process_pass(bench)  # first touch of the pass's memory, untimed
    untraced, encode_ms = _in_process_pass(bench)
    tracer = Tracer()
    restore = install(tracer)
    try:
        traced, _ = _in_process_pass(bench)
    finally:
        restore()
    m["trace.overhead"] = untraced / traced
    _aggregate(tracer, m)
    m["chunk.encode_ms_p50"] = statistics.median(encode_ms)
    m["chunk.encode_ms_max"] = max(encode_ms)
    _traced_lookups(bench, m)
    return m, PER_LAYER_UNITS
