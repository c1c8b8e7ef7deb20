"""tokenpack benchmark: encode, decode and ORC-wire costs on token workloads.

    python3 perfbench/run.py --workload lm-corpus --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The benchmark builds its inputs from
``--seed``, starts a ``local[nproc]`` Spark session whose executors import
``orc_rs_spark`` from this checkout, sets up and warms up, then repeats the
workload's passes for ``--seconds`` and reports medians. Outputs are checked
against the inputs after the measured window.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs one traced
round instead and prints the per-layer metrics (Spark REST stage metrics,
executor-side spans, and an in-process pass with wrapped kernels). The last
line of standard output is one JSON object; the lines before it give every
metric by name and unit. The exit code is 0 only when every output was
correct. METRICS.md beside this file defines each metric.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

from workloads import GENERATORS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END_UNITS = {
    "setup_s": "s",
    "encode_tok_per_ref_cpu_s": "tokens/ref-cpu-s",
    "decode_tok_per_ref_cpu_s": "tokens/ref-cpu-s",
    "lengths_scan_rows_per_ref_cpu_s": "rows/ref-cpu-s",
    "bytes_per_token": "B/token",
    "size_vs_spark_orc": "ratio",
    "lookup_p50_ref_ms": "ref-ms",
    "peak_rss_mb": "MB",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    return p.parse_args(argv)


def percentile(sorted_vals: list[float], q: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    return sorted_vals[max(0, math.ceil(q * len(sorted_vals)) - 1)]


def per_pass(b, samples: dict[str, list[float]]) -> dict[str, float]:
    """Work done per second of each pass kind's median sample."""
    med = {k: statistics.median(v) for k, v in samples.items()}
    return {"encode": b.tokens / med["encode"], "decode": b.tokens / med["decode"],
            "lengths": b.rows / med["lengths"]}


def end_to_end(b) -> dict[str, float]:
    """The gated metrics. Pass CPU seconds and lookup latencies are divided
    by the run's host slowdown (see hostprobe.py): reference CPU seconds
    and reference milliseconds."""
    per_ref_cpu_s = {k: v * b.host_slowdown for k, v in per_pass(b, b.cpu).items()}
    lat = sorted(b.latencies_ms)
    memory = b.peak_memory_mb()
    b.info["peak memory (MB)"] = "  ".join(f"{k} {v:.1f}" for k, v in memory.items())
    return {
        "setup_s": sum(b.setup.values()),
        "encode_tok_per_ref_cpu_s": per_ref_cpu_s["encode"],
        "decode_tok_per_ref_cpu_s": per_ref_cpu_s["decode"],
        "lengths_scan_rows_per_ref_cpu_s": per_ref_cpu_s["lengths"],
        "bytes_per_token": b.enc_bytes / b.tokens,
        "size_vs_spark_orc": b.enc_bytes / b.spark_orc_bytes,
        "lookup_p50_ref_ms": percentile(lat, 0.50) / b.host_slowdown,
        "peak_rss_mb": memory["python_rss_mb"],
    }


def report(b, metrics: dict[str, float], units: dict[str, str]) -> None:
    print(f"workload {b.workload}  seed {b.seed}  master local[{b.cores}]  "
          f"rows {b.rows}  tokens {b.tokens}")
    for k, v in b.info.items():
        print(f"  {k}: {v}")
    print("  setup: " + "  ".join(f"{k} {v:.2f}s" for k, v in b.setup.items()))
    for name, value in metrics.items():
        print(f"  {name:<34} {value:>16.6g} {units[name]}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "orc_rs_spark", "__init__.py")):
        print(f"perfbench: no orc_rs_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import harness

    t_start = time.perf_counter()
    bench = harness.Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        bench.prepare()
        if args.trace:
            import tracing

            metrics, units = tracing.traced_run(bench)
        else:
            bench.measure()
            metrics, units = end_to_end(bench), END_TO_END_UNITS
        t_check = time.perf_counter()
        bench.check()
        bench.info["checks_s"] = f"{time.perf_counter() - t_check:.2f}"
    finally:
        bench.close()

    correct = bench.failed == 0 and bench.mismatch_rows == 0
    report(bench, metrics, units)
    if not args.trace:
        # printed, not gated: between runs they follow the host's load
        print(f"  {'host_slowdown':<34} {bench.host_slowdown:>16.6g} ratio "
              f"(median of {len(bench.probe_cpu)} probes)")
        per_wall_s, per_cpu_s = per_pass(bench, bench.walls), per_pass(bench, bench.cpu)
        for name, kind, unit in (("encode_tok_s", "encode", "tokens/s"), ("decode_tok_s", "decode", "tokens/s"),
                                 ("lengths_scan_rows_s", "lengths", "rows/s")):
            print(f"  {name:<34} {per_wall_s[kind]:>16.6g} {unit}")
            cpu_name = name[: -len("_s")] + "_per_cpu_s"
            print(f"  {cpu_name:<34} {per_cpu_s[kind]:>16.6g} {unit.replace('/s', '/cpu-s')}")
        lat = sorted(bench.latencies_ms)
        print(f"  {'lookup_p50_ms':<34} {percentile(lat, 0.50):>16.6g} ms")
        print(f"  {'lookup_p99_ms':<34} {percentile(lat, 0.99):>16.6g} ms")
        for name, layer in (("orc_write_tok_s", "orcfile.write_tok_s"), ("orc_scan_tok_s", "orcfile.scan_tok_s")):
            print(f"  {name:<34} n/a: one Spark pass per traced run, reported as {layer}")
        print(f"  rounds {bench.rounds}  lookup samples {len(lat)}")
        for kind in bench.walls:
            print(f"  {kind} pass walls (s): " + " ".join(f"{w:.3f}" for w in bench.walls[kind]))
            print(f"  {kind} pass CPU (s): " + " ".join(f"{c:.2f}" for c in bench.cpu[kind]))
    print(f"  {'roundtrip_mismatch_rows':<34} {bench.mismatch_rows:>16d} rows")
    print(f"  {'failed_op_ratio':<34} {bench.failed / bench.attempted:>16.6g} "
          f"failed/attempted ({bench.failed}/{bench.attempted})")
    print(f"  wall {time.perf_counter() - t_start:.1f} s")
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
