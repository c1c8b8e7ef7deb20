"""Executor-side spans for traced benchmark runs.

Python's ``site`` module imports this file at interpreter start when its
directory is on PYTHONPATH; a traced run of ``perfbench/run.py`` puts it
there for the executors' Python workers only. It wraps the entry points
Spark tasks call into (chunk encode/decode, ORC stripe write and read) and
appends one ``<name> <seconds>`` line per call to ``<pid>.spans`` in
``$PERFBENCH_SPAN_DIR``. Without that variable it does nothing.

Tasks receive the program's functions pickled by reference, so replacing the
module attributes here is what the unpickled task code calls.
"""

import os
import time


def _install(span_dir: str) -> None:
    import orc_rs_spark.chunk as chunk
    from orc_rs_spark.orcfile import reader, writer

    def record(name: str, seconds: float) -> None:
        with open(os.path.join(span_dir, f"{os.getpid()}.spans"), "a") as f:
            f.write(f"{name} {seconds:.9f}\n")

    def timed(name, fn):
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                record(name, time.perf_counter() - t0)

        return wrapper

    def timed_iter(name, fn):
        def wrapper(*args, **kwargs):
            it = iter(fn(*args, **kwargs))
            busy = 0.0
            try:
                while True:
                    t0 = time.perf_counter()
                    try:
                        item = next(it)
                    except StopIteration:
                        return
                    finally:
                        busy += time.perf_counter() - t0
                    yield item
            finally:
                record(name, busy)

        return wrapper

    chunk.encode_chunk = timed("chunk.encode", chunk.encode_chunk)
    chunk.decode_chunk = timed("chunk.decode", chunk.decode_chunk)
    writer.OrcWriter.write_batch = timed("orc.write", writer.OrcWriter.write_batch)
    writer.OrcWriter.close = timed("orc.write", writer.OrcWriter.close)
    reader.OrcFileReader.read_stripe_batches = timed_iter(
        "orc.read", reader.OrcFileReader.read_stripe_batches
    )


if os.environ.get("PERFBENCH_SPAN_DIR"):
    _install(os.environ["PERFBENCH_SPAN_DIR"])
