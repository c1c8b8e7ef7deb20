"""A fixed CPU job of the benchmark's own that gauges the shared host's speed.

On the shared 4-vCPU host, the CPU seconds of the same pass moved by 20-35%
between runs minutes apart, with little or no steal time: other tenants
share the caches, the memory bus and the physical cores. A lookup's latency
moved with them. So every measured pass is preceded by this job, on as many
threads as the session has cores, and the run's timings are scaled by how
much CPU the job took against ``REF_CPU_S``. The job runs no program code, so
a change to the program cannot change what it costs.
"""

from __future__ import annotations

import threading
import time
import zlib

import numpy as np

# the job's median CPU seconds on 4 threads in quiet minutes of the host the
# bounds were set on; it fixes only the scale of the reported values
REF_CPU_S = 0.60

_rng = np.random.default_rng(20_260_104)
# token-like bytes for zlib, and ints to sort: the codecs' two kinds of work
_BYTES = _rng.zipf(1.3, 300_000).astype(np.int32).tobytes()
_INTS = _rng.integers(0, 1 << 20, 200_000, dtype=np.int32)


def _job() -> None:
    zlib.compress(_BYTES, 6)
    np.sort(_INTS)


def cpu_s(threads: int) -> float:
    """CPU seconds this process spent running the job once on each of
    ``threads`` threads at the same time."""
    t0 = time.process_time()
    workers = [threading.Thread(target=_job) for _ in range(threads)]
    for w in workers:
        w.start()
    for w in workers:
        w.join()
    return time.process_time() - t0
