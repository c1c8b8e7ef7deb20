"""ORC integer RLE v1 (encode + decode) — legacy/cold-path codec.

Wire format (ORC spec; reference decode parity:
/root/reference/src/encoding/rlev1.rs:191-341): header 0..127 -> run of
(header+3) values starting at a varint base with a 1-byte signed delta in
[-128,127]; header 128..255 -> (256-header) literal varints. Values are
zigzag varints when signed.

The engine's hot path uses RLEv2; RLEv1 is kept for ORC-suite parity and
small metadata streams, so its encoder favors clarity (greedy scalar scan)
over vectorization. Decode is batch-vectorized per run.
"""

from __future__ import annotations

import numpy as np

from orc_rs_spark.kernels.varint import varint_decode, varint_encode
from orc_rs_spark.kernels.zigzag import from_unsigned, to_unsigned

MAX_RUN = 130
MAX_LITERALS = 128


def rlev1_encode(values: np.ndarray, signed: bool = True) -> bytes:
    """Greedy fixed-delta run detection (delta in [-128,127])."""
    v = np.ascontiguousarray(values, dtype=np.int64)
    n = len(v)
    if n == 0:
        return b""
    d = np.diff(v).tolist()
    vals = v.tolist()
    out: list = []
    lit: list = []

    def flush_literals() -> None:
        while lit:
            chunk = lit[:MAX_LITERALS]
            del lit[:MAX_LITERALS]
            out.append(bytes([256 - len(chunk)]))
            out.append(varint_encode(to_unsigned(np.array(chunk, dtype=np.int64), signed)))

    i = 0
    while i < n:
        run_len = 1
        if i < n - 1 and -128 <= d[i] <= 127:
            delta = d[i]
            k = i
            while k < n - 1 and d[k] == delta and run_len < MAX_RUN:
                run_len += 1
                k += 1
        if run_len >= 3:
            flush_literals()
            out.append(bytes([run_len - 3]))
            out.append(int(delta).to_bytes(1, "little", signed=True))
            out.append(varint_encode(to_unsigned(v[i : i + 1], signed)))
            i += run_len
        else:
            lit.append(vals[i])
            i += 1
    flush_literals()
    return b"".join(out)


def rlev1_decode(buf: bytes | np.ndarray, count: int, signed: bool = True) -> np.ndarray:
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    out = np.empty(count, dtype=np.int64)
    pos = 0
    got = 0
    while got < count:
        if pos >= len(b):
            raise ValueError(f"RLEv1 stream truncated at {got}/{count}")
        h = int(b[pos])
        pos += 1
        if h < 128:  # run
            n = h + 3
            delta = int.from_bytes(b[pos : pos + 1].tobytes(), "little", signed=True)
            pos += 1
            u, used = varint_decode(b[pos : pos + 10], 1)
            pos += used
            base = int(from_unsigned(u, signed)[0])
            take = min(n, count - got)
            out[got : got + take] = base + delta * np.arange(take, dtype=np.int64)
            got += n
        else:  # literals
            n = 256 - h
            u, used = varint_decode(b[pos : pos + 10 * n], n)
            pos += used
            take = min(n, count - got)
            out[got : got + take] = from_unsigned(u, signed)[:take]
            got += n
    return out
