"""ORC byte RLE and boolean RLE (encode + decode).

Wire format (ORC spec; reference decode parity:
/root/reference/src/encoding/rlev1.rs:66-158 byte RLE,
:160-189 boolean RLE): header byte 0..127 -> run of (header+3) copies of the
next byte; header 128..255 (negative i8) -> (256-header) literal bytes.
Boolean RLE bit-packs 8 values per byte (MSB first) then byte-RLE encodes.
"""

from __future__ import annotations

import numpy as np

MAX_RUN = 130  # header 127 -> 127 + 3
MAX_LITERALS = 128


def byte_rle_encode(values: np.ndarray) -> bytes:
    """Encode a uint8 array. Python loop runs over value runs, not values."""
    v = np.ascontiguousarray(values, dtype=np.uint8)
    n = len(v)
    if n == 0:
        return b""
    boundaries = np.flatnonzero(np.diff(v)) + 1
    starts = np.concatenate(([0], boundaries))
    lengths = np.diff(np.concatenate((starts, [n])))
    out: list = []
    lit_start: int | None = None

    def flush_literals(end: int) -> None:
        nonlocal lit_start
        if lit_start is None:
            return
        for j in range(lit_start, end, MAX_LITERALS):
            chunk = v[j : min(j + MAX_LITERALS, end)]
            out.append(bytes([256 - len(chunk)]))
            out.append(chunk.tobytes())
        lit_start = None

    for s, ln in zip(starts.tolist(), lengths.tolist()):
        if ln >= 3:
            flush_literals(s)
            rem, val = ln, v[s : s + 1].tobytes()
            while rem >= 3:
                take = min(rem, MAX_RUN)
                out.append(bytes([take - 3]))
                out.append(val)
                rem -= take
            if rem:  # 1-2 trailing copies -> literals
                lit_start = s + ln - rem
        elif lit_start is None:
            lit_start = s
    flush_literals(n)
    return b"".join(out)


def byte_rle_decode(buf: bytes | np.ndarray, count: int) -> np.ndarray:
    """Decode ``count`` bytes -> uint8 array."""
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    out = np.empty(count, dtype=np.uint8)
    pos = 0
    got = 0
    blen = len(b)
    while got < count and pos < blen:
        h = int(b[pos])
        if h < 128:  # run
            n = h + 3
            if pos + 2 > blen:  # no value byte
                break
            out[got : got + n] = b[pos + 1]
            pos += 2
        else:  # literals
            n = 256 - h
            take = min(n, count - got)
            if pos + 1 + take > blen:  # fewer bytes than the values read
                break
            out[got : got + take] = b[pos + 1 : pos + 1 + take]
            pos += 1 + n
        got += n
    if got < count:
        raise ValueError(f"byte RLE stream truncated at {got}/{count}")
    return out


def boolean_rle_encode(values: np.ndarray) -> bytes:
    """Bit-pack booleans (8/byte, MSB first) then byte-RLE encode."""
    bits = np.ascontiguousarray(values, dtype=bool)
    return byte_rle_encode(np.packbits(bits))


def boolean_rle_decode(buf: bytes | np.ndarray, count: int) -> np.ndarray:
    """Decode ``count`` booleans -> bool array."""
    nbytes = (count + 7) // 8
    packed = byte_rle_decode(buf, nbytes)
    return np.unpackbits(packed)[:count].astype(bool)
