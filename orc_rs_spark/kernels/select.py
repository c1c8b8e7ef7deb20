"""Per-chunk codec auto-selection — the writer-side 'optimizer'.

The reference only *consumes* a chosen encoding (ColumnEncoding.kind
dispatch, /root/reference/src/column_reader/mod.rs:379-396;
/root/reference/src/proto/orc_proto.proto:148-162). Here we make the choice,
mirroring ORC's public writer heuristics (SURVEY.md §4.3): sampled run
statistics, monotonicity, distinct ratio and the bit widths of zigzag(v)
and v-min prune the candidate codecs, then a trial encode of a sample
measures each survivor and the smallest wins (``encode_ints_auto``).
The chosen codec id is recorded in chunk metadata exactly like
ColumnEncoding.kind.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from orc_rs_spark.kernels.bitpack import bit_lengths
from orc_rs_spark.kernels.fsst import fsst_encode
from orc_rs_spark.kernels.intcodecs import (
    bitpack_decode,
    bitpack_encode,
    dict_decode,
    dict_encode,
    for_decode,
    for_encode,
    rankdict_decode,
    rankplanes_decode,
    rankplanes_encode,
    raw_decode,
    raw_encode,
)
from orc_rs_spark.kernels.rlev1 import rlev1_decode, rlev1_encode
from orc_rs_spark.kernels.rlev2 import rlev2_decode, rlev2_encode, rlev2_encode_runs
from orc_rs_spark.kernels.strings import (
    string_dict_decode,
    string_dict_encode,
    string_direct_decode,
    string_direct_encode,
)
from orc_rs_spark.kernels.zigzag import zigzag_encode

SAMPLE = 65536

INT_CODECS = {
    "rlev2": (lambda v: rlev2_encode(v, signed=True), lambda b, n: rlev2_decode(b, n, signed=True)),
    "rlev2_rle": (
        lambda v: rlev2_encode_runs(v, signed=True),
        lambda b, n: rlev2_decode(b, n, signed=True),
    ),
    "rlev1": (lambda v: rlev1_encode(v, signed=True), lambda b, n: rlev1_decode(b, n, signed=True)),
    "for": (for_encode, for_decode),
    "bitpack": (bitpack_encode, bitpack_decode),
    "dict": (dict_encode, dict_decode),
    "rankdict": (None, rankdict_decode),  # chunk format v3: decode only
    "rankplanes": (rankplanes_encode, rankplanes_decode),
    "raw": (raw_encode, raw_decode),
}

STR_CODECS = {
    "str_direct": (
        lambda a: string_direct_encode(a, use_fsst=False),
        lambda b, n: string_direct_decode(b, n, use_fsst=False),
    ),
    "str_direct_fsst": (
        lambda a: string_direct_encode(a, use_fsst=True),
        lambda b, n: string_direct_decode(b, n, use_fsst=True),
    ),
    "str_dict": (
        lambda a: string_dict_encode(a, use_fsst=False),
        lambda b, n: string_dict_decode(b, n, use_fsst=False),
    ),
    "str_dict_fsst": (
        lambda a: string_dict_encode(a, use_fsst=True),
        lambda b, n: string_dict_decode(b, n, use_fsst=True),
    ),
}


def int_stats(values: np.ndarray) -> dict:
    """Sampled chunk statistics driving the choice."""
    v = np.asarray(values, dtype=np.int64)
    n = len(v)
    s = v if n <= SAMPLE else v[:: max(1, n // SAMPLE)][:SAMPLE]
    d = np.diff(s)
    runs = int((d != 0).sum()) + 1 if len(s) > 1 else 1
    uniq = np.unique(s)
    zz_w = int(bit_lengths(zigzag_encode(s)).max(initial=1)) or 1
    base = int(s.min()) if len(s) else 0
    adj = s.astype(np.uint64) - np.int64(base).astype(np.uint64) if len(s) else s.astype(np.uint64)
    return {
        "n": n,
        "mean_run": len(s) / runs if runs else 1.0,
        "distinct": len(uniq),
        "distinct_ratio": len(uniq) / max(1, len(s)),
        "monotonic": bool(len(d) == 0 or np.all(d >= 0) or np.all(d <= 0)),
        "zz_width": zz_w,
        "for_width": int(bit_lengths(adj).max(initial=1)) or 1,
    }


def _sample_slices(v: np.ndarray, k: int = 4, span: int = 16384) -> np.ndarray:
    """k contiguous slices spread across the array (keeps run structure)."""
    n = len(v)
    if n <= k * span:
        return v
    starts = [(n - span) * i // (k - 1) for i in range(k)]
    return np.concatenate([v[s : s + span] for s in starts])


def _zprobe(data: bytes) -> int:
    """Fast post-block-compression size probe (zlib level 1 as proxy)."""
    import zlib

    c = zlib.compressobj(1, zlib.DEFLATED, -15)
    return min(len(data), len(c.compress(data) + c.flush()))


def candidate_int_codecs(st: dict) -> list[str]:
    cands = ["rlev2", "raw"]
    if st["for_width"] < st["zz_width"]:
        cands.append("for")
    if st["zz_width"] < 32:
        cands.append("bitpack")
    if st["distinct_ratio"] <= 0.2 and st["distinct"] <= 65536:
        cands.append("dict")
    if st["mean_run"] >= 3:
        cands.append("rlev2_rle")
    cands.append("rankplanes")  # last: a size tie keeps the older codec
    return cands


def encode_ints_auto(values: np.ndarray, boundaries: np.ndarray | None = None) -> tuple[str, bytes]:
    """Trial-based selection: encode a sample with each candidate codec,
    measure its post-block-compression size, encode the full chunk with the
    winner. Mirrors ORC's writer heuristics but with measured (not modeled)
    costs — the sampled stats only prune the candidate list.

    ``boundaries`` (list-column row offsets) row-aligns RLEv2 frames — the
    decode wire format is unchanged.
    """
    v = np.ascontiguousarray(values, dtype=np.int64)
    n = len(v)
    if n == 0:
        return "raw", b""
    st = int_stats(v)
    if st["monotonic"] and n >= 64:
        # decisively delta-shaped: skip the trial round entirely
        return "rlev2", rlev2_encode(v, signed=True, boundaries=boundaries)
    cands = candidate_int_codecs(st)
    sample = _sample_slices(v)
    sizes: dict[str, int] = {}
    for c in cands:
        try:
            enc = INT_CODECS[c][0](sample)
        except (ValueError, OverflowError):
            continue
        sizes[c] = _zprobe(enc)
    codec = min(sizes, key=sizes.get)
    if codec == "rlev2" and boundaries is not None:
        enc = rlev2_encode(v, signed=True, boundaries=boundaries)
    else:
        enc = INT_CODECS[codec][0](v)
    # raw safety fallback only when the winner isn't clearly smaller (skips
    # a full extra array pass on well-compressed chunks)
    if len(enc) > 3.6 * n:
        raw = INT_CODECS["raw"][0](v)
        if len(raw) < len(enc):
            return "raw", raw
    return codec, enc


def choose_string_codec(arr: pa.Array) -> str:
    n = len(arr)
    if n == 0:
        return "str_direct"
    sample = arr.slice(0, min(n, 4096))
    distinct = len(sample.unique())
    dict_wins = distinct / len(sample) <= 0.5
    # FSST trial on a payload sample
    try:
        import orc_rs_spark.kernels.strings as S

        _, payload = S.arrow_string_parts(sample.combine_chunks() if isinstance(sample, pa.ChunkedArray) else sample)
    except (ValueError, TypeError):
        payload = b""
    # 16 KiB decides FSST-vs-not as reliably as 64 KiB (symbol statistics
    # stabilize within a few KiB) at a quarter of the trial-encode cost,
    # which was approaching a full duplicate encode per string column
    probe = payload[: SAMPLE // 4]
    fsst_wins = len(probe) >= 256 and len(fsst_encode(probe, rounds=2)) < 0.9 * len(probe)
    if dict_wins and fsst_wins:
        return "str_dict_fsst"
    if dict_wins:
        return "str_dict"
    if fsst_wins:
        return "str_direct_fsst"
    return "str_direct"


def encode_strings_auto(arr: pa.Array) -> tuple[str, bytes]:
    codec = choose_string_codec(arr)
    return codec, STR_CODECS[codec][0](arr)
