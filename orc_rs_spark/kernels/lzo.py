"""LZO1X codec, from the public format spec (decode AND encode).

ORC's compression kind 3 is raw LZO1X (no lzop container): each
compressed chunk inside the 3-byte ORC block framing is one LZO1X
instruction stream ending in the EOS marker. The instruction grammar
implemented here follows the publicly documented LZO1X format (the
``doc/LZO.TXT`` appendix shipped with liblzo2 and mirrored by every
independent reimplementation, e.g. the Linux kernel's
``lzo1x_decompress_safe`` and Java aircompressor — the pure-Java codec
Spark's ORC reader/writer bundles, which is this module's third-party
cross-validator in tests/test_lzo.py).

Parity note: the reference reader does NOT support LZO — its compression
dispatch covers zlib/snappy/lz4/zstd only (src/compression.rs; the LZO
enum value exists in orc_proto.proto:386 but has no decode arm). This
module therefore EXCEEDS reference parity: kind-3 files written by
Spark/Hive (aircompressor lzo1x_1) decode here, and our files decode in
the JVM.

Instruction grammar (D = distance bits, L = length bits, S = trailing
literal count, H = the following byte(s)):

- first byte > 17: copy (byte - 17) literals; state = min(len, 4)
- ``0000 LLLL`` in state 0: literal run of L+3 (L==0: 18 + 255*zeros +
  next), state=4 afterwards
- ``0000 DDSS`` in state 1-3: copy 2 from d = (H << 2) + D + 1
- ``0000 DDSS`` in state 4: copy 3 from d = (H << 2) + D + 2049
- ``0001 HLLL`` (M4): copy L+2 (L==0 extended) from
  d = 16384 + (H << 14) + (le16 >> 2); d == 16384 is EOS
- ``001L LLLL`` (M3): copy L+2 (L==0 extended) from d = (le16 >> 2) + 1
- ``01LD DDSS`` (M2): copy 3+L from d = (H << 3) + D + 1
- ``1LLD DDSS`` (M2): copy 5+L from d = (H << 3) + D + 1

After every match, S = (low 2 bits of the instruction or its le16) raw
literals follow and set the state.
"""

from __future__ import annotations

import numpy as np

EOS = b"\x11\x00\x00"  # M4, distance exactly 16384


def _take_extended(mb: bytes, pos: int, base: int, tag: str) -> tuple[int, int]:
    """Zero-run extended length: base + 255*zeros + first nonzero byte."""
    n = len(mb)
    length = base
    while True:
        if pos >= n:
            raise ValueError(f"lzo: truncated {tag} length")
        b = mb[pos]
        pos += 1
        if b == 0:
            length += 255
        else:
            return length + b, pos


def lzo1x_decompress(data: bytes, max_size: int | None = None) -> bytes:
    """Decompress one raw LZO1X stream (EOS-terminated)."""
    if len(data) >= 512:
        return _lzo1x_decompress_np(data, max_size)
    return _lzo1x_decompress_scalar(data, max_size)


def _parse(data: bytes, max_size: int | None):
    """Shared instruction walk -> (ls, ll, mo, ml, out_len) sequence
    arrays in the literals-then-match model of
    resolve_copy_sequences. Raises ValueError on any
    malformation; the scalar and NumPy decoders differ only in how they
    move bytes afterwards."""
    mb = bytes(data)
    n = len(mb)
    ls: list[int] = []
    ll: list[int] = []
    mo: list[int] = []
    ml: list[int] = []
    # pending literal block (start, len) waiting for its match partner
    plit_s = plit_l = 0
    out_len = 0
    pos = 0
    state = 0
    if n == 0:
        raise ValueError("lzo: empty stream")
    first = mb[0]
    if first > 17:
        L = first - 17
        pos = 1
        if pos + L > n:
            raise ValueError("lzo: truncated first literal run")
        plit_s, plit_l = pos, L
        pos += L
        out_len += L
        state = 4 if L >= 4 else L
    saw_eos = False
    while True:
        if pos >= n:
            raise ValueError("lzo: stream ended without EOS marker")
        t = mb[pos]
        pos += 1
        if t < 16:
            if state == 0:
                if t == 0:
                    L, pos = _take_extended(mb, pos, 18, "literal")
                else:
                    L = t + 3
                if pos + L > n:
                    raise ValueError("lzo: truncated literal run")
                if plit_l:
                    raise ValueError("lzo: adjacent literal runs")
                plit_s, plit_l = pos, L
                pos += L
                out_len += L
                state = 4
                if max_size is not None and out_len > max_size:
                    raise ValueError("lzo: output exceeds declared size")
                continue
            if state == 4:
                if pos >= n:
                    raise ValueError("lzo: truncated M1 distance")
                d = (mb[pos] << 2) + (t >> 2) + 2049
                pos += 1
                length = 3
            else:  # state 1..3
                if pos >= n:
                    raise ValueError("lzo: truncated M1 distance")
                d = (mb[pos] << 2) + (t >> 2) + 1
                pos += 1
                length = 2
            S = t & 3
        elif t < 32:  # M4
            L = t & 7
            if L == 0:
                L, pos = _take_extended(mb, pos, 7, "M4")
            length = L + 2
            if pos + 2 > n:
                raise ValueError("lzo: truncated M4 distance")
            le16 = mb[pos] | (mb[pos + 1] << 8)
            pos += 2
            d = 16384 + ((t & 8) << 11) + (le16 >> 2)
            S = le16 & 3
            if d == 16384:
                saw_eos = True
                break
        elif t < 64:  # M3
            L = t & 31
            if L == 0:
                L, pos = _take_extended(mb, pos, 31, "M3")
            length = L + 2
            if pos + 2 > n:
                raise ValueError("lzo: truncated M3 distance")
            le16 = mb[pos] | (mb[pos + 1] << 8)
            pos += 2
            d = (le16 >> 2) + 1
            S = le16 & 3
        else:  # M2
            if pos >= n:
                raise ValueError("lzo: truncated M2 distance")
            H = mb[pos]
            pos += 1
            if t < 128:
                length = 3 + ((t >> 5) & 1)
            else:
                length = 5 + ((t >> 5) & 3)
            d = (H << 3) + ((t >> 2) & 7) + 1
            S = t & 3
        if d > out_len:
            raise ValueError(f"lzo: invalid distance {d} at output {out_len}")
        ls.append(plit_s)
        ll.append(plit_l)
        mo.append(d)
        ml.append(length)
        plit_s = plit_l = 0
        out_len += length
        if S:
            if pos + S > n:
                raise ValueError("lzo: truncated trailing literals")
            plit_s, plit_l = pos, S
            pos += S
            out_len += S
        state = S
        if max_size is not None and out_len > max_size:
            raise ValueError("lzo: output exceeds declared size")
    if not saw_eos:
        raise ValueError("lzo: stream ended without EOS marker")
    if plit_l:  # literals pending at EOS (EOS carries no match output)
        ls.append(plit_s)
        ll.append(plit_l)
        mo.append(0)
        ml.append(0)
    return ls, ll, mo, ml, out_len


def _lzo1x_decompress_scalar(data: bytes, max_size: int | None = None) -> bytes:
    """Reference scalar decoder (also the fuzz cross-check for the
    vectorized path)."""
    ls, ll, mo, ml, out_len = _parse(data, max_size)
    mb = bytes(data)
    out = bytearray()
    for s, l, o, m in zip(ls, ll, mo, ml):
        out += mb[s : s + l]
        for _ in range(m):  # byte-at-a-time: overlap semantics
            out.append(out[-o])
    return bytes(out)


def _lzo1x_decompress_np(data: bytes, max_size: int | None = None) -> bytes:
    """NumPy decoder: Python header walk, bulk-gather byte movement."""
    ls, ll, mo, ml, out_len = _parse(data, max_size)
    if out_len == 0:
        return b""
    return resolve_copy_sequences(bytes(data), ls, ll, mo, ml, out_len)


def resolve_copy_sequences(mb: bytes, ls: list, ll: list, mo: list, ml: list,
                           out_len: int) -> bytes:
    """Materialize LZ77-family output from parsed sequences, NumPy-only.

    Back-end of the NumPy lzo decoder: each sequence is (literal src
    start ``ls``, literal length ``ll``, then a back-copy of ``ml`` bytes
    from ``mo`` back; 0 disables either part). All byte movement happens
    in bulk gathers — literals via one fancy-indexed gather, match bytes
    via pointer doubling over a reference array with intra-match overlap
    chains collapsed arithmetically first."""
    lla = np.asarray(ll, dtype=np.int64)
    lsa = np.asarray(ls, dtype=np.int64)
    mla = np.asarray(ml, dtype=np.int64)
    moa = np.asarray(mo, dtype=np.int64)
    seq_end = np.cumsum(lla + mla)
    lit_dst = seq_end - (lla + mla)  # where each seq's literals start
    match_dst = lit_dst + lla  # where each seq's match bytes start

    src = np.frombuffer(mb, dtype=np.uint8)
    # literals: ranges -> flat indices, one gather-scatter pair
    tl = int(lla.sum())
    wl = np.arange(tl, dtype=np.int64) - np.repeat(np.cumsum(lla) - lla, lla)
    lit_src_idx = np.repeat(lsa, lla) + wl
    lit_dst_idx = np.repeat(lit_dst, lla) + wl
    # matches: every match byte references out position (self - offset);
    # literals are fixpoints. Pointer doubling collapses arbitrary copy
    # chains (including overlap/RLE chains) in log2(chain length) gathers.
    tm = int(mla.sum())
    wm = np.arange(tm, dtype=np.int64) - np.repeat(np.cumsum(mla) - mla, mla)
    mpos = np.repeat(match_dst, mla) + wm
    ref = np.arange(out_len, dtype=np.int64)
    rep_o = np.repeat(moa, mla)
    msrc = mpos - rep_o
    # overlap collapse: when offset < match_len the match copies its own
    # output (period = offset). Instead of a per-byte chain back through
    # the match (offset-1 RLE of a full 8 MiB block = a chain the length
    # of the block, ~23 doubling rounds), jump every overlapped byte
    # straight to the periodic pre-image BELOW the match start in one
    # arithmetic step: src = match_start - offset + (pos_in_match % offset).
    # Chain depth is then bounded by the SEQUENCE count, not byte count.
    ov = wm >= rep_o
    if ov.any():
        rep_md = np.repeat(match_dst, mla)
        msrc[ov] = rep_md[ov] - rep_o[ov] + wm[ov] % rep_o[ov]
    ref[mpos] = msrc
    r = ref
    while True:
        r2 = r.take(r)
        if np.array_equal(r2, r):
            break
        r = r2
    # every out position now maps to the literal position that feeds it;
    # litmap turns that into the source byte index
    litmap = np.empty(out_len, dtype=np.int64)
    litmap[lit_dst_idx] = lit_src_idx
    return src.take(litmap.take(r)).tobytes()


# ---------------------------------------------------------------------------
# encoder


def _ext_bytes(rem: int) -> bytes:
    """Encode ``rem`` (>= 1) as 255-run + nonzero terminator."""
    z, b = divmod(rem, 255)
    if b == 0:
        z, b = z - 1, 255
    return b"\x00" * z + bytes([b])


def _emit_literal_run(out: bytearray, src: memoryview, start: int, L: int,
                      first: bool) -> None:
    if L == 0:
        return
    if first and 1 <= L <= 238:
        out.append(17 + L)
    elif L <= 3:
        # only reachable as a FIRST run (inter-match gaps <= 3 ride the
        # previous match's S bits) — handled by the first-byte form above
        raise AssertionError("literal run < 4 outside first position")
    elif L <= 18:
        out.append(L - 3)
    else:
        out.append(0)
        out += _ext_bytes(L - 18)
    out += src[start : start + L]


def lzo1x_compress(data: bytes) -> bytes:
    """Greedy from-spec LZO1X encoder (M2/M3/M4 + literal runs + EOS).

    Matches come from the vectorized single-probe matcher
    (lz77.greedy_matches). Inter-match literal gaps of 1-3
    bytes ride the previous instruction's S bits (the grammar has no
    standalone 1-3 literal run outside the first byte); longer gaps emit
    a state-0 literal run. Distances: <= 2048 & length <= 8 -> M2 (one
    header byte), <= 16384 -> M3, <= 49151 -> M4 (both with extended
    lengths, so long matches never split)."""
    from orc_rs_spark.kernels.lz77 import greedy_matches

    src = memoryview(data)
    n = len(data)
    out = bytearray()
    pos, offs, lens = greedy_matches(data, max_offset=49151, max_match=1 << 20,
                                     min_match=4)
    first = True
    last = 0
    pending_s_slot = -1  # index in `out` of the byte whose low 2 bits take S

    def _flush_gap(gap_start: int, gap_len: int) -> None:
        nonlocal out, first, pending_s_slot
        if gap_len == 0:
            return
        if not first and 1 <= gap_len <= 3 and pending_s_slot >= 0:
            # ride the previous match's S bits (instruction byte for M2,
            # le16 low byte for M3/M4 — the slot index points at either)
            out[pending_s_slot] |= gap_len
            out += src[gap_start : gap_start + gap_len]
        else:
            _emit_literal_run(out, src, gap_start, gap_len, first)
        first = False
        pending_s_slot = -1

    for j, off, L in zip(pos.tolist(), offs.tolist(), lens.tolist()):
        _flush_gap(last, j - last)
        first = False
        if off <= 2048 and 3 <= L <= 8:
            d = off - 1
            if L <= 4:
                t = 0x40 | ((L - 3) << 5) | ((d & 7) << 2)
            else:
                t = 0x80 | ((L - 5) << 5) | ((d & 7) << 2)
            pending_s_slot = len(out)
            out.append(t)
            out.append(d >> 3)
        elif off <= 16384:
            Lf = L - 2
            if Lf <= 31:
                out.append(32 | Lf)
            else:
                out.append(32)
                out += _ext_bytes(Lf - 31)
            le16 = (off - 1) << 2
            pending_s_slot = len(out)
            out.append(le16 & 0xFF)
            out.append(le16 >> 8)
        else:
            dd = off - 16384
            Lf = L - 2
            hbit = (dd >> 11) & 8
            if Lf <= 7:
                out.append(16 | hbit | Lf)
            else:
                out.append(16 | hbit)
                out += _ext_bytes(Lf - 7)
            le16 = (dd & 0x3FFF) << 2
            pending_s_slot = len(out)
            out.append(le16 & 0xFF)
            out.append(le16 >> 8)
        last = j + L
    # trailing literals: <=3 ride the last match's S bits, else a run
    _flush_gap(last, n - last)
    out += EOS
    return bytes(out)
