"""ORC RunLength-encoding v2: short-repeat, direct, patched-base, delta.

Encode AND decode, per the public Apache ORC v1 spec. Parity targets in the
reference (decode-only): /root/reference/src/encoding/rlev2.rs:12-58 (wire
format doc comments), :145-183 (header parse), :231-282 (run state),
:360-423 (emit). Patched-base is ``todo!()`` in the reference
(/root/reference/src/encoding/rlev2.rs:185-187) — implemented here from the
spec alone. Known reference bugs (direct reads num_values-2; ``& -8``
bit-length rounding, SURVEY.md C9) are NOT reproduced; the ORC spec is the
oracle.

One frame pass (``_encode_frames``) picks every frame's sub-mode; the two
encoders differ only in where frames start. ``rlev2_encode`` cuts a 512
grid or row-aligned frames; ``rlev2_encode_runs`` makes every repeat run of
>= 3 values its own frame, which the auto-selector picks only for run-dense
chunks. All per-value math is NumPy-vectorized; Python loops run only over
frames and, when decoding, over run headers.

Decoding is one header walk (``_walk``) and one gather per width for
direct, patched, patch-list and delta payloads (``_unpack_runs``, one
``bitunpack`` each); ``rlev2_run_modes`` is that walk's tally.
"""

from __future__ import annotations

import numpy as np

from orc_rs_spark.kernels.bitpack import (
    bit_lengths,
    bitpack,
    bitunpack,
    closest_delta_width,
    closest_direct_width,
    decode_delta_width,
    decode_direct_width,
    encode_delta_width,
    encode_direct_width,
    packed_size,
)
from orc_rs_spark.kernels.varint import uvarint
from orc_rs_spark.kernels.zigzag import from_unsigned, to_unsigned, zigzag_encode

MAX_RUN = 512  # max values per RLEv2 run (9-bit length field, L-1)
_U64_ONE = np.uint64(1)


# ---------------------------------------------------------------- helpers


def _encode_base(base: int) -> tuple[bytes, int]:
    """Patched-base base value: sign-magnitude, 1-8 big-endian bytes."""
    mag = abs(int(base))
    bits = mag.bit_length() + 1  # +1 sign bit
    bw = min(8, max(1, (bits + 7) // 8))
    u = mag
    if base < 0:
        u |= 1 << (bw * 8 - 1)
    return u.to_bytes(bw, "big"), bw


def _decode_base(raw: bytes, bw: int) -> int:
    # bw comes from the header, not len(raw): a cut stream's short slice
    # decodes to junk here and fails the decoder's truncation check after
    u = int.from_bytes(raw, "big")
    sign_mask = 1 << (bw * 8 - 1)
    if u & sign_mask:
        return -(u & (sign_mask - 1))
    return u


def _signed_varint(x: int) -> bytes:
    # Python's arithmetic shifts make (x << 1) ^ (x >> 63) exact zigzag for
    # any int64 x, including the -2^63 wraparound case
    return uvarint((x << 1) ^ (x >> 63))


def _unsigned_varint(x: int) -> bytes:
    return uvarint(x & 0xFFFFFFFFFFFFFFFF)


# ---------------------------------------------------------------- encoders


def _emit_short_repeat(value: int, count: int, signed: bool, out: list) -> None:
    u = ((value << 1) ^ (value >> 63)) if signed else (value & 0xFFFFFFFFFFFFFFFF)
    w = max(1, (u.bit_length() + 7) // 8)
    out.append(bytes([((w - 1) << 3) | (count - 3)]))
    out.append(u.to_bytes(w, "big"))


def _emit_direct(v: np.ndarray, signed: bool, out: list) -> None:
    u = to_unsigned(v, signed)
    w = closest_direct_width(int(bit_lengths(u).max(initial=0)) or 1)
    n = len(v)
    out.append(bytes([(1 << 6) | (encode_direct_width(w) << 1) | ((n - 1) >> 8), (n - 1) & 0xFF]))
    out.append(bitpack(u, w))


def _emit_fixed_delta(value: int, count: int, signed: bool, out: list) -> None:
    """Constant run (count >= 2) as a delta run of width 0: base + delta 0."""
    out.append(bytes([(3 << 6) | ((count - 1) >> 8), (count - 1) & 0xFF]))
    out.append(_signed_varint(value) if signed else _unsigned_varint(value))
    out.append(b"\x00")


def _emit_delta(
    v: np.ndarray, diffs: np.ndarray, signed: bool, out: list, max_mag_width: int
) -> None:
    """Monotonic run of >= 3 values: base + delta-base varints + bit-packed
    |deltas| (``max_mag_width``: bit length of the largest |delta| after the
    first)."""
    n = len(v)
    w = closest_delta_width(max_mag_width)
    if w == 0 and not np.all(diffs == diffs[0]):
        w = 2  # all |deltas| after first are 0/1 but not fixed -> min packed width
    out.append(
        bytes([(3 << 6) | (encode_delta_width(w) << 1) | ((n - 1) >> 8), (n - 1) & 0xFF])
    )
    out.append(_signed_varint(int(v[0])) if signed else _unsigned_varint(int(v[0])))
    out.append(_signed_varint(int(diffs[0])))
    if w > 0:
        out.append(bitpack(np.abs(diffs[1:]).astype(np.uint64), w))


def _patched_plan(
    n: int, base: int, adj: np.ndarray, bls: np.ndarray, w: int, min_pll: int
) -> tuple[int, tuple] | None:
    """Size a patched-base run at main width ``w`` WITHOUT bit-packing.

    Returns (total_bytes, plan) or None when the patch constraints (PLL<=31,
    gap width<=8 bits, w+pw<=64) can't be met. The frame pass sizes a
    frame's candidate widths this way and writes only the winner's header
    and patch list; its DATA joins the per-width batch pack.
    """
    patch_idx = np.flatnonzero(bls > w)
    if len(patch_idx) > 31:
        return None
    if len(patch_idx) == 0:
        # pure frame-of-reference: zero patches is wire-legal (PLL=0)
        gaps = np.empty(0, dtype=np.uint64)
        patches = np.empty(0, dtype=np.uint64)
    else:
        gaps = np.diff(patch_idx, prepend=0).astype(np.uint64)
        patches = (adj[patch_idx] >> np.uint64(w)).astype(np.uint64)
        if gaps.max(initial=0) > 255:
            # expand gaps > 255 with zero-patch filler entries
            eg, ep = [], []
            for g, p in zip(gaps.tolist(), patches.tolist()):
                while g > 255:
                    eg.append(255)
                    ep.append(0)
                    g -= 255
                eg.append(g)
                ep.append(p)
            gaps = np.array(eg, dtype=np.uint64)
            patches = np.array(ep, dtype=np.uint64)
    pll = len(gaps)
    if pll > 31:
        return None
    if pll < min_pll:
        # strict-ORC mode: the canonical Java reader crashes on PLL=0
        # (ArrayIndexOutOfBounds in readPatchedBaseValues), so files written
        # for interop never emit the zero-patch frame-of-reference form
        return None
    # patch/gap lists are <=31 entries: scalar bit_length beats array kernels
    pw = closest_direct_width(max((int(x).bit_length() for x in patches.tolist()), default=1) or 1)
    if w + pw > 64:
        return None
    pgw = max(1, max((int(x).bit_length() for x in gaps.tolist()), default=1))
    if pgw > 8:
        return None
    bw = min(8, max(1, (abs(base).bit_length() + 1 + 7) // 8))
    cw = closest_direct_width(pgw + pw)
    size = 4 + bw + packed_size(n, w) + packed_size(pll, cw)
    return size, (n, base, w, pw, pgw, pll, cw, gaps, patches)


def _frame_spans(n: int, boundaries: np.ndarray | None) -> tuple[np.ndarray, np.ndarray]:
    """Frame (start, end) arrays: fixed 512 grid, or greedy row-aligned.

    With ``boundaries`` (sorted positions where logical rows start), each
    frame ends at the last row boundary within 512 values — keeping frames
    regime-homogeneous when consecutive rows differ in token structure —
    falling back to a hard cut at 512 for rows longer than a frame.
    """
    if boundaries is None:
        starts = np.arange(0, n, MAX_RUN, dtype=np.int64)
    else:
        b = np.asarray(boundaries, dtype=np.int64)
        starts_list = [0]
        cur = 0
        while cur + MAX_RUN < n:
            j = int(np.searchsorted(b, cur + MAX_RUN, side="right")) - 1
            nxt = int(b[j]) if j >= 0 and b[j] > cur else cur + MAX_RUN
            nxt = min(nxt, cur + MAX_RUN)
            starts_list.append(nxt)
            cur = nxt
        starts = np.array(starts_list, dtype=np.int64)
    return starts, np.append(starts[1:], n)


def rlev2_encode(
    values: np.ndarray,
    signed: bool = True,
    boundaries: np.ndarray | None = None,
    strict_orc: bool = False,
) -> bytes:
    """Frame-adaptive RLEv2 encode: cheapest sub-mode per frame.

    Frames are a fixed 512 grid, or row-aligned when ``boundaries`` is given
    (list-column offsets — frames then respect row structure, which on
    per-row-regime data beats the grid by ~10%).
    """
    v = np.ascontiguousarray(values, dtype=np.int64)
    if len(v) == 0:
        return b""
    return _encode_frames(v, *_frame_spans(len(v), boundaries), signed, strict_orc)


def rlev2_encode_runs(values: np.ndarray, signed: bool = True) -> bytes:
    """Run-aligned RLEv2 encode for run-dense chunks.

    Every exact-repeat run of >= 3 values is its own frame (cut every 512
    values from the run's start), so the frame pass writes it as one
    short-repeat (3-10 values) or fixed-delta run; each maximal stretch of
    shorter runs takes the 512 grid from where it starts. Only the spans
    differ from ``rlev2_encode``; the per-frame choice is the same.
    """
    v = np.ascontiguousarray(values, dtype=np.int64)
    n = len(v)
    if n == 0:
        return b""
    run_starts = np.concatenate(([0], np.flatnonzero(np.diff(v)) + 1))
    is_long = np.diff(run_starts, append=n) >= 3
    # a span starts at every long run and at the first short run after one
    span_starts = run_starts[is_long | np.concatenate(([True], is_long[:-1]))]
    counts = (np.diff(span_starts, append=n) + MAX_RUN - 1) // MAX_RUN
    first = np.cumsum(counts) - counts  # index of each span's first frame
    starts = np.repeat(span_starts, counts) + MAX_RUN * (
        np.arange(int(counts.sum())) - np.repeat(first, counts)
    )
    return _encode_frames(v, starts, np.append(starts[1:], n), signed, False)


def _encode_frames(
    v: np.ndarray, starts: np.ndarray, ends: np.ndarray, signed: bool, strict_orc: bool
) -> bytes:
    """Encode contiguous frames ``[starts[i], ends[i])`` of ``v`` (each of
    1-512 values, together covering ``v``), picking each frame's cheapest
    sub-mode.

    Per-frame statistics (min/max, monotonicity, zigzag/FoR bit widths,
    delta widths) come from a handful of whole-array NumPy passes using
    ``ufunc.reduceat``; the per-frame Python loop only dispatches and emits.
    This is the bulk-stats analogue of the SIMD work the reference left as a
    TODO (its src/encoding/rlev2.rs:98).
    """
    n = len(v)
    out: list = []
    k = len(starts)
    seg_lens = ends - starts
    mins = np.minimum.reduceat(v, starts)
    maxs = np.maximum.reduceat(v, starts)
    const = mins == maxs
    # per-frame monotonicity from global diffs; boundary diffs neutralized
    d = np.diff(v) if n > 1 else np.empty(0, dtype=np.int64)
    if len(d):
        bpos = ends[:-1] - 1  # diffs that straddle frame boundaries
        # zeroing boundary diffs in place is safe: the emit slices
        # (d[s:e-1]) exclude them, and 0 is neutral for every per-frame
        # reduction below — this lets min/max reduceat decide monotonicity
        # directly instead of materializing two boolean arrays + inverts
        first_d = d[np.minimum(starts, len(d) - 1)]
        d[bpos] = 0
        rstart = np.minimum(starts, len(d) - 1)
        inc = np.minimum.reduceat(d, rstart) >= 0
        dec = np.maximum.reduceat(d, rstart) <= 0
        # |delta| widths excluding each frame's first diff and boundary
        # diffs. bit_length is monotonic over uint64, so max-reduce the
        # VALUES per frame and bit-length the k-element result — one
        # whole-array pass (abs) instead of the full bit_lengths kernel
        dmag = np.abs(d).view(np.uint64)
        dmag[np.minimum(starts, len(d) - 1)] = 0
        delta_w = bit_lengths(np.maximum.reduceat(dmag, rstart))
        single = seg_lens == 1
        inc[single] = True
        dec[single] = True
    else:
        inc = dec = np.ones(k, dtype=bool)
        first_d = np.zeros(k, dtype=np.int64)
        delta_w = np.zeros(k, dtype=np.int64)
    safe_range = (maxs.view(np.uint64) - mins.view(np.uint64)) < (
        np.uint64(1) << np.uint64(63)
    )
    mono = (inc | (dec & (first_d != 0))) & safe_range & ~const
    # per-frame max ZIGZAG value without a whole-array zigzag pass:
    # zigzag(x) grows with x for x >= 0 and with |x| for x < 0, so the
    # frame's max zigzag is at one of its extremes — k-sized math on the
    # min/max arrays already computed (unsigned mode's uint64 view is free
    # but its max isn't derivable from int64 min/max under mixed signs,
    # so it keeps the reduceat)
    if signed:
        zz_frame_max = np.maximum(zigzag_encode(maxs), zigzag_encode(mins))
    else:
        zz_frame_max = np.maximum.reduceat(v.view(np.uint64), starts)
    # same monotonicity trick: bit-length the per-frame MAX, not the array
    zz_w = bit_lengths(zz_frame_max)
    from orc_rs_spark.kernels.bitpack import DIRECT_WIDTH_TABLE

    dir_w = DIRECT_WIDTH_TABLE[np.searchsorted(DIRECT_WIDTH_TABLE, np.maximum(zz_w, 1))]
    # patched-base probe stats, computed ONLY if some frame can reach the
    # probe branch (non-const, non-mono, >=8 values) — monotonic/constant
    # columns (offsets, ids) skip three whole-array passes + a histogram
    if bool(np.any(~const & ~mono & (seg_lens >= 8))):
        adj_all = v.view(np.uint64) - np.repeat(mins, seg_lens).view(np.uint64)
        abls = bit_lengths(adj_all)
        fw = np.maximum.reduceat(abls, starts)
        # FoR width rounded to the table, and the 90th-percentile bit-length
        # order statistic for every frame in bulk: bit lengths are 0..64, so
        # one bincount over the whole array + a k x 65 cumsum replaces a
        # np.partition per frame (65*frame_id is fused into the repeat to
        # avoid an extra n-sized multiply temp)
        wfc_all = DIRECT_WIDTH_TABLE[np.searchsorted(DIRECT_WIDTH_TABLE, np.maximum(fw, 1))]
        hist = np.bincount(
            np.repeat(np.arange(k, dtype=np.int64) * 65, seg_lens) + abls,
            minlength=k * 65,
        ).reshape(k, 65)
        rank = (9 * (seg_lens - 1)) // 10 + 1  # 1-based rank of the q90 statistic
        w90_bl = np.argmax(np.cumsum(hist, axis=1) >= rank[:, None], axis=1)
        w90_tab = DIRECT_WIDTH_TABLE[np.searchsorted(DIRECT_WIDTH_TABLE, np.maximum(w90_bl, 1))]
        w90_all = np.where(wfc_all >= 4, w90_tab, wfc_all)
    else:
        adj_all = abls = wfc_all = w90_all = None
    # direct frames are batched per width: padding every frame to a multiple
    # of 8 values makes each frame's packed bytes byte-aligned and
    # independent, so ONE bitpack call per distinct width replaces one call
    # per frame (the per-call dispatch dominated encode time)
    direct_groups: dict[int, list[tuple[int, int, int]]] = {}  # w -> [(out_idx, s, e)]
    patched_groups: dict[int, list[tuple[int, int, int]]] = {}  # w -> [(out_idx, s, e)]
    # the loop reads Python lists: indexing NumPy arrays once per frame
    # boxes a scalar each time, which run-aligned spans (many tiny frames)
    # pay for on every run
    for i, (s, e, is_const, is_mono, lo, w_direct) in enumerate(
        zip(starts.tolist(), ends.tolist(), const.tolist(), mono.tolist(), mins.tolist(),
            dir_w.tolist())
    ):
        L = e - s
        if is_const:
            if 3 <= L <= 10:
                _emit_short_repeat(lo, L, signed, out)
            elif L < 3:
                _emit_direct(v[s:e], signed, out)
            else:
                _emit_fixed_delta(lo, L, signed, out)
            continue
        if is_mono and L >= 3:
            _emit_delta(v[s:e], d[s : e - 1], signed, out, int(delta_w[i]))
            continue
        cost_direct = 2 + packed_size(L, w_direct)
        # patched-base plausible when FoR alone shrinks width, or when the
        # frame is big enough that trimming outliers can pay for the header
        # (wfc_all is None only when NO frame can reach here — see above)
        if wfc_all is not None and L >= 8 and abs(lo).bit_length() + 1 <= 64:
            wfc = int(wfc_all[i])
            seg_bls = abls[s:e]
            w90c = int(w90_all[i])
            est_patched = 4 + 9 + packed_size(L, min(w90c, wfc)) + (31 * 5 if w90c < wfc else 0)
            if est_patched < cost_direct:
                best_plan = None
                best_size = cost_direct
                for w in {w90c, wfc}:
                    sized = _patched_plan(L, lo, adj_all[s:e], seg_bls, w, 1 if strict_orc else 0)
                    if sized is not None and sized[0] < best_size:
                        best_size, best_plan = sized
                if best_plan is not None:
                    # header + base + (small) patch entries now; the DATA
                    # pack joins the per-width batch below
                    (pn, pbase, pw_, ppw, ppgw, ppll, pcw, pgaps, ppatches) = best_plan
                    base_bytes, pbw = _encode_base(pbase)
                    out.append(
                        bytes(
                            [
                                (2 << 6) | (encode_direct_width(pw_) << 1) | ((pn - 1) >> 8),
                                (pn - 1) & 0xFF,
                                ((pbw - 1) << 5) | encode_direct_width(ppw),
                                ((ppgw - 1) << 5) | ppll,
                            ]
                        )
                    )
                    out.append(base_bytes)
                    out.append(b"")  # DATA placeholder (batched)
                    patched_groups.setdefault(pw_, []).append((len(out) - 1, s, e))
                    out.append(bitpack((pgaps << np.uint64(ppw)) | ppatches, pcw))
                    continue
        out.append(
            bytes(
                [
                    (1 << 6) | (encode_direct_width(w_direct) << 1) | ((L - 1) >> 8),
                    (L - 1) & 0xFF,
                ]
            )
        )
        out.append(b"")  # placeholder, filled by the per-width batch pack
        direct_groups.setdefault(w_direct, []).append((len(out) - 1, s, e))
    def _batch_pack(
        groups: dict, source: np.ndarray, mask_to_w: bool, zigzag: bool = False
    ) -> None:
        for w, frames in groups.items():
            padded_total = sum((e - s + 7) // 8 * 8 for _, s, e in frames)
            buf = np.zeros(padded_total, dtype=np.uint64)
            pos = 0
            for _, s, e in frames:
                buf[pos : pos + (e - s)] = source[s:e]
                pos += (e - s + 7) // 8 * 8
            if zigzag:
                # zigzag only the gathered direct-frame values (padding
                # zeros map to 0) instead of a whole-array pass up front
                buf = zigzag_encode(buf.view(np.int64))
            if mask_to_w and w < 64:
                buf &= (_U64_ONE << np.uint64(w)) - _U64_ONE
            packed = bitpack(buf, w)
            off = 0
            for out_idx, s, e in frames:
                L = e - s
                nb = packed_size(L, w)
                out[out_idx] = packed[off : off + nb]
                off += (L + 7) // 8 * 8 * w // 8

    _batch_pack(direct_groups, v.view(np.uint64), mask_to_w=False, zigzag=signed)
    # patched DATA keeps only the low w bits (outlier high bits ride the
    # patch list)
    _batch_pack(patched_groups, adj_all, mask_to_w=True)
    return b"".join(out)


# ---------------------------------------------------------------- decoder

_MODES = ("short_repeat", "direct", "patched", "delta")


def _walk(buf, count: int, signed: bool, out: np.ndarray) -> tuple:
    """One pass over a stream's run headers.

    Short-repeat, fixed-delta and one-value delta runs are written straight
    into ``out``. Every bit-packed payload is only recorded, by width, for
    ``_unpack_runs``; each record starts with the payload's (pos, n, k):

    - direct ``[pos, n, k, got, take]``: consecutive frames of one width and
      one multiple-of-8 length (the encoder's 512-value frames) merge into
      one record of k frames, since their payloads sit a fixed stride apart;
    - patched-base DATA ``[pos, n, 1, got, take, base, patches]``, where the
      finish step fills ``patches`` from the frame's patch list;
    - patch lists ``(pos, pll, 1, frame, pw)``, by combined gap+patch width;
    - delta magnitudes ``(pos, n - 2, 1, got, take, base, dbase)``.

    Returns those four dicts and the tally of run headers per sub-mode (in
    ``_MODES`` order). A run cut off by the end of the buffer raises
    ValueError."""
    mb = buf if isinstance(buf, bytes) else bytes(buf)  # plain-int indexing
    direct: dict[int, list] = {}
    patched: dict[int, list] = {}
    patch_lists: dict[int, list] = {}
    deltas: dict[int, list] = {}
    tally = [0, 0, 0, 0]
    pos = got = 0
    blen = len(mb)
    try:
        while got < count and pos < blen:
            h0 = mb[pos]
            tag = h0 >> 6
            tally[tag] += 1
            if tag == 0:  # short repeat
                w = ((h0 >> 3) & 0x7) + 1
                n = (h0 & 0x7) + 3
                u = int.from_bytes(mb[pos + 1 : pos + 1 + w], "big")
                if signed:
                    val = (u >> 1) ^ -(u & 1)
                else:  # int64 wrap, matching the array path's uint64->int64 view
                    val = u - (1 << 64) if u >= (1 << 63) else u
                out[got : got + n] = val
                pos += 1 + w
                got += n
                continue
            n = (((h0 & 1) << 8) | mb[pos + 1]) + 1
            take = min(n, count - got)
            if tag == 1:  # direct
                w = decode_direct_width((h0 >> 1) & 0x1F)
                pos += 2
                nb = packed_size(n, w)
                runs = direct.setdefault(w, [])
                run = runs[-1] if runs else None
                if run is not None and run[1] == n and not n & 7 and run[0] + run[2] * (nb + 2) == pos:
                    run[2] += 1
                    run[4] += take
                else:
                    runs.append([pos, n, 1, got, take])
                pos += nb
            elif tag == 2:  # patched base
                w = decode_direct_width((h0 >> 1) & 0x1F)
                h2, h3 = mb[pos + 2], mb[pos + 3]
                bw = (h2 >> 5) + 1
                pw = decode_direct_width(h2 & 0x1F)
                pgw = (h3 >> 5) + 1
                pll = h3 & 0x1F
                pos += 4 + bw
                frame = [pos, n, 1, got, take, _decode_base(mb[pos - bw : pos], bw), None]
                patched.setdefault(w, []).append(frame)
                pos += packed_size(n, w)
                if pll:
                    if pgw + pw > 64:
                        # width table has no entry past 64; a crafted header
                        # (e.g. pw=64, pgw=8) must fail as malformed, not
                        # IndexError past the 32-entry table
                        raise ValueError("invalid patched-base header: pgw + pw > 64")
                    cw = closest_direct_width(pgw + pw)
                    patch_lists.setdefault(cw, []).append((pos, pll, 1, frame, pw))
                    pos += packed_size(pll, cw)
            else:  # delta
                w = decode_delta_width((h0 >> 1) & 0x1F)
                pos += 2
                u = 0
                shift = 0
                while True:  # inline varint: ~40x cheaper than an array call
                    byte = mb[pos]
                    pos += 1
                    u |= (byte & 0x7F) << shift
                    if not byte & 0x80:
                        break
                    shift += 7
                if signed:
                    base = (u >> 1) ^ -(u & 1)
                else:  # int64 wrap, as in the short-repeat arm
                    base = u - (1 << 64) if u >= (1 << 63) else u
                if n == 1:
                    out[got] = base
                else:
                    u = 0
                    shift = 0
                    while True:
                        byte = mb[pos]
                        pos += 1
                        u |= (byte & 0x7F) << shift
                        if not byte & 0x80:
                            break
                        shift += 7
                    dbase = (u >> 1) ^ -(u & 1)
                    if w == 0:  # fixed delta: closed form, no cumsum needed
                        out[got : got + take] = base + dbase * np.arange(take, dtype=np.int64)
                    else:
                        deltas.setdefault(w, []).append((pos, n - 2, 1, got, take, base, dbase))
                        pos += packed_size(n - 2, w)
            got += n
    except IndexError:  # a header or a varint cut off by the end of the buffer
        pos = blen + 1
    if got < count or pos > blen:  # a run (or its payload) is cut off
        raise ValueError(f"RLEv2 stream truncated at {got}/{count} values")
    return direct, patched, patch_lists, deltas, tally


def _unpack_runs(b: np.ndarray, w: int, runs: list) -> np.ndarray:
    """Unpack the ``w``-bit payloads of ``runs`` with one bitunpack.

    Each run starts with (pos, n, k): k payloads of n values, the first at
    byte ``pos`` of ``b`` and each next one a 2-byte header further on
    (merged direct frames; k is 1 for every other payload). Each payload is
    zero-padded to a multiple of 8 values, so it stays byte-aligned and
    independent; a run's values start at the sum of the earlier runs'
    ``(n + 7) // 8 * 8 * k``."""
    padded = 0
    for r in runs:
        padded += (r[1] + 7) // 8 * 8 * r[2]
    packed = np.zeros(padded * w // 8, dtype=np.uint8)
    off = 0
    for r in runs:
        p, n, k = r[0], r[1], r[2]
        nb = packed_size(n, w)
        if k == 1:  # a plain slice copy: the strided view costs more here
            packed[off : off + nb] = b[p : p + nb]
        else:  # k payloads of n % 8 == 0 values, each followed by a header
            packed[off : off + k * nb].reshape(k, nb)[...] = np.ndarray(
                (k, nb), dtype=np.uint8, buffer=b, offset=p, strides=(nb + 2, 1))
        off += (n + 7) // 8 * k * w
    return bitunpack(packed, w, padded)


def rlev2_decode(buf: bytes, count: int, signed: bool = True) -> np.ndarray:
    """Decode ``count`` values from an RLEv2 stream -> int64 array.

    Handles arbitrary interleavings of all four sub-modes, like the
    reference's dispatch (its src/encoding/rlev2.rs:145-183)
    plus the patched-base mode it left unimplemented: one header walk
    (``_walk``), then one ``_unpack_runs`` per payload kind and width.
    """
    b = np.frombuffer(buf, dtype=np.uint8)
    out = np.empty(count, dtype=np.int64)
    direct, patched, patch_lists, deltas, _ = _walk(buf, count, signed, out)
    for w, runs in direct.items():
        vals = from_unsigned(_unpack_runs(b, w, runs), signed)
        voff = 0
        for _, n, k, g, take in runs:
            out[g : g + take] = vals[voff : voff + take]
            voff += (n + 7) // 8 * 8 * k
    # patch lists (<= 31 entries each) before the DATA they patch
    for cw, lists in patch_lists.items():
        ents = _unpack_runs(b, cw, lists)
        voff = 0
        for _, pll, _, frame, pw in lists:
            e = ents[voff : voff + pll]
            idx = np.cumsum((e >> np.uint64(pw)).astype(np.int64))  # gaps >= 0
            if idx[-1] >= frame[1]:
                raise ValueError(
                    f"invalid patched-base patch: index {idx[-1]} in a {frame[1]}-value run")
            frame[6] = idx, e & ((_U64_ONE << np.uint64(pw)) - _U64_ONE)
            voff += (pll + 7) // 8 * 8
    for w, frames in patched.items():
        vals = _unpack_runs(b, w, frames)
        voff = 0
        for _, n, _, g, take, base, patches in frames:
            seg = vals[voff : voff + n]
            if patches is not None:
                seg[patches[0]] |= patches[1] << np.uint64(w)
            out[g : g + take] = (seg[:take] + np.uint64(base & 0xFFFFFFFFFFFFFFFF)).view(np.int64)
            voff += (n + 7) // 8 * 8
    for w, frames in deltas.items():
        # tile into ~128K-value groups: amortizes the per-frame Python cost
        # ~250x while keeping every batched pass (gather, unpack, cumsum)
        # inside L2/L3 — a global pass re-streams DRAM and loses the win
        # back at high core counts where bandwidth is the budget
        start = tile = 0
        for i, f in enumerate(frames):
            tile += f[1] + 2
            if tile >= 131072 or i == len(frames) - 1:
                _decode_delta_group(frames[start : i + 1], w, b, out)
                start, tile = i + 1, 0
    return out


def _decode_delta_group(frames: list, w: int, b: np.ndarray, out: np.ndarray) -> None:
    """Variable-delta frames of one width: one unpack of their magnitudes and
    ONE cumsum over all frames' deltas (per-frame values recover as
    differences against each frame's running offset; int64 wraparound in
    the cumsum cancels in the difference, mod-2^64 arithmetic)."""
    m_counts = np.array([f[1] for f in frames], dtype=np.int64)
    mags_padded = _unpack_runs(b, w, frames).view(np.int64)
    # one delta sequence per frame: [dbase, sign*mag, sign*mag, ...];
    # padding stripped by per-frame slice writes (frames are ~512 vals,
    # so this loop is 1/512th of the data volume)
    d_counts = m_counts + 1
    d_starts_np = np.cumsum(d_counts) - d_counts
    d_starts = d_starts_np.tolist()
    total_d = int(d_counts.sum())
    deltas = np.empty(total_d, dtype=np.int64)
    po = 0
    for i, (_, m, _, _, _, _, dbase) in enumerate(frames):
        ds = d_starts[i]
        deltas[ds] = dbase
        if m:
            if dbase < 0:
                np.negative(mags_padded[po : po + m], out=deltas[ds + 1 : ds + 1 + m])
            else:
                deltas[ds + 1 : ds + 1 + m] = mags_padded[po : po + m]
        po += (m + 7) // 8 * 8
    csum = np.cumsum(deltas)
    if len(frames) > 1:
        frame_offs = np.concatenate(([0], csum[d_starts_np[1:] - 1])).tolist()
    else:
        frame_offs = [0]
    for i, (_, _, _, g, take, base, _) in enumerate(frames):
        out[g] = base
        if take > 1:
            a = d_starts[i]
            # base and the running offset are both int64; their difference
            # wraps mod 2^64 like the cumsum it is added to
            shift = (base - frame_offs[i] + (1 << 63)) % (1 << 64) - (1 << 63)
            out[g + 1 : g + take] = shift + csum[a : a + take - 1]


def rlev2_run_modes(buf: bytes, count: int) -> dict[str, int]:
    """Tally sub-mode usage across a stream's run headers (diagnostic).

    This is the decoder's header walk, run into a scratch array with every
    bit-packed payload left packed — the gate query for patched-base (C11,
    ``todo!()`` in the reference, rlev2.rs:185-187) uses it to CERTIFY the
    encoder actually routed frames to patched-base rather than merely
    producing decodable bytes."""
    tally = _walk(buf, count, False, np.empty(count, dtype=np.int64))[4]
    return dict(zip(_MODES, tally))
