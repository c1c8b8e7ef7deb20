"""ORC RunLength-encoding v2: short-repeat, direct, patched-base, delta.

Encode AND decode, per the public Apache ORC v1 spec. Parity targets in the
reference (decode-only): its src/encoding/rlev2.rs:12-58 (wire format doc
comments), :145-183 (header parse), :231-282 (run state), :360-423 (emit).
Patched-base is ``todo!()`` there (:185-187) — implemented here from the
spec alone. Known reference bugs (direct reads num_values-2; ``& -8``
bit-length rounding, SURVEY.md C9) are NOT reproduced; the ORC spec is the
oracle.

Encoding is one pricing pass and one pack per tile. ``_encode_frames``
cuts the frames into tiles of whole frames, each of at most ``_TILE``
(256 Ki) values, and encodes one tile at a time. Within a tile,
``_encode_tile`` picks every frame's sub-mode with tile-wide operations
(``_patched_plans`` prices patched-base for all its frames at once), and
its per-frame loop writes only headers, base values and varints. Then one
``_pack_payloads`` per payload kind and width packs the direct, patched,
patch-list and delta payloads: the encoder's only ``bitpack`` call. A
frame's sub-mode depends only on its own values, so tiling leaves the
bytes as they are; it caps the working set at ~60 B per tile value
(~16 MB, where one 942 k-value token stream took 54 MB in one pass) at no
measurable CPU cost. Smaller tiles are dearer: each pays ~2 ms for its own
``_pack_payloads`` calls (64 Ki-value tiles: +19% CPU). The three encoders
differ only in where frames start: ``rlev2_encode`` cuts a 512 grid or
row-aligned frames; ``rlev2_encode_runs`` makes every repeat run of >= 3
values its own frame, which the auto-selector picks only for run-dense
chunks; ``rlev2_encode_groups`` restarts the 512 grid at every cut and
returns one piece per group (an ORC stripe's row groups).

Decoding is one header walk (``_walk``) and one gather per width for
direct, patched, patch-list and delta payloads (``_unpack_runs``, one
``bitunpack`` each); ``rlev2_run_modes`` is that walk's tally.
"""

from __future__ import annotations

import numpy as np

from orc_rs_spark.kernels.bitpack import (
    DIRECT_WIDTH_TABLE,
    bit_lengths,
    bitpack,
    bitunpack,
    closest_direct_width,
    decode_delta_width,
    decode_direct_width,
    packed_size,
)
from orc_rs_spark.kernels.varint import uvarint
from orc_rs_spark.kernels.zigzag import from_unsigned, zigzag_encode

MAX_RUN = 512  # max values per RLEv2 run (9-bit length field, L-1)
_TILE = 1 << 18  # max values per encoder tile (see the module docstring)
_U64_ONE = np.uint64(1)
_INT64_MIN = np.iinfo(np.int64).min


# ---------------------------------------------------------------- helpers


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


def _table_width(bits: np.ndarray) -> np.ndarray:
    """Bit widths rounded up to the 5-bit width table (0 rounds to 1)."""
    return DIRECT_WIDTH_TABLE[np.searchsorted(DIRECT_WIDTH_TABLE, np.maximum(bits, 1))]


def _packed(count: np.ndarray, width: np.ndarray) -> np.ndarray:
    return (count * width + 7) // 8


# ---------------------------------------------------------------- encoders


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
    starts, _ = _span_grid(span_starts, n)
    return _encode_frames(v, starts, np.append(starts[1:], n), signed, False)


def rlev2_encode_groups(values: np.ndarray, cuts, signed: bool) -> list[bytes]:
    """Strict-ORC RLEv2 of each group ``values[cuts[g]:cuts[g + 1]]``, in
    one frame pass.

    ``cuts`` are ascending offsets from 0 to ``len(values)``; a group may
    be empty. Frames restart on a 512 grid at every cut, and a frame's
    bytes depend only on its own values, so piece g equals
    ``rlev2_encode(values[cuts[g]:cuts[g + 1]], signed, strict_orc=True)``
    (an ORC writer's row groups, whose streams restart at each group)."""
    v = np.ascontiguousarray(values, dtype=np.int64)
    cuts = np.asarray(cuts, dtype=np.int64)
    n = len(v)
    if n == 0:
        return [b""] * (len(cuts) - 1)
    starts, counts = _span_grid(cuts[:-1], n)
    out = _frame_parts(v, starts, np.append(starts[1:], n), signed, True)
    bounds = (3 * np.concatenate(([0], np.cumsum(counts)))).tolist()
    return [b"".join(out[a:b]) for a, b in zip(bounds, bounds[1:])]


def _span_grid(span_starts: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Frame starts that cut each span ``[span_starts[i], span_starts[i +
    1])`` (the last one ending at ``n``) on a 512 grid from the span's own
    start, and the number of frames of each span (0 for an empty one)."""
    counts = (np.diff(span_starts, append=n) + MAX_RUN - 1) // MAX_RUN
    first = np.cumsum(counts) - counts  # index of each span's first frame
    starts = np.repeat(span_starts, counts) + MAX_RUN * (
        np.arange(int(counts.sum())) - np.repeat(first, counts)
    )
    return starts, counts


def _encode_frames(
    v: np.ndarray, starts: np.ndarray, ends: np.ndarray, signed: bool, strict_orc: bool
) -> bytes:
    """Encode contiguous frames ``[starts[i], ends[i])`` of ``v`` (each of
    1-512 values, together covering ``v``), picking each frame's cheapest
    sub-mode."""
    return b"".join(_frame_parts(v, starts, ends, signed, strict_orc))


def _frame_parts(
    v: np.ndarray, starts: np.ndarray, ends: np.ndarray, signed: bool, strict_orc: bool
) -> list:
    """``_encode_frames`` as the stream's parts: frame i owns ``[3i:3i+3]``.

    Tiles of whole frames, each of at most ``_TILE`` values, go through
    ``_encode_tile`` one at a time, so its temporaries stay tile-sized; a
    frame's bytes depend only on its own values, so the tiles' outputs
    concatenate."""
    out: list = []
    lo = 0
    while lo < len(starts):
        a = int(starts[lo])
        hi = int(np.searchsorted(ends, a + _TILE, side="right"))
        b = int(ends[hi - 1])
        out += _encode_tile(v[a:b], starts[lo:hi] - a, ends[lo:hi] - a, signed, strict_orc)
        lo = hi
    return out


def _encode_tile(
    v: np.ndarray, starts: np.ndarray, ends: np.ndarray, signed: bool, strict_orc: bool
) -> list:
    """The bytes of frames ``[starts[i], ends[i])`` covering ``v``, as the
    list of their headers and payloads in stream order.

    Every choice is made for all frames at once: per-frame statistics
    (min/max, monotonicity, zigzag/FoR bit widths, delta widths) come from
    tile-wide ``ufunc.reduceat`` passes, and ``_patched_plans`` prices
    patched-base the same way. This is the bulk-stats analogue of the SIMD
    work the reference left as a TODO (its src/encoding/rlev2.rs:98). The
    per-frame loop writes only headers, base values and varints; then one
    ``_pack_payloads`` per payload kind and width fills in every bit-packed
    payload. Frame i owns ``out[3i:3i+3]``: header, payload (direct values,
    patched DATA or delta magnitudes) and patch list.
    """
    n = len(v)
    k = len(starts)
    seg_lens = ends - starts
    mins = np.minimum.reduceat(v, starts)
    maxs = np.maximum.reduceat(v, starts)
    const = mins == maxs
    # per-frame monotonicity from global diffs; boundary diffs neutralized
    d = np.diff(v) if n > 1 else np.empty(0, dtype=np.int64)
    if len(d):
        bpos = ends[:-1] - 1  # diffs that straddle frame boundaries
        # zeroing boundary diffs in place is safe: the delta payloads
        # (d[s+1:e-1]) exclude them, and 0 is neutral for every per-frame
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
        dmag[rstart] = 0
        delta_max = np.maximum.reduceat(dmag, rstart)
        single = seg_lens == 1
        inc[single] = dec[single] = True
    else:
        inc = dec = np.ones(k, dtype=bool)
        first_d = np.zeros(k, dtype=np.int64)
        delta_max = np.zeros(k, dtype=np.uint64)
        dmag = d.view(np.uint64)
    span = maxs.view(np.uint64) - mins.view(np.uint64)
    mono = (inc | (dec & (first_d != 0))) & (span < np.uint64(1 << 63)) & ~const
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
    dir_w = _table_width(bit_lengths(zz_frame_max))
    cost_direct = 2 + _packed(seg_lens, dir_w)
    # patched-base candidates: neither constant nor monotonic, >= 8 values,
    # and a base whose magnitude fits the 8-byte sign-magnitude field
    cand = ~const & ~mono & (seg_lens >= 8) & (mins != _INT64_MIN)
    patched, pat_w, h2, h3, cw, pll, ent_lo, adj, ents = _patched_plans(
        v, starts, seg_lens, mins, cand, cost_direct, strict_orc
    )
    delta = (mono & (seg_lens >= 3)) | (const & (seg_lens > 10))
    # fixed-delta runs (width 0): delta frames whose deltas all equal the
    # first (constant frames among them), as each |delta| is at most
    # |first| and together they span the frame's range
    step = np.abs(first_d).view(np.uint64)
    gaps = np.maximum(seg_lens - 1, 1).astype(np.uint64)
    fixed = delta & (delta_max == step) & (span % gaps == 0) & (span // gaps == step)
    # packed deltas take >= 2 bits: width 0 is the fixed-delta form
    width = np.where(
        fixed, 0, np.where(delta, _table_width(np.maximum(bit_lengths(delta_max), 2)),
                           np.where(patched, pat_w, dir_w)))
    mode = np.where(delta, 3, np.where(patched, 2, 1))  # header tag
    mode[const & (seg_lens >= 3) & (seg_lens <= 10)] = 0
    h0 = (mode << 6) | (np.searchsorted(DIRECT_WIDTH_TABLE, width) << 1) | ((seg_lens - 1) >> 8)
    base_varint = _signed_varint if signed else _unsigned_varint
    # the loop reads Python lists: indexing NumPy arrays once per frame
    # boxes a scalar each time, which run-aligned spans (many tiny frames)
    # pay for on every run
    heads = []
    for m, L, a, lo, first, d0, x, y in zip(
        mode.tolist(), seg_lens.tolist(), h0.tolist(), mins.tolist(), v[starts].tolist(),
        first_d.tolist(), h2.tolist(), h3.tolist()
    ):
        if m == 0:  # short repeat: the value in 1-8 big-endian bytes
            u = ((lo << 1) ^ (lo >> 63)) if signed else lo & 0xFFFFFFFFFFFFFFFF
            w = max(1, (u.bit_length() + 7) // 8)
            heads.append(bytes([((w - 1) << 3) | (L - 3)]) + u.to_bytes(w, "big"))
        elif m == 1:
            heads.append(bytes((a, (L - 1) & 0xFF)))
        elif m == 2:  # + the base, sign-magnitude in bw big-endian bytes
            bw = (x >> 5) + 1
            u = (-lo | 1 << (8 * bw - 1)) if lo < 0 else lo
            heads.append(bytes((a, (L - 1) & 0xFF, x, y)) + u.to_bytes(bw, "big"))
        else:  # + the first value and the first delta
            heads.append(bytes((a, (L - 1) & 0xFF)) + base_varint(first) + _signed_varint(d0))
    out = [b""] * (3 * k)
    out[0::3] = heads
    for slot, sel, w, lo, hi, source, prep in (
        (1, mode == 1, width, starts, ends, v.view(np.uint64),
         (lambda buf, w: zigzag_encode(buf.view(np.int64))) if signed else None),
        # patched DATA keeps the low w bits; the high bits ride the patch list
        (1, patched, width, starts, ends, adj, lambda buf, w: buf & np.uint64((1 << w) - 1)),
        (2, pll > 0, cw, ent_lo, ent_lo + pll, ents, None),
        (1, delta & (width > 0), width, starts + 1, ends - 1, dmag, None),
    ):
        f = np.flatnonzero(sel)
        for wv in set(w[f].tolist()):
            g = f[w[f] == wv]
            _pack_payloads(out, (3 * g + slot).tolist(), lo[g].tolist(), hi[g].tolist(),
                           source, wv, prep)
    return out


def _patched_plans(
    v: np.ndarray, starts: np.ndarray, seg_lens: np.ndarray, mins: np.ndarray,
    cand: np.ndarray, cost_direct: np.ndarray, strict_orc: bool
) -> tuple:
    """Price patched-base for every candidate frame at once.

    Each frame has two plans. At its q90 width (the 90th-percentile bit
    length of its FoR offsets, table-rounded; the FoR width below 4 bits)
    the wider values become patches: at most 31 list entries counting
    fillers, and q90 + patch width <= 64. At its FoR width there are no
    patches; canonical Java readers fail on an empty patch list, so
    ``strict_orc`` rules that plan out. A frame takes the smaller legal plan
    — the FoR width on a tie: same size, no patch list to apply — when it
    is smaller than the frame's direct run.

    Returns, per frame, whether patched-base wins, its DATA width, header
    bytes 3 and 4, the patch-list width, length and first entry in
    ``ents``; then the FoR offsets (the DATA source) and ``ents``, every
    q90 plan's patch list in frame order.
    """
    k = len(starts)
    zero = np.zeros(k, dtype=np.int64)
    none = zero.astype(bool), zero, zero, zero, zero, zero, zero, None, None
    if not cand.any():
        return none
    adj = v.view(np.uint64) - np.repeat(mins, seg_lens).view(np.uint64)
    wfc = _table_width(bit_lengths(np.maximum.reduceat(adj, starts)))
    # the gate below is at least 13 + packed(L, wfc), or 168 + packed(L, 1)
    # when q90 < wfc: frames that miss both skip the histogram
    cand = cand & (np.minimum(13 + _packed(seg_lens, wfc), 168 + _packed(seg_lens, 1)) < cost_direct)
    if not cand.any():
        return none
    abls = bit_lengths(adj)
    # the q90 bit length of every frame: bit lengths are 0..64, so one
    # bincount over the whole array + a k x 65 cumsum replaces a
    # np.partition per frame (65*frame_id is fused into the repeat to
    # avoid an extra n-sized multiply temp)
    hist = np.bincount(
        np.repeat(np.arange(k, dtype=np.int64) * 65, seg_lens) + abls, minlength=k * 65
    ).reshape(k, 65)
    at_most = np.cumsum(hist, axis=1)  # [i, b]: values of frame i of <= b bits
    rank = (9 * (seg_lens - 1)) // 10 + 1  # 1-based rank of the q90 statistic
    w90 = np.where(wfc >= 4, _table_width(np.argmax(at_most >= rank[:, None], axis=1)), wfc)
    # a bound on the q90 plan (9-byte base, 31 five-byte entries) gates both
    cand &= (13 + _packed(seg_lens, w90) + np.where(w90 < wfc, 31 * 5, 0) < cost_direct)
    if not cand.any():
        return none
    # q90 patches, only in frames where there can be <= 31 of them
    thr = np.where(cand & (w90 < wfc) & (seg_lens - at_most[np.arange(k), w90] <= 31), w90, 64)
    pidx = np.flatnonzero(abls > np.repeat(thr, seg_lens))
    pf = np.searchsorted(starts, pidx, side="right") - 1
    first = np.diff(pf, prepend=-1) != 0
    heads = np.flatnonzero(first)
    hf = pf[heads]
    # gap from the previous patch, or from the frame start for the first;
    # a gap over 255 takes (gap - 1) // 255 filler entries (gap 255, patch 0)
    gap = pidx - np.where(first, starts[pf], np.concatenate(([0], pidx[:-1])))
    fill = np.maximum(gap - 1, 0) // 255
    cnt = fill + 1
    patch = adj[pidx] >> thr[pf].astype(np.uint64)
    pll, gmax, pmax = zero.copy(), zero.copy(), np.zeros(k, dtype=np.uint64)
    pll[hf] = np.add.reduceat(cnt, heads)
    gmax[hf] = np.maximum.reduceat(gap, heads)
    pmax[hf] = np.maximum.reduceat(patch, heads)
    pw = _table_width(bit_lengths(pmax))
    pgw = np.maximum(bit_lengths(np.minimum(gmax, 255)), 1)
    cw = _table_width(np.minimum(pgw + pw, 64))  # past 64 only where w90 + pw > 64
    bw = np.minimum((bit_lengths(np.abs(mins).view(np.uint64)) + 8) // 8, 8)
    size90 = 4 + bw + _packed(seg_lens, w90) + _packed(pll, cw)
    size_fc = 4 + bw + _packed(seg_lens, wfc)
    ok90 = (thr < 64) & (pll <= 31) & (w90 + pw <= 64)
    ok_fc = cand & (wfc < 64) & (not strict_orc)
    use90 = ok90 & ~(ok_fc & (size_fc <= size90))
    use = (use90 | ok_fc) & (np.where(use90, size90, size_fc) < cost_direct)
    use90 &= use
    # list entries (gap << pw) | patch, each patch after its fillers
    last = np.cumsum(cnt) - 1
    shift = np.repeat(pw[pf], cnt).view(np.uint64)
    ents = np.uint64(255) << shift
    ents[last] = ((gap - 255 * fill).view(np.uint64) << shift[last]) | patch
    ent_lo = zero.copy()
    ent_lo[hf] = (last + 1 - cnt)[heads]
    pw, pgw, pll = np.where(use90, pw, 1), np.where(use90, pgw, 1), np.where(use90, pll, 0)
    h2 = ((bw - 1) << 5) | np.searchsorted(DIRECT_WIDTH_TABLE, pw)
    h3 = ((pgw - 1) << 5) | pll
    return use, np.where(use90, w90, wfc), h2, h3, cw, pll, ent_lo, adj, ents


def _pack_payloads(
    out: list, slots: list, lo: list, hi: list, source: np.ndarray, w: int, prep
) -> None:
    """Bit-pack the payloads ``source[lo[j]:hi[j]]`` into ``out[slots[j]]``
    with one ``bitpack`` at ``w`` bits (``prep(buf, w)`` maps the gathered
    values first). Each payload is zero-padded to a multiple of 8 values,
    so its packed bytes are byte-aligned and independent of the others'."""
    offs = [0]
    for a, b in zip(lo, hi):
        offs.append(offs[-1] + (b - a + 7) // 8 * 8)
    buf = np.zeros(offs[-1], dtype=np.uint64)
    for a, b, p in zip(lo, hi, offs):
        buf[p : p + b - a] = source[a:b]
    if prep is not None:
        buf = prep(buf, w)
    packed = bitpack(buf, w)
    for slot, a, b, p in zip(slots, lo, hi, offs):
        out[slot] = packed[p * w // 8 : p * w // 8 + ((b - a) * w + 7) // 8]


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
    ValueError, which counts the values of the complete runs before it."""
    mb = buf if isinstance(buf, bytes) else bytes(buf)  # plain-int indexing
    direct: dict[int, list] = {}
    patched: dict[int, list] = {}
    patch_lists: dict[int, list] = {}
    deltas: dict[int, list] = {}
    tally = [0, 0, 0, 0]
    pos = got = done = 0
    blen = len(mb)
    try:
        while got < count and pos < blen:
            done = got
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
    if pos > blen:  # the last run (or its payload) is cut off
        got = done
    if got < count:
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
