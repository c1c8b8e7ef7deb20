"""Vectorized greedy LZ77 matcher behind the from-spec LZO1X encoder
(kernels/lzo.py; there is no liblzo2 to call). The other LZ-family
codecs encode through pyarrow's C libraries (kernels/blockcomp.py).

Match quality matches snappy's own heuristic: a single-entry hash table
over 4-byte sequences, i.e. each position is matched only against the
NEAREST previous position with the same 4-byte hash, then greedily
extended. google/snappy's C++ encoder uses exactly this (one probe, no
chains), so ratios land in snappy territory by construction.

Vectorization strategy (no per-byte Python):

1. the 4-byte little-endian value at every position is computed with four
   shifted uint32 adds (one pass, no stride tricks);
2. "nearest previous position with equal hash" comes from one stable
   argsort of the hash array — within each equal-hash run the sorted
   order IS position order, so the predecessor in the run is the match
   candidate;
3. candidates are validated by comparing the 4-byte values directly
   (hash collisions are discarded, as snappy does);
4. match lengths extend in vectorized rounds of 16 byte-compares across
   ALL candidates at once; the active set shrinks every round, and the
   per-codec length cap bounds the round count;
5. the greedy parse walks CHOSEN tokens, not bytes: a cursor into the
   sorted match-position array advances amortized O(1) per token, so the
   Python-level loop runs once per emitted token (copies + literal runs),
   thousands of times fewer than once per byte.
"""

from __future__ import annotations

import bisect

import numpy as np

_HASH_MUL = np.uint32(0x9E3779B1)  # Fibonacci hashing constant (public)


def _vals4(arr8: np.ndarray) -> np.ndarray:
    """uint32 little-endian 4-byte value starting at every position
    0..n-4 (length n-3)."""
    a = arr8.astype(np.uint32)
    return (a[:-3]
            | (a[1:-2] << np.uint32(8))
            | (a[2:-1] << np.uint32(16))
            | (a[3:] << np.uint32(24)))


def greedy_matches(data: bytes | np.ndarray,
                   max_offset: int,
                   max_match: int,
                   min_match: int = 4):
    """Greedy LZ77 parse of ``data``.

    Returns ``(positions, offsets, lengths)`` int64 arrays of the chosen,
    non-overlapping matches in position order. Bytes not covered by a
    match are literals (the gaps). Constraints:

    - every match references ``offset <= max_offset`` back;
    - lengths are capped at ``max_match`` (a cap bounds the extension
      rounds — a long run simply becomes several adjacent copies).
    """
    arr8 = np.frombuffer(data, dtype=np.uint8) if not isinstance(data, np.ndarray) else data
    n = arr8.shape[0]
    empty = (np.empty(0, np.int64),) * 3
    if n < min_match + 1 or n < 8:
        return empty

    vals = _vals4(arr8)
    m = vals.shape[0]
    hash_bits = max(12, min(int(n).bit_length(), 20))
    h = ((vals * _HASH_MUL) >> np.uint32(32 - hash_bits)).astype(np.uint32)

    order = np.argsort(h, kind="stable").astype(np.int64)
    oh = h[order]
    same = oh[1:] == oh[:-1]
    prev = np.full(m, -1, np.int64)
    prev[order[1:][same]] = order[:-1][same]

    cand = np.nonzero(prev >= 0)[0]
    if cand.size == 0:
        return empty
    p = prev[cand]
    ok = (vals[cand] == vals[p]) & (cand - p <= max_offset)
    ok &= cand <= n - min_match  # a match must fit min_match bytes
    cand, p = cand[ok], p[ok]
    if cand.size == 0:
        return empty

    offs = cand - p

    # --- chain collapse (round 6): candidates at CONSECUTIVE positions
    # with the SAME offset lie in one periodic region, where equality
    # runs are arithmetically linked — if the chain HEAD's equality run
    # is e, the member at distance d runs exactly e - d (both stop at
    # the same first violating byte, and membership implies d <= e - 4
    # via the validated 4-byte probe). So only heads are extended and
    # follower lengths are propagated. Without this, run-heavy input
    # (PRESENT-stream shapes, constant/periodic columns) makes EVERY
    # position a candidate that extends to cap: O(candidates * cap)
    # work — 67 s/MiB on b"A"*n in the round-5 encoder. With it, the
    # same input has one head per run and the cost is O(n).
    is_follow = np.zeros(cand.size, dtype=bool)
    if cand.size > 1:
        is_follow[1:] = (cand[1:] == cand[:-1] + 1) & (offs[1:] == offs[:-1])
    heads = np.nonzero(~is_follow)[0]  # indices into cand
    hid = np.cumsum(~is_follow) - 1  # chain id per candidate
    chain_last = np.append(heads[1:], cand.size) - 1
    hpos, hp = cand[heads], p[heads]
    # extend each head far enough to serve its LAST follower's max_match
    # window; past that every follower caps at max_match anyway
    hcap = np.minimum(n - hpos, (cand[chain_last] - hpos) + max_match)

    # vectorized length extension, 16 bytes per round over the active
    # heads; round count is bounded by the max_match window, with a
    # scalar chunk-doubling finisher for the rare very-long-run heads
    pad = np.full(16, -1, np.int16)
    a16 = np.concatenate([arr8.astype(np.int16), pad])
    hlens = np.full(heads.size, min_match, np.int64)
    active = np.nonzero(hlens < hcap)[0]
    k = np.arange(16, dtype=np.int64)
    rounds, max_rounds = 0, (max_match >> 4) + 2
    while active.size and rounds < max_rounds:
        rounds += 1
        ci, pi, li = hpos[active], hp[active], hlens[active]
        # source-side reads past n hit the -1 pad => compare False there,
        # so matches can never extend beyond the buffer
        left = a16[np.minimum(ci[:, None] + li[:, None] + k, n + 15)]
        right = a16[pi[:, None] + li[:, None] + k]
        eq = left == right
        full = eq.all(axis=1)
        adv = np.where(full, 16, eq.argmin(axis=1)).astype(np.int64)
        new_len = np.minimum(li + adv, hcap[active])
        hlens[active] = new_len
        active = active[full & (new_len < hcap[active])]
    for ai in active.tolist():  # long-chain heads: memcmp-speed doubling
        i, o = int(hpos[ai]), int(hpos[ai] - hp[ai])
        L, C = int(hlens[ai]), int(hcap[ai])
        step = 64
        while L < C:
            w = min(step, C - L)
            eqw = arr8[i + L : i + L + w] == arr8[i - o + L : i - o + L + w]
            if eqw.all():
                L += w
                step <<= 1
            else:
                L += int(np.argmin(eqw))
                break
        hlens[ai] = L

    # propagate: member at distance d from its head runs e_head - d
    e_all = hlens[hid] - (cand - hpos[hid])
    lens = np.minimum(np.minimum(np.int64(max_match), n - cand), e_all)
    keep = lens >= min_match
    cand, offs, lens = cand[keep], offs[keep], lens[keep]
    if cand.size == 0:
        return empty

    # greedy token walk: cursor over the ascending match positions; covered
    # candidates are skipped with a bisect jump (C-speed), so the Python
    # loop body runs once per CHOSEN token, not once per candidate
    pos_out: list[int] = []
    off_out: list[int] = []
    len_out: list[int] = []
    nmatch = cand.shape[0]
    ptr = 0
    i = 0
    cpos_l = cand.tolist()
    offs_l = offs.tolist()
    lens_l = lens.tolist()
    while ptr < nmatch:
        j = cpos_l[ptr]
        if j < i:
            ptr = bisect.bisect_left(cpos_l, i, ptr + 1)
            continue
        pos_out.append(j)
        off_out.append(offs_l[ptr])
        L = lens_l[ptr]
        len_out.append(L)
        i = j + L
        ptr += 1
    return (np.asarray(pos_out, np.int64), np.asarray(off_out, np.int64),
            np.asarray(len_out, np.int64))
