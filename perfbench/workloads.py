"""Seeded input generators for the benchmark workloads.

The generators live here, not in ``orc_rs_spark.fixtures``, so a change to
the program cannot change what the benchmark feeds it. Every table has the
token-table shape ``(doc_id string, tokens list<int32>, n_tok int32,
source string)``; the same seed gives the same table, byte for byte.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

SOURCES = ("web", "books", "code", "wiki", "forums", "papers", "chat", "legal")

# lm-corpus: a Llama-3-sized vocabulary, Zipf-distributed token ranks,
# lognormal document lengths and a Zipf-skewed ``source`` column
LM_VOCAB = 128_256
LM_ZIPF_S = 1.1
LM_LEN_MEDIAN = 400
LM_LEN_SIGMA = 1.0
LM_LEN_CLIP = (16, 16_384)
LM_ROWS = 6_144  # four 1536-row chunks, ~4.0M tokens
LM_SHAPE_SEED = 20_260_102

# regime-mix: eight per-document token regimes, lognormal lengths
REGIMES = (
    "const_runs",
    "monotone",
    "uniform_small",
    "uniform_full",
    "clustered_offset",
    "outlier_spiked",
    "low_distinct",
    "edge_cases",
)
RM_LEN_MU = 5.0
RM_LEN_SIGMA = 1.0
RM_LEN_CLIP = (1, 8_192)
RM_ROWS = 16_384  # four 4096-row chunks, ~3.8M tokens
RM_SHAPE_SEED = 20_260_101


def _sources(rng: np.random.Generator, n: int) -> pa.Array:
    ranks = np.arange(1, len(SOURCES) + 1, dtype=np.float64)
    p = ranks**-1.5
    idx = rng.choice(len(SOURCES), n, p=p / p.sum())
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(SOURCES)
    ).cast(pa.string())


def _doc_ids(ids: np.ndarray) -> pa.Array:
    return pa.array([f"doc-{i:09d}" for i in ids.tolist()])


def _table(doc_id: pa.Array, lengths: np.ndarray, flat: np.ndarray, source: pa.Array) -> pa.Table:
    offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int32)
    tokens = pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat.astype(np.int32)))
    return pa.Table.from_arrays(
        [doc_id, tokens, pa.array(lengths.astype(np.int32)), source],
        names=["doc_id", "tokens", "n_tok", "source"],
    )


def lm_corpus(seed: int) -> pa.Table:
    """Zipf(1.1) token ids over a seeded permutation of a 128,256-id vocab.

    Each doc id's length comes from a fixed stream, so every seed has the
    same documents, and encode_job puts the same tokens in each bucket; the
    seed draws the token values, the row order and the sources. With seeded
    lengths the largest bucket, which sets the encode wall on four cores,
    moved from seed to seed."""
    shape = np.random.default_rng(LM_SHAPE_SEED)
    rng = np.random.default_rng([seed, 1])
    lo, hi = LM_LEN_CLIP
    length_of_id = np.clip(
        shape.lognormal(np.log(LM_LEN_MEDIAN), LM_LEN_SIGMA, LM_ROWS), lo, hi
    ).astype(np.int64)
    ids = rng.permutation(LM_ROWS)
    lengths = length_of_id[ids]
    cdf = np.cumsum(np.arange(1, LM_VOCAB + 1, dtype=np.float64) ** -LM_ZIPF_S)
    cdf /= cdf[-1]
    ranks = np.searchsorted(cdf, rng.random(int(lengths.sum())), side="right")
    vocab = rng.permutation(LM_VOCAB)
    flat = vocab[np.minimum(ranks, LM_VOCAB - 1)]
    return _table(_doc_ids(ids), lengths, flat, _sources(rng, LM_ROWS))


def _regime_tokens(regime: str, n: int, shape: np.random.Generator,
                   rng: np.random.Generator) -> np.ndarray:
    """``shape`` draws the regime's parameters, ``rng`` its values."""
    if regime == "const_runs":
        k = max(1, n // 6)
        v = np.repeat(rng.integers(0, 64, k), shape.integers(3, 12, k))
        return np.resize(v, n)
    if regime == "monotone":
        v = int(rng.integers(0, 1000)) + np.cumsum(rng.integers(0, 5, n))
        return v if shape.random() < 0.5 else v[::-1]
    if regime == "uniform_small":
        return rng.integers(0, 2 ** int(shape.choice([4, 8, 12, 16])), n)
    if regime == "uniform_full":
        return rng.integers(-(2**31), 2**31 - 1, n)
    if regime == "clustered_offset":
        return int(rng.integers(2**20, 2**30)) + rng.integers(0, 2**8, n)
    if regime == "outlier_spiked":
        v = 10**6 + rng.integers(0, 2**10, n)
        k = max(1, int(n * shape.uniform(0.01, 0.05))) if n else 0
        v[rng.choice(n, k, replace=False)] = rng.integers(2**28, 2**31 - 1, k)
        return v
    if regime == "low_distinct":
        vocab = rng.integers(0, 2**31 - 1, int(shape.integers(100, 1000)))
        p = 1.0 / np.arange(1, len(vocab) + 1)
        return vocab[rng.choice(len(vocab), n, p=p / p.sum())]
    # edge_cases: all-zero, int32 max, int32 min, alternating sign
    kind = int(shape.integers(0, 4))
    if kind == 0:
        return np.zeros(n, dtype=np.int64)
    if kind == 1:
        return np.full(n, 2**31 - 1, dtype=np.int64)
    if kind == 2:
        return np.full(n, -(2**31), dtype=np.int64)
    return np.where(np.arange(n) % 2 == 0, 1, -1)


def regime_mix(seed: int) -> pa.Table:
    """Row i carries regime i % 8; one edge-case row in two is empty.

    Document lengths and each row's regime parameters come from a fixed
    stream, so every seed has the same share of tokens per regime; the seed
    draws the token values and sources. Doc ids follow row order. Without this the mix, and
    with it bytes per token and encode cost, moved by several percent from
    seed to seed."""
    shape = np.random.default_rng(RM_SHAPE_SEED)
    rng = np.random.default_rng([seed, 2])
    lo, hi = RM_LEN_CLIP
    lengths = np.clip(shape.lognormal(RM_LEN_MU, RM_LEN_SIGMA, RM_ROWS), lo, hi).astype(np.int64)
    regime = np.arange(RM_ROWS) % len(REGIMES)
    lengths[(regime == 7) & (np.arange(RM_ROWS) % 16 == 7)] = 0
    flat = np.concatenate(
        [_regime_tokens(REGIMES[r], int(n), shape, rng) for r, n in zip(regime, lengths)]
    )
    return _table(_doc_ids(np.arange(RM_ROWS)), lengths, flat, _sources(rng, RM_ROWS))


GENERATORS = {"lm-corpus": lm_corpus, "regime-mix": regime_mix}
