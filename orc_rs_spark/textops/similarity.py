"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: exact baseline, JVM-side zip_with/aggregate dot
  products; at scale, a broadcast of the query vector + one full scan.
- LSH-bucketed ANN: random-hyperplane signatures (NumPy inside mapInArrow),
  candidates restricted to the query's bucket (Hamming-0) with a
  multi-probe fallback; the scale path — the scan prunes to ~1/2^bits of
  the corpus per probe.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(l, r):  # noqa: E741
    return F.aggregate(
        F.zip_with(l, r, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10) -> DataFrame:
    """Exact top-k by cosine to ``query_vec`` (ties broken by vec_id).

    Zero-norm rows (and a zero-norm query) get NULL cosine via try_divide
    and sort last instead of raising ANSI DIVIDE_BY_ZERO.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qnorm = float(np.sqrt(np.dot(query_vec, query_vec)))
    e = embeddings.select(
        "vec_id",
        F.try_divide(
            _dot(F.col("embedding"), q),
            F.sqrt(_dot(F.col("embedding"), F.col("embedding"))) * F.lit(qnorm),
        ).alias("cos"),
    )
    return e.orderBy(F.col("cos").desc_nulls_last(), F.col("vec_id")).limit(k).select("vec_id")


def hyperplane_signatures(
    embeddings: DataFrame, bits: int = 16, dim: int = 64, seed: int = 42
) -> DataFrame:
    """Sign-of-projection LSH signature per vector (NumPy batch matmul)."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, bits)).astype(np.float64)

    def sign_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if b.num_rows == 0:
                continue
            emb = b.column("embedding")
            flat = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            mat = flat.reshape(b.num_rows, dim)
            bits_m = (mat @ planes) > 0
            sig = (bits_m.astype(np.uint64) << np.arange(bits, dtype=np.uint64)).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [b.column("vec_id"), pa.array(sig.astype(np.int64))], names=["vec_id", "sig"]
            )

    return embeddings.select("vec_id", "embedding").mapInArrow(sign_batches, "vec_id bigint, sig bigint")


def band_signatures(
    embeddings: DataFrame, bands: int = 32, rows_per_band: int = 8, dim: int = 64, seed: int = 42
) -> DataFrame:
    """Per-vector banded SRP signature: (vec_id, array<bigint> of ``bands``
    values, each packing ``rows_per_band`` hyperplane sign bits). Unlike
    :func:`hyperplane_signatures` this is not capped at 64 total bits, so
    band configs with real pruning power (e.g. 32x8) are expressible."""
    total = bands * rows_per_band
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, total)).astype(np.float64)
    weights = 1 << np.arange(rows_per_band, dtype=np.uint64)

    def sign_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if b.num_rows == 0:
                continue
            emb = b.column("embedding")
            flat = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            mat = flat.reshape(b.num_rows, dim)
            bits_m = ((mat @ planes) > 0).astype(np.uint64).reshape(b.num_rows, bands, rows_per_band)
            vals = (bits_m * weights).sum(axis=2).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [b.column("vec_id"), pa.array(list(vals))],
                names=["vec_id", "band_vals"],
            )

    return embeddings.select("vec_id", "embedding").mapInArrow(
        sign_batches, "vec_id bigint, band_vals array<bigint>"
    )


def default_bits(n: int) -> int:
    """Signature width for an n-vector corpus: ~log2(n/64). Finer signatures
    than the corpus size send every true neighbor to its own bucket and
    recall collapses (measured recall@10 = 0 with 8 bits over 500 random
    vectors)."""
    return max(2, min(16, int(np.log2(max(2, n / 64)))))


def ivf_centroids(
    embeddings: DataFrame, n_clusters: int = 16, dim: int = 64, seed: int = 42,
    sample_ids: int = 4096, iters: int = 10,
) -> np.ndarray:
    """IVF coarse quantizer: k-means over a BOUNDED deterministic sample
    (vec_id < sample_ids — no full-corpus collect, no nondeterministic
    limit()), run driver-side in NumPy. Returns L2-normalized centroids
    (n_clusters, dim). At 100 TB the sample filter is a pushed parquet
    predicate; the k-means itself touches only sample_ids rows."""
    rows = (
        embeddings.filter(F.col("vec_id") < sample_ids)
        .select("embedding").toArrow().column("embedding")
    )
    flat = rows.combine_chunks().flatten().to_numpy(zero_copy_only=False)
    x = flat.reshape(-1, dim).astype(np.float64)
    norms = np.linalg.norm(x, axis=1)
    x = x[norms > 0] / norms[norms > 0, None]
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=min(n_clusters, len(x)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cent.T, axis=1)  # cosine == dot on unit vectors
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                v = members.mean(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cent[c] = v / n
    return cent


def _select_probes(centroids: np.ndarray, query_vec, nprobe: int) -> list[int]:
    """Cluster ids of the ``nprobe`` centroids nearest the (normalized)
    query — shared by the in-memory and persisted-index IVF paths so the
    probe choice can never drift between them."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)
    if qn > 0:
        q = q / qn
    return [int(c) for c in np.argsort(-(centroids @ q))[: max(1, nprobe)]]


def ivf_assign(embeddings: DataFrame, centroids: np.ndarray, dim: int = 64) -> DataFrame:
    """One scan assigning every vector to its nearest centroid (batch
    matmul inside mapInArrow; centroids ride the closure — a few KB)."""
    cent = np.ascontiguousarray(centroids, dtype=np.float64)

    def assign(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if b.num_rows == 0:
                continue
            flat = b.column("embedding").flatten().to_numpy(zero_copy_only=False)
            mat = flat.reshape(b.num_rows, dim).astype(np.float64)
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = np.inf
            cluster = np.argmax((mat / norms[:, None]) @ cent.T, axis=1)
            yield pa.RecordBatch.from_arrays(
                [b.column("vec_id"), pa.array(cluster.astype(np.int32))],
                names=["vec_id", "cluster"],
            )

    return embeddings.select("vec_id", "embedding").mapInArrow(
        assign, "vec_id bigint, cluster int"
    )


def ann_topk_ivf(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    seed: int = 42,
    centroids: np.ndarray | None = None,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN: probe the ``nprobe`` centroids nearest the query, exact
    cosine top-k within the probed inverted lists — the classic
    coarse-quantizer scale path (scan shrinks to ~nprobe/n_clusters of the
    corpus; with a persisted ``assignments`` table partitioned by cluster,
    the probe is a partition-pruned read, no signature recompute).
    ``nprobe == n_clusters`` degenerates to exact search — that setting is
    what the driver oracle checks (plumbing + distance math, loss-free by
    construction); recall at nprobe < n_clusters is pytest-measured."""
    if centroids is None:
        centroids = ivf_centroids(embeddings, n_clusters=n_clusters, dim=dim, seed=seed)
    if assignments is None:
        assignments = ivf_assign(embeddings, centroids, dim=dim)
    probes = _select_probes(centroids, query_vec, nprobe)
    cand = assignments.where(F.col("cluster").isin(probes)).select("vec_id")
    sub = embeddings.join(F.broadcast(cand), "vec_id")
    return cosine_topk(sub, query_vec, k)


def ivf_build_index(
    embeddings: DataFrame, path: str, n_clusters: int = 16, dim: int = 64,
    seed: int = 42,
) -> np.ndarray:
    """Persist an IVF index: vectors re-written PARTITIONED BY cluster id
    (``path``/vectors/cluster=<c>/...) plus a tiny centroids table. This is
    the 100 TB ANN layout — a query's nprobe inverted lists become a
    partition-pruned scan (Spark reads only the probed directories; no
    per-row filtering, no assignment recompute, no shuffle at query time).
    Build cost: one k-means over a bounded sample + ONE full scan + one
    partitioned write. Returns the centroids."""
    cent = ivf_centroids(embeddings, n_clusters=n_clusters, dim=dim, seed=seed)
    assigned = ivf_assign(embeddings, cent, dim=dim)
    vecs = embeddings.join(assigned, "vec_id").select("vec_id", "embedding", "cluster")
    # one output file per cluster partition: the inverted lists stay
    # contiguous (at 100 TB raise this with a cluster+hash repartition)
    vecs.repartition("cluster").write.mode("overwrite").partitionBy("cluster").parquet(
        f"{path}/vectors"
    )
    spark = embeddings.sparkSession
    cent_rows = [(int(c), [float(x) for x in cent[c]]) for c in range(len(cent))]
    spark.createDataFrame(cent_rows, "cluster int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    return cent


def ann_topk_ivf_indexed(
    spark, index_path: str, query_vec: list[float], k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Query a persisted IVF index (see :func:`ivf_build_index`): pick the
    ``nprobe`` centroids nearest the query from the tiny centroids table,
    then scan ONLY those cluster partitions (Spark partition pruning —
    the plan's PartitionFilters carries ``cluster IN (...)``) and exact-
    rerank within them. Per-query cost scales with nprobe/n_clusters of
    the corpus, not the corpus."""
    cent_rows = spark.read.parquet(f"{index_path}/centroids").collect()
    cent = np.zeros((len(cent_rows), len(cent_rows[0]["centroid"])), dtype=np.float64)
    for r in cent_rows:
        cent[int(r["cluster"])] = r["centroid"]
    probes = _select_probes(cent, query_vec, nprobe)
    vecs = spark.read.parquet(f"{index_path}/vectors")
    sub = vecs.where(F.col("cluster").isin(probes))  # partition-pruned scan
    return cosine_topk(sub.select("vec_id", "embedding"), query_vec, k)


def ann_topk_lsh(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int | None = None,
    dim: int = 64,
    seed: int = 42,
    n_hint: int | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """ANN: exact top-k within the query's LSH bucket plus all buckets at
    Hamming distance <= 2 (multi-probe). Approximate by design; tested for
    recall against cosine_topk, not oracle-matched.

    ``bits`` defaults to ``default_bits(n_hint)``; one of ``bits``/``n_hint``
    is required — deriving n with a count() action would add a full scan
    ahead of the real job (get n from catalog stats / parquet footers).

    ``sigs`` lets the caller pass a precomputed (persisted) signature table
    from :func:`hyperplane_signatures` with the same bits/dim/seed, so the
    per-query cost is one bucket filter + small join, not a signature
    recompute over the corpus — the scale path for repeated queries.
    """
    if bits is None:
        if n_hint is None:
            raise ValueError(
                "pass bits= or n_hint= (catalog row count); ann_topk_lsh will "
                "not run a count() scan to derive it"
            )
        bits = default_bits(n_hint)
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, bits)).astype(np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    qsig = int(((q @ planes) > 0).astype(np.uint64) @ (1 << np.arange(bits, dtype=np.uint64)))
    probes = {qsig}
    for i in range(bits):
        probes.add(qsig ^ (1 << i))
        for j in range(i + 1, bits):
            probes.add(qsig ^ (1 << i) ^ (1 << j))
    if sigs is None:
        sigs = hyperplane_signatures(embeddings, bits=bits, dim=dim, seed=seed)
    cand = sigs.where(F.col("sig").isin([int(p) for p in probes])).select("vec_id")
    sub = embeddings.join(F.broadcast(cand), "vec_id")
    return cosine_topk(sub, query_vec, k)
