"""The engine's one k-means, fit on the driver over a bounded, deterministic
hashed sample; the IVF index, topic clustering and PQ codebooks fit here and
assign every row themselves in one Spark pass.

Sample: the unit-normalized rows with the smallest `xxhash64(stage, seed,
vector)` buckets, collected as Arrow: stable across runs and partitionings,
no id column needed (exact duplicate vectors enter or leave it together).
`fit_kmeans` caps it at k * 256 rows (FAISS's max points per centroid) and
every sample at MAX_FIT_BYTES of float64; the fit raises, naming that
constant, when it leaves fewer than 39 rows per centroid.

Fit: seeded k-means++ init (Arthur & Vassilvitskii, SODA 2007), then Lloyd
until no assignment changes or `iters` runs out; empty clusters re-seed
from the farthest points. Distances use |x|^2 - 2 x.c + |c|^2 in row blocks:
no n*k*d temporary (~1.6 GB at n=100k, k=256, d=8), no whole n*k matrix.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

POINTS_PER_CENTROID = 256  # FAISS: max training points per centroid
MIN_POINTS_PER_CENTROID = 39  # FAISS: fewer than this per centroid warns
MAX_FIT_BYTES = 256 << 20  # driver budget for the sample: rows * dims * 8 B
_BLOCK_CELLS = 1 << 22  # distances per row block (32 MB)


def unit_rows(x: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    return x / np.where(norms == 0, 1.0, norms)


def _row_cap(cap: int, dims: int, min_cap: int) -> int:
    rows = min(cap, MAX_FIT_BYTES // (8 * max(dims, 1)))
    if rows < min_cap:
        raise ValueError(
            f"the fit needs room for {min_cap} sample rows, but MAX_FIT_BYTES="
            f"{MAX_FIT_BYTES} holds only {rows} rows of {dims}-dim vectors; "
            "fit fewer centroids"
        )
    return rows


def hashed_sample(
    df: DataFrame,
    vector_col: str,
    cap: int,
    seed: int,
    stage: str = "kmeans",
    min_cap: int = 0,
    overshoot_sigmas: float = 6.0,
) -> np.ndarray:
    """(rows, dims) unit vectors: the smallest-bucket non-NULL rows, at most
    `cap` and at most MAX_FIT_BYTES of them. An input whose planned size
    (plans/inspect.planned_bytes) fits MAX_FIT_BYTES is sampled in one job:
    the top-`cap` merge cannot bring the driver more than the input holds.
    A larger or unsized input first aggregates its row count and vector
    length, so the byte cap is checked before any collect, and a keep-rate
    prefilter on the bucket bounds what each task sends to the merge, with
    `overshoot_sigmas` binomial standard deviations of margin (~1e-9
    failure at 6); an undershoot raises rather than fit a thinner sample."""
    from vector_search_ai_assistant_mongodbvcore_spark.plans.inspect import planned_bytes

    clean = df.select(F.col(vector_col).cast("array<double>").alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    bucket = F.xxhash64(F.lit(stage), F.lit(seed), "_v").bitwiseAND(F.lit(0xFFFFFFFF))
    want = 0  # rows a prefiltered collect must return
    est = planned_bytes(clean)
    if est is None or est > MAX_FIT_BYTES:
        n, dims = clean.agg(F.count(F.lit(1)), F.max(F.size("_v"))).first()
        if n:
            cap = _row_cap(cap, dims, min_cap)
            want = min(n, cap)
            if n > cap:
                rate = min(1.0, (cap + overshoot_sigmas * math.sqrt(cap) + 10) / n)
                clean = clean.filter(bucket < F.lit(int(rate * (1 << 32))))
    table = clean.orderBy(bucket.asc(), F.col("_v").asc()).limit(cap).toArrow()
    if table.num_rows == 0:
        raise ValueError(f"cannot fit centroids on an empty vector column {vector_col!r}")
    if table.num_rows < want:
        raise ValueError(
            f"sample prefilter undershoot ({table.num_rows} < {want} rows); "
            "raise overshoot_sigmas"
        )
    vecs = table.column("_v").combine_chunks()
    lengths = vecs.value_lengths().to_numpy(zero_copy_only=False)
    if (lengths != lengths[0]).any():
        raise ValueError(
            f"{vector_col!r} holds vectors of {lengths.min()} to {lengths.max()} dims"
        )
    dims = int(lengths[0])
    x = np.asarray(vecs.flatten().to_numpy(), dtype=np.float64).reshape(-1, dims)
    return unit_rows(x[: _row_cap(cap, dims, min_cap)])


def _nearest(x: np.ndarray, x2: np.ndarray, cents: np.ndarray):
    """Each row's nearest centre (first on ties) and squared distance."""
    c2 = (cents * cents).sum(axis=1)
    step = max(1, _BLOCK_CELLS // len(cents))
    assign = np.empty(len(x), dtype=np.int64)
    dist = np.empty(len(x))
    for s in range(0, len(x), step):
        d2 = x2[s : s + step, None] - 2.0 * (x[s : s + step] @ cents.T) + c2
        assign[s : s + step] = d2.argmin(axis=1)
        dist[s : s + step] = d2[np.arange(len(d2)), assign[s : s + step]]
    return assign, np.maximum(dist, 0.0)


def lloyd(x: np.ndarray, k: int, seed: int, iters: int = 20) -> np.ndarray:
    """Deterministic k-means of x (n, d) -> (k, d) centroids."""
    if len(x) == 0:
        raise ValueError("cannot fit centroids on zero sample rows")
    rng = np.random.RandomState(seed)
    x2 = (x * x).sum(axis=1)
    # k-means++: draw each next centre with probability proportional to its
    # squared distance from the nearest centre so far, updated one centre
    # at a time
    cents = np.empty((k, x.shape[1]))
    d2 = np.full(len(x), np.inf)
    i = rng.randint(len(x))
    for j in range(k):
        cents[j] = x[i]
        d2 = np.minimum(d2, np.maximum(x2 - 2.0 * (x @ x[i]) + x2[i], 0.0))
        total = d2.sum()
        if total > 0:
            i = int(np.searchsorted(np.cumsum(d2), rng.random_sample() * total, "right"))
            i = min(i, len(x) - 1)
        else:  # every row is already a centre
            i = rng.randint(len(x))
    prev = None
    for _ in range(iters):
        assign, dist = _nearest(x, x2, cents)
        counts = np.bincount(assign, minlength=k)
        empty = np.flatnonzero(counts == 0)
        if not empty.size and np.array_equal(assign, prev):
            break  # the update would reproduce the same centroids
        prev = assign
        full = counts > 0
        for c in range(x.shape[1]):
            cents[full, c] = np.bincount(assign, weights=x[:, c], minlength=k)[full] / counts[full]
        if empty.size:
            far = np.argsort(-dist, kind="stable")
            cents[empty] = x[far[np.arange(empty.size) % len(far)]]
    return cents


def fit_kmeans(
    df: DataFrame, vector_col: str, k: int, seed: int = 42, iters: int = 20
) -> np.ndarray:
    """(k, d) unit-space centroids from the hashed sample of `vector_col`;
    rows are assigned by argmax(x̂·c - |c|²/2)."""
    x = hashed_sample(
        df, vector_col, k * POINTS_PER_CENTROID, seed, min_cap=k * MIN_POINTS_PER_CENTROID
    )
    return lloyd(x, k, seed=seed, iters=iters)
