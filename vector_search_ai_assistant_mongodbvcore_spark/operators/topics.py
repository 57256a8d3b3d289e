"""Semantic topic clustering over embedding columns (SURVEY §7.7 extended
surface): k-means on unit-normalized vectors -> per-document topic id.

The same cosine<->euclidean-on-unit-vectors equivalence the IVF index uses
(operators/ivf.py); the difference is intent — IVF materializes the
assignment as a partition layout for search pruning, this returns it as a
column for corpus analytics (topic distributions, per-topic sampling,
cluster-balanced training splits).

At 100 TB: the fit is the engine's one driver k-means (operators/kmeans)
over at most k * 256 hashed-sample rows; assignment is one codegen
projection over every row (assign_topics_col), embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cluster_topics(
    df: DataFrame,
    k: int = 8,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """(id, topic_id) for every row; deterministic under a fixed seed.

    k=1 short-circuits: every row is topic 0 with no fit at all (no Spark
    job) — the degenerate case semdedup uses to scope its greedy pass to
    the whole corpus on small inputs."""
    if k == 1:
        return df.select(F.col(id_col), F.lit(0).alias("topic_id"))
    from vector_search_ai_assistant_mongodbvcore_spark.operators.kmeans import fit_kmeans

    topic = assign_topics_col(fit_kmeans(df, vector_col, k, seed, max_iter).tolist(), vector_col)
    return df.select(F.col(id_col), topic.alias("topic_id"))


def fit_topics_local(
    parquet_path: str,
    k: int = 8,
    vector_col: str = "embedding",
    max_fit_rows: int = 5000,
    seed: int = 42,
    iters: int = 10,
) -> "list[list[float]]":
    """Pure-Python KMeans fit (pandas + numpy, NO Spark): bit-deterministic
    for a given parquet file — file-order head(max_fit_rows) sample, seeded
    init, a FIXED number of Lloyd iterations (no convergence test whose
    float compare could flake). The oracle-pairing variant of
    cluster_topics, exactly like fit_language_id_local vs fit_language_id:
    the Spark serving expression (assign_topics_col) and the DuckDB twin
    score the IDENTICAL centroid matrix. Returns k unit-space centroids
    as float64 lists.

    Scale note: this is the driver-side fit for the oracle path;
    cluster_topics fits over a hashed sample of a DataFrame instead —
    both bound the fit input, only this one is bit-replayable."""
    import numpy as np
    import pandas as pd

    pdf = pd.read_parquet(parquet_path, columns=[vector_col]).head(int(max_fit_rows))
    x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vector_col]])
    if x.ndim != 2 or x.shape[0] == 0:
        raise ValueError(f"no vectors in {parquet_path}:{vector_col}")
    nrm = np.linalg.norm(x, axis=1, keepdims=True)
    x = np.where(nrm > 0, x / np.where(nrm == 0, 1.0, nrm), 0.0)
    n = x.shape[0]
    k = min(int(k), n)
    rng = np.random.RandomState(int(seed))
    cents = x[np.sort(rng.choice(n, k, replace=False))].copy()
    for _ in range(int(iters)):
        # argmin ||x-c||^2 == argmax (x.c - |c|^2/2); ties -> first index
        scores = x @ cents.T - 0.5 * (cents * cents).sum(axis=1)
        assign = np.argmax(scores, axis=1)
        for c in range(k):
            members = x[assign == c]
            if len(members):  # empty cluster keeps its old centroid
                cents[c] = members.mean(axis=0)
    return [[float(v) for v in c] for c in cents]


def assign_topics_col(
    centroids: "list[list[float]]", col: "Column | str"
) -> "Column":
    """topic_id (int) for an array-typed embedding column: nearest fitted
    centroid in unit space, as a PURE-CODEGEN projection — the centroid
    matrix is inlined as literals and the argmin is an argmax over
    k fold expressions (zero Exchange, no MLlib, no Python; the same
    serving shape as language-ID scoring).

    Assignment rule (replayed verbatim by the DuckDB twin in
    queries._topics_sql): with x' = x/|x| (zero vectors stay zero),
    topic = argmax_c (x'.c - |c|^2/2), first maximum on ties. Dividing
    the dot by |x| AFTER the fold keeps one norm computation per row."""
    from pyspark.sql import Column as _Col

    from vector_search_ai_assistant_mongodbvcore_spark.operators.language_id import (
        _fast_array_lit,
    )

    v = (F.col(col) if isinstance(col, str) else col).cast("array<double>")

    def pick(x: _Col) -> _Col:
        dots = [
            F.aggregate(
                F.zip_with(x, _fast_array_lit([float(a) for a in c]), lambda p, q: p * q),
                F.lit(0.0),
                lambda acc, d: acc + d,
            )
            for c in centroids
        ]
        nrm = F.sqrt(
            F.aggregate(x, F.lit(0.0), lambda acc, e: acc + e * e)
        )
        scores = F.array(
            *[
                F.when(nrm == 0.0, F.lit(0.0)).otherwise(d / nrm)
                - F.lit(0.5 * sum(a * a for a in c))
                for d, c in zip(dots, centroids)
            ]
        )
        return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")

    # bind x once: every dot fold re-references the column; element_at/
    # transform makes those references O(1) variable reads (language_id's
    # _bound pattern, inlined here to avoid a cross-module private import)
    return F.element_at(F.transform(F.array(v), pick), 1)


def topic_sizes(
    df: DataFrame,
    k: int = 8,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Topic distribution: (topic_id, n_docs), the corpus-analytics rollup.
    The fit sees a bounded sample (cluster_topics); the rollup counts every
    row."""
    assigned = cluster_topics(df, k=k, vector_col=vector_col, id_col=id_col, seed=seed)
    return assigned.groupBy("topic_id").agg(F.count(F.lit(1)).alias("n_docs"))
