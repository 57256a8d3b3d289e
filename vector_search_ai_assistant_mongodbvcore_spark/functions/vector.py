"""Vector math as native Catalyst expressions.

The reference's similarity is cosine over 1536-dim float vectors, evaluated
inside the Cosmos index ("similarity": "COS",
/root/reference/SharedLib/Services/MongoDbService.cs:135-136, :159-160).

Here the similarity is a first-class column expression so Catalyst can
pipeline it inside whole-stage codegen — no Python in the hot path. For
brute-force scoring of very wide vectors there is also an Arrow-batched numpy
path (`cosine_scores_pandas`) used by the top-k operator when configured;
both produce identical rankings.

All functions accept `array<float>` / `array<double>` columns.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def _to_col(v: Column | str | Sequence[float]) -> Column:
    if isinstance(v, Column):
        return v
    if isinstance(v, str):
        return F.col(v)
    # literal query vector: ONE array<double> Literal node. An
    # F.array(*[F.lit(x) ...]) form would put `dims` Literal nodes into
    # every plan (each use of the vector repeats them) for the analyzer
    # and optimizer to walk before constant folding collapses them.
    return F.lit(np.asarray(v, dtype=np.float64))


def dot_product(a: Column | str | Sequence[float], b: Column | str | Sequence[float]) -> Column:
    """Elementwise dot product via zip_with + aggregate (JVM, codegen'd)."""
    ca, cb = _to_col(a), _to_col(b)
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str | Sequence[float]) -> Column:
    ca = _to_col(a)
    return F.sqrt(F.aggregate(ca, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity(
    a: Column | str | Sequence[float],
    b: Column | str | Sequence[float],
    assume_normalized: bool = False,
) -> Column:
    """Cosine similarity; with `assume_normalized=True` it is just the dot
    product (ada-002 vectors are unit-norm — the reference relies on the same
    equivalence by configuring COS on normalized embeddings)."""
    ca, cb = _to_col(a), _to_col(b)
    if assume_normalized:
        return dot_product(ca, cb)
    # Spark 4 defaults to ANSI mode: a zero-norm vector would raise
    # DIVIDE_BY_ZERO. Define cos(x, 0) = 0.0 instead (matches numpy oracle
    # convention used in tests).
    denom = l2_norm(ca) * l2_norm(cb)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot_product(ca, cb) / denom)


def normalize(a: Column | str) -> Column:
    """Unit-normalize an array column (JVM-side). Zero vectors pass through
    unchanged — under Spark 4's default ANSI mode a bare division would raise
    DIVIDE_BY_ZERO, and cosine_similarity already defines cos(x, 0) = 0 for
    the same case."""
    ca = _to_col(a)
    n = l2_norm(ca)
    return F.when(n == 0.0, ca).otherwise(F.transform(ca, lambda x: x / n))


def stack_vectors(s: "pd.Series", dims: int | None = None):
    """Batch-to-matrix with NULL hygiene: None/empty cells become zero
    vectors (scoring convention cos(x, 0) = 0 — matching the guarded column
    expression), so a single null row can't kill an Arrow batch. Fast path
    is a plain vstack when the batch is clean.

    A NON-null vector whose length disagrees with `dims` (or with the other
    vectors in the batch) raises ValueError: silently truncating/padding a
    wrong-dimension embedding would skew every cosine score downstream
    without any signal that the input was bad."""
    vals = s.to_numpy()
    valid = [v is not None and len(v) > 0 for v in vals]
    lens = {len(v) for v, ok in zip(vals, valid) if ok}
    if len(lens) > 1:
        raise ValueError(
            f"stack_vectors: mixed vector dimensions in batch: {sorted(lens)}"
        )
    if lens and dims is not None and (got := next(iter(lens))) != dims:
        raise ValueError(
            f"stack_vectors: expected {dims}-dim vectors, got {got}-dim"
        )
    if all(valid) and len(vals):
        return np.vstack(vals).astype(np.float64, copy=False)
    if dims is None:
        dims = next(iter(lens), 1)
    out = np.zeros((len(vals), dims), dtype=np.float64)
    for i, (v, ok) in enumerate(zip(vals, valid)):
        if ok:
            out[i] = np.asarray(v, dtype=np.float64)
    return out


def make_cosine_scores_pandas(query: Sequence[float], normalized: bool = False):
    """Arrow-batched numpy scorer: Series[list[float]] -> Series[float].

    For wide vectors (1536 dims) and large scans, a single BLAS matmul per
    Arrow batch beats per-element codegen. Used by operators.vector_search
    when `use_pandas=True`.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    q = np.asarray(query, dtype=np.float64)
    qn = q / np.linalg.norm(q) if not normalized else q

    @pandas_udf(DoubleType())
    def cosine_scores(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            m = stack_vectors(s, dims=len(q))  # (rows, dims), nulls -> zeros
            if not normalized:
                norms = np.linalg.norm(m, axis=1)
                norms[norms == 0.0] = 1.0
                sims = (m @ qn) / norms
            else:
                sims = m @ qn
            yield pd.Series(sims)

    return cosine_scores


def quantize_int8(a: Column | str) -> Column:
    """Symmetric per-vector int8 quantization for embedding storage:
    struct(scale float, q array<tinyint>) with q[i] = round(v[i]/scale),
    scale = max(|v|)/127 (zero vectors get scale 0 and all-zero codes).

    At 100 TB this is the classic 4x storage/IO cut for vector corpora
    (float32 -> int8 + one float per vector); recall loss for cosine top-k
    is bounded by the per-element quantization error (see
    tests/test_vector_quantization.py for the empirical bound). Pure
    column expressions — transform/aggregate, no UDF — so quantization
    runs inside the scan projection."""
    v = _to_col(a)
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = (absmax / F.lit(127.0)).cast("float")
    q = F.when(scale == 0.0, F.transform(v, lambda x: F.lit(0).cast("tinyint"))).otherwise(
        F.transform(v, lambda x: F.round(x / scale).cast("tinyint"))
    )
    return F.struct(scale.alias("scale"), q.alias("q"))


def dequantize_int8(s: Column | str) -> Column:
    """Inverse of quantize_int8: array<double> = q[i] * scale."""
    s = F.col(s) if isinstance(s, str) else s
    return F.transform(
        s.getField("q"), lambda x: x.cast("double") * s.getField("scale").cast("double")
    )
