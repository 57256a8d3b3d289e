"""Product quantization (PQ) for the vector-serving tier: compress
embeddings to m sub-codes and serve top-k with asymmetric distance
computation (ADC) — Jégou et al. 2011 ("Product quantization for nearest
neighbor search"), the codebook layout behind FAISS IVF-PQ.

Where int8 quantization (functions/vector.py quantize_int8) cuts vector
IO 4x, PQ cuts it 16-64x: a 64-dim float32 vector (256 B) becomes m=8
one-byte codes (8 B) at 32x. The price is coarser scores, so PQ serves
the same role here as everywhere: candidate generation, with exact
rerank on the full vectors for the short list (operators/rerank.py /
the IVF index's quantized-rerank pattern).

Cosine is served exactly in ADC form by L2-normalizing vectors BEFORE
codebook fit and encoding: cosine(q, x) = <q/|q|, x/|x|>, and the inner
product decomposes over subspaces as sum_j <q_j, c_j(code_j)> — so one
m x k lookup table per query replaces every per-vector float read.

Scale shape:
  * fit: per-subspace k-means on the DRIVER (operators/kmeans) over the
    engine's bounded hashed sample (<= max_sample rows); codebooks are
    m * k * (dims/m) floats — KBs.
  * encode: one Arrow-batched pandas_udf pass, narrow (no shuffle);
    codes persist wherever the corpus lives and are 16-64x smaller than
    the vectors they replace.
  * serve: the query's LUT broadcasts inside a pandas_udf closure (m*k
    floats); scoring is a numpy gather + sum per batch, then
    TakeOrderedAndProject top-k — per-query cost scans CODES, never the
    float vectors.

No registry slot: k-means codebooks are approximate by construction, so
this could only ever be a rows-only gate row (the same reason
ivf_search_pruned was retired); exactness properties that CAN be pinned
are pytest-pinned instead (encode parity with numpy, ADC == table
lookup, recall floor vs exact cosine, determinism across partitionings).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vector_search_ai_assistant_mongodbvcore_spark.functions.vector import stack_vectors
from vector_search_ai_assistant_mongodbvcore_spark.operators.kmeans import (
    hashed_sample,
    lloyd,
    unit_rows,
)

__all__ = ["fit_pq", "encode_pq", "adc_topk", "pq_model_bytes", "pq_encode_col", "adc_score_col"]


def fit_pq(
    df: DataFrame,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    bits: int = 8,
    seed: int = 42,
    max_sample: int = 100_000,
    iters: int = 20,
    overshoot_sigmas: float = 6.0,
) -> dict:
    """Fit per-subspace codebooks on a bounded deterministic sample.

    Returns {"m", "bits", "dims", "codebooks"} with codebooks an
    m x 2^bits x (dims/m) nested list (JSON-serializable; KBs). Vectors
    are L2-normalized before fitting so ADC scores approximate cosine.
    The sample is kmeans.hashed_sample (stage "pq", <= max_sample rows):
    keyed on the vector, so `id_col` is not read; an undershoot of its
    `overshoot_sigmas` prefilter margin raises, naming the knob.
    """
    mat = hashed_sample(
        df, vector_col, max_sample, seed, stage="pq", overshoot_sigmas=overshoot_sigmas
    )
    dims = mat.shape[1]
    if dims % m != 0:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    dsub = dims // m
    k = 1 << bits
    codebooks = [
        lloyd(mat[:, j * dsub : (j + 1) * dsub], k, seed=seed + j, iters=iters)
        for j in range(m)
    ]
    return {
        "m": m,
        "bits": bits,
        "dims": dims,
        "codebooks": [cb.tolist() for cb in codebooks],
    }


def pq_model_bytes(model: dict) -> int:
    """Serialized codebook size in bytes (float32) — the broadcast cost."""
    return model["m"] * (1 << model["bits"]) * (model["dims"] // model["m"]) * 4


def encode_pq(
    df: DataFrame,
    model: dict,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id_col, codes array<int>) — one narrow Arrow pass (pq_encode_col);
    NULL vectors are dropped (they cannot be searched). Codes are the
    per-subspace argmin centroid over the L2-normalized vector."""
    return df.filter(F.col(vector_col).isNotNull()).select(
        id_col, pq_encode_col(model, vector_col).alias("codes")
    )


def adc_topk(
    encoded: DataFrame,
    model: dict,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    round_scores: int = 6,
) -> DataFrame:
    """Approximate cosine top-k over PQ codes (asymmetric distance
    computation): build the query's m x 2^bits inner-product lookup
    table once, score every code row with a numpy gather, and take the
    global top-k via TakeOrderedAndProject. Output: (id_col, score).

    Scores round to `round_scores` with an id tiebreak so results are
    deterministic across partitionings."""
    score = F.round(adc_score_col(model, query, "codes"), round_scores)
    return (
        encoded.select(id_col, score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_encode_col(model: dict, vector_col) -> "F.Column":
    """PQ codes as a column, for encode_pq and for another operator's
    projection (IvfIndex build/add): array<int> codes from the broadcast
    codebooks, one Arrow batch at a time. NULL vectors -> NULL codes
    (callers decide their policy)."""
    cbs = [np.array(cb, dtype=np.float64) for cb in model["codebooks"]]
    m, dims = model["m"], model["dims"]
    dsub = dims // m

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def enc(v: pd.Series) -> pd.Series:
        mask = v.notna().values
        if not mask.any():
            return pd.Series([None] * len(v), dtype=object)
        mat = unit_rows(stack_vectors(v[mask], dims=dims))
        # per subspace argmin |x|^2 - 2 x.c + |c|^2; |x|^2 is constant
        codes = np.stack(
            [
                (-2.0 * mat[:, j * dsub : (j + 1) * dsub] @ cb.T + (cb * cb).sum(axis=1))
                .argmin(axis=1)
                for j, cb in enumerate(cbs)
            ],
            axis=1,
        ).astype(np.int32)
        it = iter(codes)
        return pd.Series([next(it) if ok else None for ok in mask], dtype=object)

    c = F.col(vector_col) if isinstance(vector_col, str) else vector_col
    return enc(c)


def query_lut(model: dict, query: Sequence[float]) -> np.ndarray:
    """The query's (m, 2^bits) inner-product table: entry (j, c) is
    <q̂_j, codebook_j[c]> for the unit query q̂, so a code row's ADC score
    is the sum of its m entries."""
    q = np.asarray(list(query), dtype=np.float64)
    qn = np.linalg.norm(q)
    if qn > 0:
        q = q / qn
    dsub = model["dims"] // model["m"]
    return np.stack(
        [
            np.array(cb, dtype=np.float64) @ q[j * dsub : (j + 1) * dsub]
            for j, cb in enumerate(model["codebooks"])
        ]
    )


def adc_score_col(model: dict, query: Sequence[float], codes_col) -> "F.Column":
    """Column form of the ADC score: the query's LUT closes over the UDF
    and each batch is one numpy gather+sum. Compose with the caller's own
    ordering/limit."""
    lut = query_lut(model, query)
    m = model["m"]

    @F.pandas_udf(T.DoubleType())
    def sc(codes: pd.Series) -> pd.Series:
        c = np.stack(codes.values).astype(np.int64)
        return pd.Series(lut[np.arange(m)[None, :], c].sum(axis=1))

    c = F.col(codes_col) if isinstance(codes_col, str) else codes_col
    return sc(c)
