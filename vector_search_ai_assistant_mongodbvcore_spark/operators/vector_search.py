"""Top-k vector search — the reference's core retrieval operator.

Reference: MongoDbService.VectorSearchAsync
(/root/reference/SharedLib/Services/MongoDbService.cs:179-239): a 2-stage
aggregation pipeline `$search.cosmosSearch{vector, path:"vector", k}` then
`$project {_id:0, vector:0}`, results string-joined with spaces (:227-229)
into the RAG payload. k defaults to 10 (:56).

Spark-first plan:
    score = cosine(vector_col, lit(query_vec))   # codegen'd or Arrow/numpy
    ORDER BY score DESC LIMIT k                  # TakeOrderedAndProject

`ORDER BY ... LIMIT k` is planned as TakeOrderedAndProject: each partition
keeps a k-row heap, the driver merges P×k rows — no global sort, no full
shuffle. That is the exact distributed analogue of the index's top-k and it
scales linearly with partition count; at 100 TB the scan dominates and the
vector column is the only wide column read (column pruning keeps the payload
columns out of the scoring scan when project-after-limit). The query vector
enters the plan as one array<double> literal (functions/vector._to_col).

The served chat path (`vector_search_payload_reranked`) is that recall scan
plus ONE Arrow pass over its top-n rows: retrieval rank, rerank score,
fusion, the top-k cut and the space-joined payload are one Python function
(operators/rerank.rank_candidates), with no window, sort or aggregate after
the TakeOrdered.
"""

from __future__ import annotations

from typing import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.functions.vector import (
    cosine_similarity,
    make_cosine_scores_pandas,
)
from vector_search_ai_assistant_mongodbvcore_spark.functions.docserde import (
    serialize_document,
)

DEFAULT_K = 10  # MaxVectorSearchResults fallback, MongoDbService.cs:56


def vector_search(
    df: DataFrame,
    query_vector: Sequence[float],
    k: int = DEFAULT_K,
    vector_col: str = "vector",
    score_col: str = "score",
    use_pandas: bool = False,
    assume_normalized: bool = False,
    id_col: str | None = None,
    round_scores: int | None = None,
) -> DataFrame:
    """Exact top-k cosine retrieval. Returns the k best rows with a score
    column, vectors dropped from the output (the reference's $project).

    Determinism: equal scores are common (duplicate/rounded embeddings), so
    the top-k is tie-broken on `id_col` ascending — defaulting to the first
    non-vector column — making results stable across runs and partitionings.
    `round_scores` quantizes the score BEFORE ranking so an external oracle
    ranking on rounded scores selects identical rows."""
    if use_pandas:
        scorer = make_cosine_scores_pandas(list(query_vector), normalized=assume_normalized)
        scored = df.withColumn(score_col, scorer(F.col(vector_col)))
    else:
        scored = df.withColumn(
            score_col,
            cosine_similarity(
                F.col(vector_col).cast("array<double>"),
                [float(x) for x in query_vector],
                assume_normalized=assume_normalized,
            ),
        )
    # NULL vectors score 0.0 (the cos(x, 0) = 0 convention) instead of
    # producing NULL scores that sort unpredictably across engines
    scored = scored.withColumn(score_col, F.coalesce(F.col(score_col), F.lit(0.0)))
    if round_scores is not None:
        scored = scored.withColumn(score_col, F.round(F.col(score_col), round_scores))
    if id_col is None:
        id_col = next((c for c in df.columns if c != vector_col), None)
    order = [F.desc(score_col)] + ([F.asc(id_col)] if id_col else [])
    out_cols = [c for c in df.columns if c != vector_col] + [score_col]
    return scored.orderBy(*order).limit(k).select(*out_cols)


def vector_search_payload(
    df: DataFrame,
    query_vector: Sequence[float],
    k: int = DEFAULT_K,
    vector_col: str = "vector",
    id_cols: tuple[str, ...] = ("_id",),
) -> DataFrame:
    """Full reference semantics: top-k → drop `_id`/vector → serialize each
    doc to JSON → join with single spaces into ONE string payload
    (MongoDbService.cs:227-229 — space-joined, not newline).

    Returns a 1-row DataFrame with column `payload`. Ordering inside the
    payload is score-descending, made deterministic by sorting the collected
    (score, json) structs — collect_list alone has no cross-partition order
    guarantee."""
    topk = vector_search(df, query_vector, k=k, vector_col=vector_col)
    doc_cols = [c for c in topk.columns if c not in id_cols and c != "score"]
    docs = topk.select(
        F.col("score"),
        F.to_json(F.struct(*[F.col(c) for c in doc_cols])).alias("doc"),
    )
    return docs.agg(
        F.array_join(
            F.transform(
                F.reverse(F.array_sort(F.collect_list(F.struct("score", "doc")))),
                lambda s: s["doc"],
            ),
            " ",
        ).alias("payload")
    )


def vector_search_payload_reranked(
    df: DataFrame,
    query_vector: Sequence[float],
    query_text: str,
    k: int = DEFAULT_K,
    n_candidates: int = 30,
    vector_col: str = "vector",
    id_cols: tuple[str, ...] = ("_id",),
    scorer_factory=None,
    fuse: bool = True,
) -> DataFrame:
    """Retrieve → rerank → payload: the production serving chain the raw
    reference path (vector_search_payload) lacks. Cosine top-`n_candidates`
    recall stage, then ONE Arrow pass over the recalled rows
    (`coalesce(1).mapInArrow`; TakeOrdered output is one partition
    already, so the coalesce adds no exchange) ranks them by retrieval
    score, scores each serialized candidate against `query_text`, fuses,
    keeps k and space-joins the payload — the same `rank_candidates` that
    `rerank` maps, so there is one implementation of the order.

    `fuse=True` (default) RRF-fuses the scorer's order with the cosine
    retrieval order (rerank(rank_col=...)): the scorer refines rather than
    overwrites retrieval, so a scorer no better than cosine cannot drag
    the payload below the plain vector path — the EVAL.md-measured failure
    of the old replace-by-default policy. Set fuse=False only for a scorer
    known to dominate the retriever (a real cross-encoder).

    Returns a 1-row DataFrame with column `payload` ("" when no candidate
    is recalled). Scale shape: the corpus-sized work is still the
    TakeOrdered recall scan; rerank touches only n_candidates rows, so
    payload cost stays independent of corpus size. `scorer_factory`
    defaults to the deterministic lexical scorer; inject the cross-encoder
    transport in production."""
    from vector_search_ai_assistant_mongodbvcore_spark.operators.rerank import (
        lexical_overlap_scorer,
        rank_candidates,
        rank_positions,
        serving_order,
    )

    scorer = (scorer_factory or lexical_overlap_scorer)(query_text)
    topk = vector_search(df, query_vector, k=n_candidates, vector_col=vector_col)
    doc_cols = [c for c in topk.columns if c not in id_cols and c != "score"]
    id_col = next((c for c in id_cols if c in topk.columns), None) or doc_cols[0]
    docs = topk.select(
        F.col(id_col).alias("id"),
        F.col("score"),
        F.to_json(F.struct(*[F.col(c) for c in doc_cols])).alias("doc"),
    )

    def payload(batches):
        ids, scores, texts = [], [], []
        for b in batches:
            ids += b.column(0).to_pylist()
            scores += b.column(1).to_pylist()
            texts += b.column(2).to_pylist()
        out = ""
        if ids:
            ret_ranks = rank_positions(scores, ids) if fuse else None
            top, rerank_scores, fused = rank_candidates(ids, texts, scorer, k, ret_ranks)
            key = fused if fuse else rerank_scores
            out = " ".join(texts[i] for i in serving_order(top, key, ids, texts))
        yield pa.RecordBatch.from_pydict({"payload": [out]})

    return docs.coalesce(1).mapInArrow(payload, "payload string")


def embed_and_search(
    df: DataFrame,
    query_text: str,
    embedder,
    k: int = DEFAULT_K,
    vector_col: str = "vector",
) -> DataFrame:
    """V6 + V1: embed the natural-language question (driver-side, one small
    embed — the 'predicate is a vector'), then top-k search."""
    q = embedder.embed_numpy([query_text])[0]
    return vector_search(df, [float(x) for x in q], k=k, vector_col=vector_col)


def auto_search(
    spark,
    df: DataFrame,
    query_vector: Sequence[float],
    k: int = DEFAULT_K,
    index_path: str | None = None,
    vector_col: str = "vector",
    id_col: str | None = None,
    n_probe: int = 1,
) -> DataFrame:
    """SURVEY §4's access-path choice, made explicit in the engine API (the
    reference picks HNSW/IVF by config, MongoDbService.cs:82): when an
    index exists at `index_path` the `ORDER BY cosine(...) DESC LIMIT k`
    is rewritten onto its pruned scan — each index kind recognized by
    its own meta shape (LshIndex: bits; PartitionedHnswIndex: kind ==
    "vector-hnsw", the reference's own index-kind string; IvfIndex:
    num_lists) — otherwise exact top-k over `df`. A dir whose meta
    matches no known layout raises rather than guess an access path
    (r14: IvfIndex used to be the catch-all, which would have misrouted
    an HNSW dir through the centroid reader). A
    SparkSessionExtensions-injected Catalyst rule is the v2 polish; this
    is the documented v1 rewrite point."""
    if index_path is not None:
        from vector_search_ai_assistant_mongodbvcore_spark.operators.hnsw import (
            PartitionedHnswIndex,
        )
        from vector_search_ai_assistant_mongodbvcore_spark.operators.ivf import IvfIndex
        from vector_search_ai_assistant_mongodbvcore_spark.operators.similarity import LshIndex

        lsh = LshIndex(spark, index_path)
        if lsh.exists():
            meta = lsh.meta()
            if "bits" in meta:
                return lsh.search(list(query_vector), k=k)
            if meta.get("kind") == "vector-hnsw":
                return PartitionedHnswIndex(spark, index_path).search(
                    list(query_vector), k=k
                )
            if "num_lists" in meta:
                return IvfIndex(spark, index_path).search(
                    list(query_vector), k=k, n_probe=n_probe, id_col=id_col
                )
            raise ValueError(
                f"{index_path}: meta.json matches no known index layout "
                f"(fields: {sorted(meta)})"
            )
    return vector_search(df, query_vector, k=k, vector_col=vector_col, id_col=id_col)
