"""SemDeDup: semantic deduplication via embedding clusters (Abbas et al.
2023, arXiv:2303.09540).

Not in the reference; part of the extended LLM-training-pipeline surface.
The recipe: k-means-cluster the corpus embeddings, then WITHIN each cluster
drop all but one member of every epsilon-similar group (cosine >= eps).
Clustering makes the quadratic verification tractable — pairs are only ever
scored against cluster peers, never across the corpus.

Spark shape (composing operators already in the engine):
  1. cluster assignment = operators/topics.cluster_topics — the engine's
     driver k-means (operators/kmeans) fit on a bounded hashed sample,
     assignment a single codegen pass over every row;
  2. clusters larger than `max_cluster` are SUB-BUCKETED by the engine's
     deterministic random-hyperplane code (similarity.lsh_bucket_ids,
     one table) so no task group is ever an unbounded hot cluster; dedup
     then runs within (cluster, sub_bucket) — a documented recall trade
     identical in kind to the paper's own within-cluster restriction
     (the sub-bucket column is 0 for normal clusters: zero extra cost);
  3. ONE shuffle on (cluster, sub_bucket) groups members; the per-group
     dedup is the same chunked-BLAS kernel family as
     similarity.embedding_neardup's bucket scorer — the sim matrix never
     materializes as rows, only keep/drop verdicts leave the task.

Keep policies (paper §3): 'min_id' keeps the lowest id of each similar
group (deterministic, mirrors dedup.drop_near_duplicates); 'far' keeps the
member FARTHEST from the cluster centroid (the paper's choice — retains
boundary examples, sheds redundant cluster cores). Both are greedy scans:
a row is dropped iff it is within eps of an already-kept row.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.operators.topics import cluster_topics
from vector_search_ai_assistant_mongodbvcore_spark.session import local_frame


def semantic_duplicates(
    df: DataFrame,
    eps: float = 0.95,
    k: int = 8,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    keep: str = "min_id",
    seed: int = 42,
    max_cluster: int = 100_000,
    sub_bits: int = 4,
) -> DataFrame:
    """(id_col, cluster_id, keep, dup_of) for every non-NULL-embedding row.

    keep=False rows are semantic duplicates of a kept cluster peer at
    cosine >= eps; `dup_of` names the most-similar kept peer that
    suppressed the row (NULL for kept rows) — dedup provenance for audit
    reports and the leakage-safe split edge list. 'min_id' scans ids ascending; 'far' scans by
    centroid-cosine ascending (farthest first), so cluster cores drain
    before boundary points — the paper's retention policy. Deterministic
    under a fixed seed either way (ties in 'far' break by id).
    """
    if keep not in ("min_id", "far"):
        raise ValueError(f"keep must be min_id|far, got {keep!r}")
    from vector_search_ai_assistant_mongodbvcore_spark.operators.similarity import lsh_bucket_ids

    id_t = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_t}, cluster_id int, keep boolean, dup_of {id_t}"
    probe = df.filter(F.col(vector_col).isNotNull()).select(vector_col).first()
    if probe is None:
        return local_frame(df.sparkSession, [], out_schema)
    dims = len(probe[0])

    # NULL-embedding rows are ABSENT from the verdict frame (mirroring
    # exploded_shingles' NULL-text contract): they have no position in
    # embedding space, so neither a keep nor a drop verdict is meaningful.
    # Without this filter the kernel's np.stack would crash on the first
    # NULL.
    df = df.filter(F.col(vector_col).isNotNull())

    assign = cluster_topics(df, k=k, vector_col=vector_col, id_col=id_col, seed=seed)
    assign = assign.withColumnRenamed("topic_id", "cluster_id")
    codes = lsh_bucket_ids(df, dims, bits=sub_bits, tables=1, vector_col=vector_col,
                           id_col=id_col, seed=seed + 1).select(id_col, "bucket")
    data = (
        assign.join(df.select(id_col, F.col(vector_col).cast("array<double>").alias("_v")), id_col)
        .join(codes, id_col)
    )
    # hot-cluster guard: the sub-bucket participates in the grouping key
    # only when the cluster exceeds max_cluster, so normal clusters pay
    # nothing and hot ones split into ~2^sub_bits bounded groups
    w = Window.partitionBy("cluster_id")
    sized = data.withColumn(
        "_sub",
        F.when(F.count(F.lit(1)).over(w) <= max_cluster, F.lit(0)).otherwise(F.col("bucket")),
    ).drop("bucket")

    eps_f = float(eps)
    far = keep == "far"

    def dedup(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        m = np.stack(pdf["_v"].to_numpy()).astype(np.float64, copy=False)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0
        mn = m / norms[:, None]
        if far:
            centroid = mn.mean(axis=0)
            cn = np.linalg.norm(centroid)
            cent_sim = mn @ (centroid / cn) if cn > 0 else np.zeros(len(ids))
            order = np.lexsort((ids, cent_sim))
        else:
            order = np.argsort(ids, kind="mergesort")
        keep_flags = np.zeros(len(ids), dtype=bool)
        dup_of = np.full(len(ids), None, dtype=object)
        kept: list[int] = []
        for row in order:
            if kept:
                sims = mn[kept] @ mn[row]
                hits = np.nonzero(sims >= eps_f)[0]
                if hits.size:
                    # provenance: the kept member that suppressed this row
                    # (the most similar one — the audit trail a dedup
                    # report or leakage-safe split wants)
                    dup_of[row] = ids[kept[hits[np.argmax(sims[hits])]]]
                    continue
            keep_flags[row] = True
            kept.append(row)
        return pd.DataFrame(
            {
                id_col: ids,
                "cluster_id": pdf["cluster_id"].to_numpy(),
                "keep": keep_flags,
                "dup_of": dup_of,
            }
        )

    return sized.groupBy("cluster_id", "_sub").applyInPandas(dedup, schema=out_schema)


def drop_semantic_duplicates(
    df: DataFrame,
    eps: float = 0.95,
    k: int = 8,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    keep: str = "min_id",
    seed: int = 42,
    max_cluster: int = 100_000,
) -> DataFrame:
    """df minus semantic duplicates (all columns preserved)."""
    verdicts = semantic_duplicates(
        df, eps, k, vector_col, id_col, keep, seed, max_cluster
    )
    keep_ids = verdicts.filter(F.col("keep")).select(id_col)
    return df.join(keep_ids, id_col, "left_semi")


def semantic_duplicate_pairs(
    df: DataFrame,
    eps: float = 0.95,
    k: int = 8,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    keep: str = "min_id",
    seed: int = 42,
    max_cluster: int = 100_000,
) -> DataFrame:
    """(id_a, id_b) pairs: each dropped row with the kept row that
    suppressed it — the provenance edge list. Shaped for
    splits.assign_split_leakage_safe, so semantic near-duplicates can be
    held to one split exactly like the n-gram/embedding pair detectors
    (every dropped row connects to its kept suppressor; transitive chains
    share the suppressor's component)."""
    verdicts = semantic_duplicates(
        df, eps, k, vector_col, id_col, keep, seed, max_cluster
    )
    return verdicts.filter(~F.col("keep")).select(
        F.col("dup_of").alias("id_a"), F.col(id_col).alias("id_b")
    )
