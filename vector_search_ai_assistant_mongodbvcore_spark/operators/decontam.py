"""Benchmark decontamination: flag/drop corpus documents that overlap an
evaluation set by word n-grams.

Not in the reference (its corpus is the Cosmic Works retail sample); part of
the extended LLM-training-pipeline surface. The standard recipe (GPT-3
appendix C / PaLM / Llama report) marks a training document as contaminated
when it shares >= min_hits distinct n-grams (n ~ 8..13) with any benchmark
document, then drops it before training.

Scale design — the asymmetry IS the plan:
  * The benchmark side is tiny (eval suites are MBs; the corpus is 100 TB),
    so its distinct n-gram set is collected into a BROADCAST hash join —
    the corpus side streams through map-side, no shuffle for the probe.
  * The corpus side reuses exploded_shingles() (per-row assembly, no
    exchange), so the per-doc hit aggregation's shuffle on id is the
    ONLY wide exchange.
  * Both `hits` (distinct overlapping n-grams) and `n_ngrams` (distinct
    n-grams in the doc) come out of ONE aggregation pass — the match flag
    is a column from the broadcast LEFT join, not a second scan.

Every expression has an exact DuckDB twin (the registered
`decontamination_report` query) — same lowercased whitespace shingles, same
distinct-count semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.functions.text import exploded_shingles


def benchmark_ngrams(
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Distinct lowercased word n-grams of the benchmark set: one `ng`
    column. Small by construction (eval sets), meant to be broadcast."""
    return exploded_shingles(bench, text_col, id_col, n).select("ng").distinct()


def contamination_report(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    bench_id_col: str | None = None,
) -> DataFrame:
    """(id_col, n_ngrams, hits, contaminated) for EVERY corpus doc.

    n_ngrams = distinct n-grams in the doc, hits = distinct n-grams also
    present anywhere in the benchmark, contaminated = hits >= min_hits.
    Docs whose text yields no shingle rows (NULL text) report 0/0/false.

    One broadcast join + one keyed aggregation. r16 (guide §2.3): the
    doc side dedupes shingles PER ROW (exploded_shingles
    distinct_per_doc — array_distinct before the explode), so both
    outputs are plain count()s. The previous two countDistinct
    aggregates cost an Expand(2) over the entire shingle stream into
    the id-keyed exchange — double the shuffled rows for counts the
    per-row dedup yields for free. A/B at sf0.1: 1.05 -> 0.80 s median
    on decontamination_report, rows bit-identical.
    """
    bng = benchmark_ngrams(
        bench, bench_text_col or text_col, bench_id_col or id_col, n
    ).withColumn("_hit", F.lit(1))
    doc_ngs = exploded_shingles(docs, text_col, id_col, n, distinct_per_doc=True)
    agg = (
        doc_ngs.join(F.broadcast(bng), "ng", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.count("_hit").alias("hits"),
        )
    )
    # every doc with non-NULL text has >= 1 shingle row, so `agg` already
    # covers it (empty text yields the "" shingle); only NULL-text docs
    # are missing. A narrow filter+union covers them — NOT a corpus-sized
    # left join back to `docs`, which would add two more id exchanges to
    # the plan for rows that are all zeros anyway.
    nulls = docs.filter(F.col(text_col).isNull()).select(
        F.col(id_col),
        F.lit(0).cast("long").alias("n_ngrams"),
        F.lit(0).cast("long").alias("hits"),
    )
    return (
        agg.unionByName(nulls)
        .select(
            F.col(id_col),
            "n_ngrams",
            "hits",
            (F.col("hits") >= min_hits).alias("contaminated"),
        )
    )


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    bench_id_col: str | None = None,
) -> DataFrame:
    """Corpus minus contaminated docs (all original columns preserved).

    The keep-set join is on id only; at scale prefer calling
    contamination_report once, persisting the (id, contaminated) frame, and
    anti-joining — which is exactly what this does lazily."""
    report = contamination_report(
        docs, bench, n, min_hits, text_col, id_col, bench_text_col, bench_id_col
    )
    keep = report.filter(~F.col("contaminated")).select(id_col)
    return docs.join(keep, id_col, "left_semi")


def remove_contaminated_spans(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    bench_id_col: str | None = None,
    bounded: bool = False,
) -> DataFrame:
    """(id_col, text_col, clean_text, n_words, n_removed): SURGICAL
    decontamination — blank only the words covered by a benchmark-
    overlapping n-gram, keep the rest of the document. The drop-the-doc
    policy (`decontaminate`) throws away an entire web page because it
    quotes one benchmark sentence; span masking keeps the uncontaminated
    text in the training pool, the same APPLY semantics as
    dedup.remove_duplicated_spans with the benchmark n-gram set as the
    span source instead of the corpus' own duplicate n-grams.

    A word survives iff NO benchmark-overlapping n-gram occurrence covers
    it; an embedded benchmark passage of length >= n blanks all its words
    (every word of the passage sits inside some overlapping n-gram). Docs
    with NULL text pass through with clean_text NULL and zero counts.

    Plan: benchmark n-gram set BROADCAST (eval suites are MBs) against the
    position-carrying corpus shingles — the probe is map-side, no shuffle;
    the only wide exchanges are the shingle window on id and the per-doc
    covered-position rollup on the same key. `bounded=True` routes the
    rollup through the word-granular form (positions stay rows) for
    pathological GB-scale single documents, same trade as
    remove_duplicated_spans."""
    from vector_search_ai_assistant_mongodbvcore_spark.operators.dedup import (
        _remove_spans_array,
        _remove_spans_bounded,
    )

    bng = benchmark_ngrams(
        bench, bench_text_col or text_col, bench_id_col or id_col, n
    )
    toks = exploded_shingles(docs, text_col, id_col, n, with_pos=True)
    hit_pos = toks.join(F.broadcast(bng), "ng").select(
        id_col, F.sequence(F.col("_pos"), F.col("_pos") + n - 1).alias("_span")
    )
    if bounded:
        return _remove_spans_bounded(docs, hit_pos, text_col, id_col)
    return _remove_spans_array(docs, hit_pos, text_col, id_col)


def contamination_sources(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """(id_col, bench_id, shared_ngrams): WHICH benchmark document each
    corpus doc overlaps, and by how many distinct n-grams — the provenance
    edge list behind contamination_report's counts (report hits may exceed
    a single edge's shared_ngrams when several benchmark docs contribute
    different n-grams).

    Same plan shape as the report: the benchmark (id, ngram) pairs are
    broadcast — eval sets are small even with per-doc attribution — and
    the corpus side pays one keyed aggregation on (corpus id, bench id).
    Audit trail first: this is what a contamination review actually reads
    (which eval set member leaked, to decide scrub vs drop)."""
    src_id = bench.columns[0] if bench_id_col not in bench.columns else bench_id_col
    bng = exploded_shingles(
        bench.withColumnRenamed(src_id, "_bid") if src_id != "_bid" else bench,
        bench_text_col or text_col,
        "_bid",
        n,
    ).dropDuplicates(["_bid", "ng"])
    doc_ngs = exploded_shingles(docs, text_col, id_col, n).dropDuplicates([id_col, "ng"])
    return (
        doc_ngs.join(F.broadcast(bng), "ng")
        .groupBy(id_col, "_bid")
        .agg(F.countDistinct("ng").alias("shared_ngrams"))
        .select(F.col(id_col), F.col("_bid").alias("bench_id"), "shared_ngrams")
    )


def semantic_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    round_scores: int = 4,
    use_pandas: bool = True,
) -> DataFrame:
    """Embedding-space decontamination: flag corpus items whose vector is
    near-identical to any benchmark item's vector — the semantic
    complement of the n-gram recipe above (catches paraphrased benchmark
    leakage that shares no 8-gram).

    Same asymmetry as the n-gram screen: the benchmark embedding table
    is tiny and rides along with the probe; the corpus streams through
    once. Output: (id_col, best_cos, bench_id, contaminated).

    use_pandas=True (default): the benchmark matrix is collected into
    the closure (bounded — eval suites are small by contract) and each
    Arrow batch scores corpus x benchmark in ONE BLAS matmul inside
    mapInPandas — a narrow plan with no join and no aggregate, the same
    per-bucket-matmul discipline as similarity.py. use_pandas=False
    keeps the pure-JVM form (broadcast nested-loop join + codegen cosine
    + struct-max aggregate); it is join-shaped and Python-free but the
    HOF cosine evaluates interpreted per pair — measured ~5x slower at
    sf0.1, kept for Python-less deployments.

    Scores are rounded to `round_scores` BEFORE the argmax so engines
    whose float summation order differs agree on both value and winner
    (ties break to the smallest benchmark id). NULL corpus vectors score
    NULL -> contaminated=false, bench_id NULL (they carry no semantic
    evidence); NULL benchmark vectors are dropped up front.
    """
    from vector_search_ai_assistant_mongodbvcore_spark.functions.vector import (
        cosine_similarity,
    )

    bench = benchmark.filter(F.col(vector_col).isNotNull()).select(
        F.col(id_col).alias("_bench_id"), F.col(vector_col).alias("_bv")
    )

    if use_pandas:
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        from vector_search_ai_assistant_mongodbvcore_spark.functions.vector import (
            stack_vectors,
        )

        rows = bench.collect()
        if not rows:
            # empty benchmark: nothing can be contaminated
            return corpus.select(
                F.col(id_col),
                F.lit(None).cast("double").alias("best_cos"),
                F.lit(None).cast("long").alias("bench_id"),
                F.lit(False).alias("contaminated"),
            )
        # sorted by id so numpy argmax's first-occurrence rule IS the
        # smallest-bench-id tiebreak
        rows.sort(key=lambda r: r["_bench_id"])
        bids = np.array([r["_bench_id"] for r in rows], dtype=np.int64)
        bmat = np.array([list(r["_bv"]) for r in rows], dtype=np.float64)
        bnorm = np.linalg.norm(bmat, axis=1)
        bnorm[bnorm == 0] = 1.0
        bmat = bmat / bnorm[:, None]
        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("best_cos", T.DoubleType()),
                T.StructField("bench_id", T.LongType()),
            ]
        )

        def score(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                cmat = stack_vectors(pdf["_cv"], dims=bmat.shape[1])
                cnorm = np.linalg.norm(cmat, axis=1)
                cnorm[cnorm == 0] = 1.0
                scores = np.round((cmat / cnorm[:, None]) @ bmat.T, round_scores)
                j = scores.argmax(axis=1)
                yield pd.DataFrame(
                    {
                        "id": pdf["_id"].values,
                        "best_cos": scores[np.arange(len(pdf)), j],
                        "bench_id": bids[j],
                    }
                )

        clean = corpus.select(
            F.col(id_col).alias("_id"), F.col(vector_col).alias("_cv")
        ).filter(F.col("_cv").isNotNull())
        best = clean.mapInPandas(score, schema).withColumnRenamed("id", id_col)
    else:
        scored = (
            corpus.select(F.col(id_col), F.col(vector_col).alias("_cv"))
            .filter(F.col("_cv").isNotNull())
            .join(F.broadcast(bench))
        )
        scored = scored.withColumn(
            "_cos",
            F.round(
                cosine_similarity(
                    F.col("_cv").cast("array<double>"), F.col("_bv").cast("array<double>")
                ),
                round_scores,
            ),
        )
        best = (
            scored.groupBy(id_col)
            .agg(F.max(F.struct(F.col("_cos"), (-F.col("_bench_id")).alias("_neg"))).alias("_best"))
            .select(
                id_col,
                F.col("_best._cos").alias("best_cos"),
                (-F.col("_best._neg")).alias("bench_id"),
            )
        )
    # corpus rows with NULL vectors never scored; restore them
    out = corpus.select(id_col).join(best, id_col, "left")
    return out.select(
        id_col,
        "best_cos",
        "bench_id",
        F.coalesce(F.col("best_cos") >= threshold, F.lit(False)).alias("contaminated"),
    )
