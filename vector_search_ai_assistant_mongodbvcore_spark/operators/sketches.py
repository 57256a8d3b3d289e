"""KMV (k-minimum-values) distinct-cardinality sketch — single-scan,
bounded-memory COUNT(DISTINCT) estimation for 100 TB profiling.

Why an engine operator: exact COUNT(DISTINCT key) at warehouse scale
shuffles every distinct key (the partial HashAggregate dedups only
within a partition — the exchange still carries the full distinct set).
A KMV sketch reduces each partition to its k smallest DISTINCT 60-bit
hashes inside the scan (bounded memory: one k-vector per partition),
so the only exchange is <= P*k longs regardless of data volume, and the
merged sketch estimates the global cardinality within ~1/sqrt(k-2)
relative error (k=256 -> ~6%; k=4096 -> ~1.6%).

The estimator is the classic unbiased KMV form (Bar-Yossef et al. 2002;
Beyer et al., SIGMOD 2007): with U_(k) the k-th smallest of n distinct
values hashed uniformly into [0, 1),  n_hat = (k-1) / U_(k).  Hashes
here are the first 15 hex chars of md5 (60 bits — portable: Spark
`conv(substring(md5(x), 1, 15), 16, 10)` equals DuckDB
`CAST('0x' || substr(md5(x), 1, 15) AS UBIGINT)` bit-for-bit, the same
discipline operators/splits.py uses), so U_(k) = h_(k) / 2^60 and

    n_hat = (k-1) * 2^60 / h_(k)        (exact count when n < k)

Every step is DETERMINISTIC and engine-portable: per-bucket minima are
integer comparisons, the reduction is lossless (see kmv_smallest), and
the one floating-point division runs on exact integer inputs — the
Spark result and an ANSI-SQL twin agree to the bit, which is what lets
the gate hash-compare `distinct_cardinality_kmv` against DuckDB.

The reference has no sketch surface (its collections are mongo-vcore
documents; profiling is out of scope there) — this module is part of
the training-data-pipeline tier the brief adds on top, next to
operators/profile.py's exact single-scan aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.plans.inspect import planned_partitions
from vector_search_ai_assistant_mongodbvcore_spark.session import local_frame

__all__ = [
    "kmv_hash",
    "kmv_smallest",
    "kmv_smallest_many",
    "kmv_merge",
    "kmv_estimate_from_sketch",
    "kmv_distinct",
    "kmv_profile",
    "kmv_profile_many",
    "mg_candidates",
    "top_frequent",
]

# 2^60 — the hash domain size; exactly representable as a double (one
# significant bit), so `k-1 * 2^60` products stay exact for any k < 2^52
_DOMAIN = 1 << 60

# Fan-in of the hierarchical partial fold (r16, guide §5 single-task
# buffers / §2.3 two-level aggregation): the <= P*k local partials per
# column are first folded per (column, pmod(h, G)) group — each distinct
# hash lands in exactly ONE group, so groups partition the distinct set
# and a per-group k-min is lossless for the global k-min (any global
# k-smallest hash has < k smaller hashes overall, hence < k within its
# own group). The final per-column fold then buffers <= G*k longs
# instead of P*k: at P ~ 10^6 scan partitions and k=256 that is 2 MB
# per task instead of 2 GB. G is a constant, not tuned to local core
# count — both fold levels stay bounded for P up to ~10^7.
_FOLD_GROUPS = 1024

# The fold costs one extra (tiny) exchange + stage, so it is GATED on
# the partial volume it exists to bound: below ~2 MB of longs in the
# single merge task (P*k <= 2^18) the one-level merge is both safe and
# faster (A/B at sf0.1, P=32, k=256: two-level +0.13 s median on the
# gate query for zero benefit), past it the two-level shape caps every
# buffer. P is plans.inspect.planned_partitions (an upper bound past an
# exchange; a misread costs only performance); at 100 TB P ~ 10^5-10^6
# and the fold is always on.
_FOLD_CUTOVER = 1 << 18


def _fold_worthwhile(df: DataFrame, k: int, n_cols: int = 1) -> bool:
    return planned_partitions(df) * k * n_cols > _FOLD_CUTOVER


def _kmv_fold_partials(local: DataFrame, k: int, by_col: bool) -> DataFrame:
    """Level-1 fold of KMV local partials: per (["col"], pmod(h, G))
    group, keep the k smallest distinct hashes. Output is globally
    DISTINCT (groups are disjoint by value) and a lossless superset of
    the global k-min per column, <= G*k rows per column."""
    keys = (["col"] if by_col else []) + [
        F.pmod(F.col("h"), F.lit(_FOLD_GROUPS)).alias("_g")
    ]
    folded = (
        local.groupBy(*keys)
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("_hs"))
        .select(*(["col"] if by_col else []), F.explode("_hs").alias("h"))
    )
    return folded


def kmv_hash(col: Column, salt: str = "kmv") -> Column:
    """Uniform 60-bit hash of a column value: the first 15 hex chars of
    md5("<salt>:<value>") as a LONG. Portable across engines (DuckDB:
    CAST('0x' || substr(md5(...), 1, 15) AS UBIGINT)) for STRING and
    integer columns, whose cast-to-string renders identically everywhere;
    hash floating-point columns only after an explicit deterministic
    format (engines disagree on float-to-string rendering). `salt`
    decorrelates this hash family from the splits/sampling md5 buckets so
    a sketch over a split column is independent of the split
    assignment."""
    return F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(salt), col.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")


def kmv_smallest(df: DataFrame, col: str, k: int = 256, salt: str = "kmv") -> DataFrame:
    """The k smallest DISTINCT 60-bit hashes of non-null `col` values, as
    a <=k-row DataFrame ["h" long] — the sketch itself.

    Scale path: a per-partition LOSSLESS bounded reduce (each scan
    partition keeps only its own k smallest distinct hashes via a numpy
    running-unique inside mapInPandas — memory is one k-vector, never
    the partition's distinct set), then one distinct + TakeOrdered over
    the <= P*k survivors. Lossless because each of the global k smallest
    distinct hashes lives in SOME partition, where it is by definition
    among that partition's k smallest distinct — so the pre-reduce can
    never evict a global survivor. NULLs are excluded, matching
    COUNT(DISTINCT) semantics."""
    if k < 2:
        raise ValueError(f"k must be >= 2 for the (k-1)/U_(k) estimator, got {k}")
    import numpy as np
    import pandas as pd

    hashed = df.filter(F.col(col).isNotNull()).select(
        kmv_hash(F.col(col), salt).alias("h")
    )

    def local_kmin(batches):
        best = None
        for pdf in batches:
            vals = pdf["h"].to_numpy(dtype="int64")
            pool = vals if best is None else np.concatenate([best, vals])
            best = np.unique(pool)[:k]  # sorted distinct, keep k smallest
        if best is not None and len(best):
            yield pd.DataFrame({"h": best})

    local = hashed.mapInPandas(local_kmin, "h long")
    # <= P*k rows from here on. r16: when that volume is large, fold per
    # pmod(h, G) group first (lossless, output already distinct — see
    # _kmv_fold_partials) so the global TakeOrdered merges <= G*k rows
    # instead of P*k; below the cutover the plain distinct is cheaper.
    if _fold_worthwhile(df, k):
        return _kmv_fold_partials(local.select("h"), k, by_col=False).orderBy("h").limit(k)
    return local.distinct().orderBy("h").limit(k)


def kmv_smallest_many(
    df: DataFrame, cols: "list[str]", k: int = 256, salt: str = "kmv"
) -> DataFrame:
    """Sketches for MANY columns of one table in ONE scan: a <= len(cols)*k
    row DataFrame ["col" string, "h" long]. The realistic profiling shape —
    cardinality-profiling N columns must cost one pass over the table,
    not N (the column_profile discipline). Same lossless per-partition
    reduce as kmv_smallest, run per column inside one mapInPandas; the
    survivors are folded per (col, pmod(h, G)) group when the partial
    volume warrants it (r16, lossless — see _kmv_fold_partials) so the
    per-column window rank that cuts the global k ranks <= G*k rows,
    never one task's P*k buffer."""
    from pyspark.sql import Window

    local = _kmv_local_partials(df, cols, k, salt)
    if _fold_worthwhile(df, k, len(cols)):
        deduped = _kmv_fold_partials(local, k, by_col=True)
    else:
        deduped = local.distinct()
    w = Window.partitionBy("col").orderBy("h")
    return (
        deduped
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _kmv_local_partials(
    df: DataFrame, cols: "list[str]", k: int, salt: str
) -> DataFrame:
    """The shared scan stage of the multi-column sketch: per scan
    partition, the <= k smallest distinct hashes of each column
    (["col" string, "h" long], <= P*len(cols)*k rows). Callers cut the
    global k: kmv_smallest_many materializes the sketch rows
    (distinct + window rank), kmv_profile_many folds them straight into
    the (n, hk) estimator inputs with one aggregation."""
    if k < 2:
        raise ValueError(f"k must be >= 2 for the (k-1)/U_(k) estimator, got {k}")
    if not cols:
        raise ValueError("kmv sketch needs at least one column")
    import numpy as np
    import pyarrow as pa

    # NULL values map to the -1 SENTINEL (outside the [0, 2^60) hash
    # domain) so the column is non-null int64 end to end — a nullable
    # long would cross into classic pandas as float64, whose 53-bit
    # mantissa cannot carry 60-bit hashes exactly. Nullness is per
    # column (a row can be NULL in one profiled column and present in
    # another), so no row filter. r15: mapInArrow instead of
    # mapInPandas — the k-min reduce is numpy either way, and Arrow
    # batches skip the pandas Series construction per column per batch
    # (guide §4.2; measured 1.76 -> 1.60 s min-of-3 on the KMV gate
    # query, bit-identical output).
    hashed = df.select(
        *[
            F.when(F.col(c).isNull(), F.lit(-1).cast("long"))
            .otherwise(kmv_hash(F.col(c), salt))
            .alias(c)
            for c in cols
        ]
    )

    def local_kmin(batches):
        best: "dict[str, np.ndarray | None]" = {c: None for c in cols}
        for rb in batches:
            for c in cols:
                vals = rb.column(c).to_numpy(zero_copy_only=False)
                vals = vals[vals >= 0]  # drop the NULL sentinel
                pool = vals if best[c] is None else np.concatenate([best[c], vals])
                best[c] = np.unique(pool)[:k]
        for c in cols:
            if best[c] is not None and len(best[c]):
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([c] * len(best[c]), pa.string()),
                        pa.array(best[c], pa.int64()),
                    ],
                    names=["col", "h"],
                )

    return hashed.mapInArrow(local_kmin, "col string, h long")


def kmv_merge(sketches: "list[DataFrame]", k: int = 256) -> DataFrame:
    """Merge sketches (same k, same salt) into the sketch of the UNION of
    their underlying datasets — k smallest distinct hashes across all
    inputs. Sketch composability is the point of KMV: a per-shard /
    per-day profiling job keeps one k-vector per dataset and answers
    union cardinalities without rescanning anything."""
    if not sketches:
        raise ValueError("kmv_merge needs at least one sketch")
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    return merged.distinct().orderBy("h").limit(k)


def _rel_err_col() -> Column:
    """round(100 * (approx - exact) / exact, 4), NULL when exact is 0
    (no relative error against an empty ground truth) — the guarded,
    left-associated form both the engine and the SQL twin compute."""
    return F.when(F.col("exact_distinct") == 0, F.lit(None).cast("double")).otherwise(
        F.round(
            F.lit(100.0)
            * (F.col("approx_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            4,
        )
    )


def _estimate_col(k: int) -> Column:
    """(k-1) * 2^60 / h_(k) on the sketch aggregate (n = sketch size,
    hk = max hash); exact count when the sketch is not full. All inputs
    are exact integers, so the single double division is bit-portable."""
    return F.when(F.col("n") < k, F.col("n").cast("double")).otherwise(
        F.lit(k - 1).cast("double")
        * F.lit(_DOMAIN).cast("double")
        / F.col("hk").cast("double")
    )


def kmv_estimate_from_sketch(sketch: DataFrame, k: int) -> DataFrame:
    """One-row ["approx_distinct" double] from a sketch frame ["h" long]
    (<= k rows of k-min distinct hashes) — the estimator half alone, so
    merged/persisted sketches (kmv_merge, the streaming monitor's
    per-batch partitions) answer cardinality without touching the data."""
    agg = sketch.agg(F.count("*").alias("n"), F.max("h").alias("hk"))
    return agg.select(_estimate_col(k).alias("approx_distinct"))


def kmv_distinct(
    df: DataFrame, col: str, k: int = 256, salt: str = "kmv"
) -> DataFrame:
    """One-row DataFrame ["approx_distinct" double]: the KMV estimate of
    COUNT(DISTINCT col). Exact (and integral) when the true cardinality
    is below k; otherwise within ~1/sqrt(k-2) relative error."""
    return kmv_estimate_from_sketch(kmv_smallest(df, col, k, salt), k)


def kmv_profile_many(
    df: DataFrame,
    cols: "list[str]",
    k: int = 256,
    salt: str = "kmv",
    entity_prefix: "str | None" = None,
) -> DataFrame:
    """kmv_profile for MANY columns of one table in TWO scans total (one
    multi-column sketch pass + one multi-count_distinct aggregate) —
    however many columns are profiled. Output: one row per column,
    (entity, approx_distinct, exact_distinct, rel_err_pct), the same
    schema and arithmetic as kmv_profile.

    The estimator needs only (n, hk) per column — n = how many of the k
    smallest distinct hashes exist, hk = the largest of them — so the
    sketch side folds the <= P*k local partials per column into ONE
    aggregation (sorted collect_set sliced to k) instead of
    materializing sketch rows through distinct + window rank + re-agg:
    two fewer Exchanges per profiled table, same values bit-for-bit
    (r15; 2.15 -> 1.62 s min-of-3 on the 3-table gate query at sf0.1).
    r16: past the _FOLD_CUTOVER partial volume the partials are folded
    hierarchically first (per (col, pmod(h, G)) group —
    _kmv_fold_partials), so the final per-column collect_set buffers
    <= G*k longs instead of one task holding every partition's partials
    (guide §5 spill risk at P ~ 10^5-10^6); below it the direct
    single-aggregation shape is kept (the fold's extra exchange measured
    +0.13 s at sf0.1 for a buffer that is already tiny)."""
    local = _kmv_local_partials(df, cols, k, salt)
    if _fold_worthwhile(df, k, len(cols)):
        local = _kmv_fold_partials(local, k, by_col=True)
    hs = F.slice(F.array_sort(F.collect_set("h")), 1, k)
    agg = (
        local.groupBy("col")
        .agg(hs.alias("_hs"))
        .select(
            "col",
            F.size("_hs").cast("long").alias("n"),
            F.element_at("_hs", F.size("_hs")).alias("hk"),
        )
    )
    exact = df.agg(
        *[F.count_distinct(F.col(c)).alias(c) for c in cols]
    ).select(
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in cols]),
                F.array(*[F.col(c) for c in cols]),
            )
        ).alias("col", "exact_distinct")
    )
    prefix = f"{entity_prefix}." if entity_prefix else ""
    # LEFT from the exact side: an all-NULL column has no sketch rows at
    # all — it must still report (0.0 estimate, 0 exact), not vanish
    row = (
        exact.join(agg, "col", "left")
        .na.fill({"n": 0})
        .select(
            F.concat(F.lit(prefix), F.col("col")).alias("entity"),
            _estimate_col(k).alias("approx_distinct"),
            F.col("exact_distinct"),
        )
    )
    return row.withColumn("rel_err_pct", _rel_err_col())


def kmv_profile(
    df: DataFrame,
    col: str,
    k: int = 256,
    salt: str = "kmv",
    entity: "str | None" = None,
) -> DataFrame:
    """One-row (entity, approx_distinct, exact_distinct, rel_err_pct):
    the sketch estimate NEXT TO the exact COUNT(DISTINCT) — the
    verification shape the `distinct_cardinality_kmv` gate query records
    (at 100 TB you would run only the sketch half; the exact column is
    what makes the estimate auditable at gate scale). rel_err_pct mirrors
    the SQL `100.0 * (approx - exact) / exact` left-associated, so the
    float result is bit-identical to the DuckDB twin."""
    sk = kmv_smallest(df, col, k, salt)
    agg = sk.agg(F.count("*").alias("n"), F.max("h").alias("hk"))
    exact = df.agg(F.count_distinct(F.col(col)).alias("exact_distinct"))
    row = agg.crossJoin(exact).select(
        F.lit(entity or col).alias("entity"),
        _estimate_col(k).alias("approx_distinct"),
        F.col("exact_distinct"),
    )
    return row.withColumn("rel_err_pct", _rel_err_col())


# --- Heavy hitters: Misra-Gries frequency sketch -----------------------
#
# The frequency twin of KMV: "what are the most frequent values of this
# column" without shuffling the full distinct set. An exact
# groupBy(col).count() at 100 TB exchanges every distinct key; a
# Misra-Gries summary reduces each scan partition to <= k (item, count)
# counters in bounded memory, and MG summaries are MERGEABLE (Agarwal
# et al., "Mergeable Summaries", PODS 2012): summing per-partition
# counters keeps the one-sided error bound
#
#     true_count - n_rows/(k+1)  <=  mg_count  <=  true_count
#
# so every item with true frequency > n_rows/(k+1) is GUARANTEED to
# survive as a candidate. top_frequent() turns that superset guarantee
# into an EXACT top-N: pass 1 collects the <= P*k candidates, pass 2
# broadcast-joins them back for exact counts, and the result is
# certified exact whenever the N-th candidate's exact count exceeds the
# global error bound — the only case that falls back to the full
# aggregation is a near-uniform column, where no bounded sketch can
# rank items and the exact plan is the honest answer.


def mg_candidates(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """Misra-Gries heavy-hitter candidates for non-null `col`: a
    <= P*k row DataFrame ["item" string, "mg_count" long, "n_rows" long]
    (n_rows repeated on every row — the scan's non-null total, so the
    error bound n_rows/(k+1) travels with the sketch).

    Scale path: one scan; each partition keeps <= k counters via a
    vectorized per-Arrow-batch value_counts merge + MG trim (subtract
    the (k+1)-th largest running count, drop <= 0 — the classic
    decrement step batched), then the global merge is one tiny hash agg
    over <= P*k survivor rows. mg_count is a LOWER bound on the true
    count; items absent from the result have true count <= n_rows/(k+1).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    import pandas as pd

    vals = df.filter(F.col(col).isNotNull()).select(
        F.col(col).cast("string").alias("item")
    )

    def local_mg(batches):
        counters: "pd.Series | None" = None
        n = 0
        for pdf in batches:
            bc = pdf["item"].value_counts()
            n += int(bc.sum())
            counters = bc if counters is None else counters.add(bc, fill_value=0)
            if len(counters) > k:
                # MG trim: one decrement of the (k+1)-th largest count
                # applied to all counters at once; total decremented
                # mass per trim is >= (k+1)*cut, so the sum of cuts
                # over the partition is <= n_partition/(k+1)
                cut = counters.nlargest(k + 1).iloc[k]
                counters = counters - cut
                counters = counters[counters > 0]
        out = pd.DataFrame(
            {
                "item": [] if counters is None else counters.index,
                "mg_count": [] if counters is None else counters.to_numpy("int64"),
            }
        )
        out["n_part"] = n
        # the partition total must survive even when every counter was
        # trimmed away (n still contributes to the global error bound)
        if not len(out) and n:
            yield pd.DataFrame({"item": [None], "mg_count": [0], "n_part": [n]})
        elif len(out):
            yield out

    local = vals.mapInPandas(local_mg, "item string, mg_count long, n_part long")
    # <= P*(k+1) rows from here on. Partition totals ride row 0 of each
    # partition's emit (max per partition = the emitted constant), so
    # one tiny two-level agg recovers both the merged counters and n.
    local = local.persist()
    try:
        n_rows = (
            local.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.max("n_part").alias("n_part"))
            .agg(F.sum("n_part").alias("n"))
            .collect()[0]["n"]
        ) or 0
        merged = (
            local.filter(F.col("item").isNotNull())
            .groupBy("item")
            .agg(F.sum("mg_count").alias("mg_count"))
            .withColumn("n_rows", F.lit(int(n_rows)))
        )
        # materialize before unpersisting the mapInPandas output
        return merged.localCheckpoint(eager=True)
    finally:
        local.unpersist()


def top_frequent(
    df: DataFrame, col: str, topn: int = 10, k: int = 1024
) -> DataFrame:
    """EXACT top-`topn` most frequent non-null values of `col`, as
    ["item" string, "cnt" long] ordered by (cnt desc, item asc) —
    deterministic under count ties.

    Two-pass sketch plan: mg_candidates (one bounded scan) proposes
    <= P*k items; a broadcast semi-join + hash agg computes their EXACT
    counts (second scan touches only `col`). The result is provably the
    true top-N when the N-th candidate's exact count exceeds the MG
    error bound n_rows/(k+1) — every non-candidate's true count is at
    most that bound, so none can displace the returned rows. When the
    certificate fails (near-uniform column, or topn*(k+1) > n_rows),
    falls back to the exact full groupBy — correct always, bounded
    shuffle whenever the data has actual heavy hitters."""
    cand = mg_candidates(df, col, k).select("item", "n_rows")
    vals = df.filter(F.col(col).isNotNull()).select(
        F.col(col).cast("string").alias("item")
    )
    exact_cand = (
        vals.join(F.broadcast(cand.select("item")), "item", "left_semi")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("item").asc())
        .limit(topn)
    )
    rows = exact_cand.collect()
    n_rows_row = cand.select("n_rows").limit(1).collect()
    n_rows = n_rows_row[0]["n_rows"] if n_rows_row else 0
    bound = n_rows / (k + 1)
    certified = len(rows) >= topn and rows[-1]["cnt"] > bound
    certified = certified or (0 < len(rows) < topn and n_rows <= k)
    if certified or n_rows == 0:
        return local_frame(df.sparkSession, rows, "item string, cnt long")
    # uncertified: the honest exact plan (full hash agg + TakeOrdered)
    return (
        vals.groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("item").asc())
        .limit(topn)
    )
