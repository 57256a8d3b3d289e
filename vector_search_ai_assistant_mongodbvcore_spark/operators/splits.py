"""Deterministic train/validation/test splits for training-data pipelines.

Two shapes, both pure column expressions (no UDF, no driver state):

* `assign_split` — hash-boundary assignment. md5(seed:id) -> 32-bit bucket
  -> cumulative weight boundaries. NARROW: no shuffle, no fit, no state;
  every executor assigns its rows independently, so the plan is identical
  at 100 TB. Proportions are exact only in expectation (law of large
  numbers — at corpus scale the error is negligible; at 500 rows it is a
  few percent).
* `assign_split_stratified` — exact per-stratum proportions via a
  row_number over the same hash within each stratum. ONE shuffle on the
  stratum column; boundaries are floor(n_stratum * cumweight), so every
  stratum lands within one row of the requested fractions. Use when a
  skewed stratum (e.g. a rare language) must not be starved by chance.

Both are reproducible across engines: assignment depends only on
(seed, id) — not on row order, partitioning, or Spark internals — so an
ANSI SQL twin produces the identical split (the CORRECTNESS oracle for
`dataset_split_counts` reproduces the md5 bucketing in DuckDB).

Reference parity: the reference has no split operator (it is a serving
stack, not a training pipeline); this is part of the added training-data
surface alongside dedup/similarity/text-quality.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# 2^32 buckets: md5's first 8 hex chars, uniform over [0, 2^32).
_BUCKETS = 1 << 32


def _validate(splits: dict[str, float]) -> list[tuple[str, float]]:
    if not splits:
        raise ValueError("splits must be a non-empty {name: weight} mapping")
    items = list(splits.items())
    if any(w <= 0 for _, w in items):
        raise ValueError(f"split weights must be positive: {splits}")
    total = sum(w for _, w in items)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1.0, got {total}")
    return items


def split_bucket(id_col: Column, seed: int = 42, stage: str | None = None) -> Column:
    """Uniform 32-bit bucket from md5("<seed>:<id>") — the first 8 hex chars
    decoded to a long. Engine-portable: DuckDB reproduces it with
    CAST('0x' || substr(md5(...), 1, 8) AS UBIGINT).

    `stage` namespaces the hash as md5("<stage>:<seed>:<id>"). Selection
    stages that draw from the same pool (split assignment, per-source
    caps, mixture sampling, DSIR resampling) MUST use distinct stages:
    with a shared hash their selections correlate perfectly — e.g. a
    binding per-source cap keeps exactly the lowest-bucket rows, which an
    un-namespaced assign_split then places entirely in 'train', silently
    destroying the split proportions."""
    parts = ([F.lit(stage)] if stage is not None else []) + [
        F.lit(str(seed)),
        id_col.cast("string"),
    ]
    h = F.md5(F.concat_ws(":", *parts))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def assign_split(
    df: DataFrame,
    id_col: str = "doc_id",
    splits: dict[str, float] | None = None,
    seed: int = 42,
    out_col: str = "split",
) -> DataFrame:
    """Attach a deterministic split label by hash boundary (narrow plan).

    Rows with a NULL id all hash to the same bucket (md5 of "<seed>:"),
    i.e. they land together in one split — pass a surrogate id upstream if
    that is not acceptable.
    """
    items = _validate(
        splits if splits is not None else {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    bucket = split_bucket(F.col(id_col), seed)
    expr = F.lit(items[-1][0])  # last split takes the residual boundary
    cum = 0.0
    branches = []
    for name, w in items[:-1]:
        cum += w
        branches.append((int(cum * _BUCKETS), name))
    # build when-chain from the first boundary up; evaluation order matters
    out = None
    for bound, name in branches:
        cond = bucket < F.lit(bound)
        out = F.when(cond, name) if out is None else out.when(cond, name)
    out = expr if out is None else out.otherwise(expr)
    return df.withColumn(out_col, out)


def assign_split_stratified(
    df: DataFrame,
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    splits: dict[str, float] | None = None,
    seed: int = 42,
    out_col: str = "split",
) -> DataFrame:
    """Exact per-stratum proportions: rank rows inside each stratum by the
    same md5 bucket (id tiebreak), then cut at floor(n * cum_weight).

    One shuffle (window over stratum). At 100 TB a single hot stratum's
    window sorts within one task's partition range — Spark's window sort
    spills, so this is size-bounded but still the heavier form; prefer
    `assign_split` unless exact stratum proportions are required.
    """
    items = _validate(
        splits if splits is not None else {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    bucket = split_bucket(F.col(id_col), seed)
    w = Window.partitionBy(stratum_col).orderBy(bucket, F.col(id_col))
    n = Window.partitionBy(stratum_col)
    ranked = df.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(n)
    )
    out = None
    cum = 0.0
    for name, wgt in items[:-1]:
        cum += wgt
        cond = F.col("_rn") <= F.floor(F.col("_n") * F.lit(cum))
        out = F.when(cond, name) if out is None else out.when(cond, name)
    last = F.lit(items[-1][0])
    out = last if out is None else out.otherwise(last)
    return ranked.withColumn(out_col, out).drop("_rn", "_n")


def sample_by_rates(
    df: DataFrame,
    rate_col: str,
    rates: dict[str, float],
    id_col: str = "doc_id",
    seed: int = 42,
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic dataset-mixture sampling: keep each row with its
    group's rate (e.g. {"src0": 1.0, "src1": 0.25} downsamples src1 4×) —
    the source-mixing step of a training-data pipeline.

    Unlike df.sampleBy this is DETERMINISTIC and reproducible across runs,
    engines and partitionings: keep iff md5-bucket("mix", seed, id) < rate,
    so the kept set is a pure function of (id, seed) — re-running the
    pipeline (or re-partitioning the input) yields the identical mixture,
    and nested rates compose (a row kept at 0.25 is also kept at 0.5:
    buckets are uniform, thresholds nest). The "mix" stage tag decorrelates
    the draw from assign_split's hash — without it, a 10% sample of a
    source lands entirely inside 'train' (see split_bucket).

    Narrow plan: one when-chain filter, no shuffle. Groups absent from
    `rates` use default_rate (0.0 = drop, the safe default for an explicit
    mixture spec)."""
    for g, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {g!r} must be in [0,1], got {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0,1], got {default_rate}")
    bucket = split_bucket(F.col(id_col), seed, stage="mix")
    thresh = None
    for g, r in rates.items():
        cond = F.col(rate_col) == g
        lit = F.lit(int(r * _BUCKETS))
        thresh = F.when(cond, lit) if thresh is None else thresh.when(cond, lit)
    thresh = (
        F.lit(int(default_rate * _BUCKETS))
        if thresh is None
        else thresh.otherwise(F.lit(int(default_rate * _BUCKETS)))
    )
    return df.filter(bucket < thresh)


def shuffle_key(id_col: Column | str, seed: int = 42) -> Column:
    """Deterministic pseudo-random TOTAL order key for corpus shuffling:
    md5("<seed>:<id>") with the id appended as tiebreak, so the ordering
    is (a) uniform-random with respect to any natural ordering of the
    data, (b) a pure function of (id, seed) — identical across runs,
    engines and partitionings, like split_bucket — and (c) strict (no
    ties for unique ids).

    This is the curriculum/shuffle hook for sequence packing
    (operators/packing.py orders by id): materialize
    `row_number() over (order by shuffle_key(...))` once as a surrogate id
    — or better at scale, sort the write by this key (repartitionByRange +
    sortWithinPartitions, a single range shuffle) so downstream packing
    reads an already-shuffled corpus. Changing `seed` gives an
    independent reshuffle per epoch."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.concat_ws(
        ":", F.md5(F.concat_ws(":", F.lit(str(seed)), c.cast("string"))), c.cast("string")
    )


def assign_split_leakage_safe(
    df: DataFrame,
    dup_pairs: DataFrame,
    id_col: str = "doc_id",
    splits: dict[str, float] | None = None,
    seed: int = 42,
    out_col: str = "split",
    max_iter: int = 25,
) -> DataFrame:
    """assign_split, but near-duplicate documents NEVER straddle splits.

    `dup_pairs` is an (id_a, id_b) near-dup pair frame from any of the
    engine's dedup detectors (ngram_jaccard_pairs, minhash+verify,
    embedding_neardup, semantic_duplicates pairs). The pairs are closed
    into connected components (dedup.neardup_components) and every member
    of a component is split by the COMPONENT representative's hash, not
    its own — so a test document's near-duplicates land in test with it,
    never in train (the leakage path splitting-then-deduping leaves open,
    and the reason pipelines split on cluster ids: e.g. The Pile / Llama
    dedup-then-split orderings).

    Cost: the component propagation over the PAIR graph (tiny next to the
    corpus — only documents with at least one near-dup appear) + one
    left join of the corpus against the component map on id; singleton
    documents keep their own hash. Determinism: components label by min
    id, the hash is the same portable md5 as assign_split."""
    from vector_search_ai_assistant_mongodbvcore_spark.operators.dedup import (
        neardup_components,
    )

    comp = neardup_components(dup_pairs, max_iter=max_iter).select(
        F.col("node").alias(id_col), F.col("comp").alias("_comp")
    )
    keyed = df.join(comp, id_col, "left").withColumn(
        "_split_key", F.coalesce(F.col("_comp"), F.col(id_col))
    )
    return (
        assign_split(keyed, id_col="_split_key", splits=splits, seed=seed, out_col=out_col)
        .drop("_comp", "_split_key")
    )


def source_token_stats(
    df: DataFrame,
    source_col: str = "source",
    weight_col: str | None = None,
    text_col: str = "text",
) -> dict:
    """{source: available_tokens}: the supply side of mixture planning.
    `weight_col` names a precomputed token-count column; otherwise tokens
    are whitespace word counts of `text_col`. One map-side-combined
    aggregate; the result is one row per source (driver-safe)."""
    from vector_search_ai_assistant_mongodbvcore_spark.functions.text import word_count

    w = F.col(weight_col) if weight_col else word_count(text_col)
    rows = df.groupBy(source_col).agg(F.sum(w.cast("long")).alias("toks")).collect()
    return {r[source_col]: int(r["toks"] or 0) for r in rows}


def plan_mixture_rates(
    available: dict,
    target_shares: dict,
    token_budget: int,
) -> dict:
    """Solve the mixture: per-source keep rates for sample_by_rates so the
    sampled corpus approximates `target_shares` of `token_budget` tokens.

    rate_s = min(1, share_s * budget / available_s); a source that cannot
    supply its share caps at 1.0 (keep-rate sampling cannot upsample — the
    shortfall is reported rather than silently shifted onto other
    sources, because re-normalizing would distort the ratios the caller
    asked for; epoch-level repetition of short sources is the trainer's
    call). Returns {"rates", "expected_tokens", "shortfall"} — feed
    "rates" straight into sample_by_rates.

    Pure driver-side arithmetic over one row per source."""
    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive, got {token_budget}")
    tot = sum(target_shares.values())
    if not tot > 0:
        raise ValueError("target_shares must sum to > 0")
    rates, expected, shortfall = {}, {}, {}
    for s, share in target_shares.items():
        want = share / tot * token_budget
        have = available.get(s, 0)
        if have <= 0:
            rates[s], expected[s], shortfall[s] = 0.0, 0, int(round(want))
            continue
        r = min(1.0, want / have)
        rates[s] = r
        expected[s] = int(round(r * have))
        shortfall[s] = int(round(want - r * have)) if r >= 1.0 and have < want else 0
    return {"rates": rates, "expected_tokens": expected, "shortfall": shortfall}


def cap_per_group(
    df: DataFrame,
    group_col: str = "source",
    n: int = 1000,
    id_col: str = "doc_id",
    seed: int = 42,
    presample: bool = False,
    overshoot_sigmas: float = 6.0,
) -> DataFrame:
    """Keep at most `n` rows per group, chosen deterministically by md5
    rank — the "no single domain dominates the corpus" cap (RefinedWeb-
    style source balancing). Output: input columns + `cap_rank` (1-based
    rank within the group; every surviving row has cap_rank <= n).

    Selection is md5-bucket ascending with id tiebreak, so the kept set
    is stable across runs, engines, and partitionings, and is a uniform
    sample of each group.

    Scale: the exact path is one row_number window keyed by group — fine
    until one hot group owns a whole partition. `presample=True` bounds
    the window's input first: per-group counts (a bounded aggregate,
    broadcast-joined back as a threshold column) pick a bucket-threshold
    keep-rate of ~(n + overshoot sigmas) rows, and rows above the
    threshold are dropped BEFORE the window, so each group's window
    partition holds ~n rows regardless of group size. Because the
    prefilter keeps exactly the SMALLEST buckets, the surviving top-n
    equals the global top-n whenever >= min(n, count) rows survive. A
    bias guard rides the plan as a one-row broadcast reduction over the
    COUNTS frame (which has every group, so a fully-filtered group still
    counts) that `raise_error`s AT ACTION TIME on undershoot rather than
    silently returning a biased sample; at overshoot_sigmas=6 the
    failure probability per group is ~1e-9. A margin that keeps no rows
    at all (n + overshoot_sigmas * sqrt(n) + 10 <= 0) is rejected at
    construction, since AQE may prune an empty side before the guard
    runs. No collect, no construct-time jobs: the caller can prepare the
    frame once and re-execute it, and each execution re-derives the
    thresholds from the source.
    """
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    if not isinstance(presample, bool):
        raise ValueError(f"presample must be a bool, got {presample!r}")
    bucket = split_bucket(F.col(id_col), seed=seed, stage="cap")
    w = Window.partitionBy(group_col).orderBy(bucket.asc(), F.col(id_col).asc())
    if not presample:
        return (
            df.withColumn("cap_rank", F.row_number().over(w))
            .filter(F.col("cap_rank") <= n)
        )

    want = float(n) + overshoot_sigmas * math.sqrt(n) + 10.0
    if want <= 0:
        raise ValueError(
            f"presample undershoot: n + overshoot_sigmas * sqrt(n) + 10 = "
            f"{want:g} keeps no rows; raise overshoot_sigmas"
        )
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_c"))
    thr = F.when(F.col("_c") <= n, F.lit(_BUCKETS)).otherwise(
        F.least(
            F.lit(_BUCKETS),
            F.ceil(F.lit(want) / F.col("_c").cast("double") * _BUCKETS),
        )
    )
    thr_frame = counts.select(
        F.col(group_col).alias("_g"), F.col("_c"), thr.alias("_thr")
    )
    src = (
        df.join(
            F.broadcast(thr_frame),
            df[group_col].eqNullSafe(thr_frame["_g"]),
        )
        .filter(bucket < F.col("_thr"))
        .drop("_g", "_c", "_thr")
    )
    # bias guard, in-plan: every group must still supply min(n, count)
    # rows. Reduced over the counts frame (left-joined to survivors, so
    # a fully-filtered group shows up as 0, never silently vanishes)
    # into ONE row that raises on undershoot; the output cross-joins
    # that row broadcast, so any action on the result executes the
    # guard. coalesce(..., 1): an empty input has no groups to bias.
    surv = src.groupBy(group_col).agg(F.count(F.lit(1)).alias("_s")).select(
        F.col(group_col).alias("_sg"), "_s"
    )
    ok = F.coalesce(F.col("_s"), F.lit(0)) >= F.least(F.lit(n), F.col("_c"))
    guard = (
        counts.join(surv, counts[group_col].eqNullSafe(surv["_sg"]), "left")
        .select(
            F.coalesce(F.min(ok.cast("int")), F.lit(1)).alias("_all_ok"),
            F.slice(
                F.collect_list(F.when(~ok, counts[group_col].cast("string"))),
                1,
                10,
            ).alias("_short"),
        )
        .select(
            F.when(F.col("_all_ok") == 1, F.lit(1))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("presample undershoot for groups "),
                        F.concat_ws(",", "_short"),
                        F.lit("; raise overshoot_sigmas"),
                    )
                )
            )
            .alias("_guard")
        )
    )
    capped = (
        src.withColumn("cap_rank", F.row_number().over(w))
        .filter(F.col("cap_rank") <= n)
    )
    return (
        capped.crossJoin(F.broadcast(guard))
        .filter(F.col("_guard") == 1)
        .drop("_guard")
    )


def plan_curriculum(
    available: dict,
    start_shares: dict,
    end_shares: dict,
    token_budget_per_epoch: int,
    epochs: int,
) -> list[dict]:
    """Per-epoch mixture plans with linearly annealed target shares — the
    curriculum schedule ("start web-heavy, end up code/reference-heavy")
    layered on plan_mixture_rates. Epoch e uses shares
    (1 - t) * start + t * end with t = e / (epochs - 1) (t = 0 for a
    single epoch), then solves the same supply-capped rate system.
    Returns one plan_mixture_rates dict per epoch, each with "epoch" and
    "shares" recorded. Pure driver arithmetic; feed each epoch's "rates"
    into sample_by_rates with a per-epoch seed to draw distinct samples.
    """
    if epochs <= 0:
        raise ValueError(f"epochs must be positive, got {epochs}")
    keys = set(start_shares) | set(end_shares)
    plans = []
    for e in range(epochs):
        t = 0.0 if epochs == 1 else e / (epochs - 1)
        shares = {
            k: (1.0 - t) * start_shares.get(k, 0.0) + t * end_shares.get(k, 0.0)
            for k in keys
        }
        shares = {k: v for k, v in shares.items() if v > 0}
        plan = plan_mixture_rates(available, shares, token_budget_per_epoch)
        plan["epoch"] = e
        plan["shares"] = shares
        plans.append(plan)
    return plans
