"""DSIR — Data Selection via Importance Resampling (arXiv:2302.03169).

Scores every raw-corpus document by how target-domain-like it is under a
pair of bag-of-hashed-n-gram unigram language models, then resamples the
corpus with Gumbel-top-k on the importance weights. This is the data-
selection operator a pretraining pipeline runs between raw ingest and
mixture planning: "keep the 10% of the crawl that looks like Wikipedia".

The reference app has no analog (its corpus is a curated retail sample);
the operator follows the published recipe:

  * features: hashed word unigrams + bigrams, `num_buckets` buckets
    (paper: 10k buckets over uni+bi-grams).
  * bucket LMs: additive (Laplace) smoothing with `alpha`,
    p_b = (c_b + alpha) / (T + alpha * B) for target and raw separately.
  * log importance weight of doc i: log w_i = sum_b c_ib * lambda_b with
    lambda_b = log p_target(b) - log p_raw(b).
  * selection: top-k on log w_i / temperature + Gumbel(0,1) noise, the
    paper's importance-resampling-without-replacement trick.

Scale shape (the part that must survive 100 TB):
  * the per-bucket count tables are bounded by `num_buckets` rows no
    matter the corpus size — map-side-combined hash aggregates.
  * fit_lambda() is ONE bounded aggregate over the raw corpus and the
    target together, and stays a lazy plan: nothing is collected to the
    driver. Serving broadcast-joins the lambda table against the exploded
    grams (codegen, one map-side-combinable keyed shuffle), so the fit
    executes inside the serving job.
  * Gumbel top-k is `TakeOrderedAndProject` — no global sort.

Determinism (so the DuckDB oracle hash-matches): gram hashing is
md5-based (portable, no murmur3); lambda is rounded to `lam_decimals`
and carried as an exact integer in micro-units (lambda * 10^6 as long),
so per-doc sums are order-independent long additions in both engines;
the Gumbel uniform is the md5 bucket of (seed, doc_id) — not an RNG.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.functions.text import words
from vector_search_ai_assistant_mongodbvcore_spark.plans.inspect import fan_out

__all__ = [
    "gram_array",
    "hashed_gram_buckets",
    "fit_lambda",
    "importance_weights",
    "gumbel_resample",
]

_LAM_DECIMALS = 6
_MICRO = 10 ** _LAM_DECIMALS


def _doc_words(text_col: Column | str) -> Column:
    """Lowercased whitespace words; NULL text == empty text (no grams)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return words(F.lower(F.coalesce(c, F.lit(""))))


def gram_array(w: Column, num_buckets: int) -> Column:
    """array<long> of hashed (unigram + bigram) buckets from a
    MATERIALIZED words-array column.

    `w` must be a column reference to a words array projected in a prior
    select — NOT the words() expression itself: this expression reads `w`
    many times (size, element_at per bigram), and feeding the raw split
    expression in means Catalyst re-evaluates the split per reference
    (no CSE across higher-order-function lambdas; measured ~10x slower
    at sf0.1). CollapseProject keeps the staging projection because the
    alias is non-cheap and multiply-referenced.

    Portable 32-bit md5 bucket per gram, reduced mod `num_buckets` —
    DuckDB twin: CAST('0x' || substr(md5(g), 1, 8) AS UBIGINT) % B.
    Pure column expression (no shuffle, no UDF).
    """
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat_ws(" ", F.element_at(w, i), F.element_at(w, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.transform(
        F.concat(w, bigrams),
        lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long")
        % num_buckets,
    )


def hashed_gram_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 10_000,
) -> DataFrame:
    """Explode each document into (id_col, bucket) gram-occurrence rows —
    the raw material for the bucket LMs. Narrow plan: words staged in one
    projection, grams exploded in the next, all in the scan's stage."""
    return df.select(F.col(id_col), _doc_words(text_col).alias("_w")).select(
        id_col, F.explode(gram_array(F.col("_w"), num_buckets)).alias("bucket")
    )


def fit_lambda(
    df: DataFrame,
    target: DataFrame | None = None,
    target_flag: Column | None = None,
    text_col: str = "text",
    num_buckets: int = 10_000,
    alpha: float = 1.0,
) -> DataFrame:
    """Fit the two bucket LMs as a lazy plan: ["bucket" long, "lam_micro"
    long], the rounded log-likelihood-ratio per bucket in 1e-6 units, for
    buckets observed on either side (unseen buckets never occur in any
    doc). Nothing is collected; the fit executes inside whatever action
    consumes the table, and construction runs no Spark job at any input
    shape.

    Pass exactly one of `target` (a separate target-domain frame; only
    its `text_col` is read) or `target_flag` (a boolean Column over `df`
    marking an in-corpus target subset). Every gram row carries two
    flags, (_r, _t): raw rows are (1, 0) and separate target rows (0, 1)
    in one union, or (1, flag) for a flagged subset. One aggregate then
    gives c_raw = sum(_r) and c_tgt = sum(_t) per bucket, so the corpus
    is read once either way. The count table is bounded by `num_buckets`
    rows regardless of corpus size.

    lambda_micro per bucket is bit-identical to a Python float fit over
    the same counts: the totals ride a global window, the denominators
    add the same python-float `alpha * num_buckets` literal, and log and
    round run on the same IEEE doubles (sub-ulp libm-vs-JVM log
    differences are quantized away by the round to 1e-6); pinned
    per-bucket in tests/test_dsir.py."""
    if (target is None) == (target_flag is None):
        raise ValueError("pass exactly one of target / target_flag")
    if target_flag is not None:
        src = df.select(
            F.lit(1).alias("_r"), target_flag.cast("int").alias("_t"), text_col
        )
    else:
        src = df.select(F.lit(1).alias("_r"), F.lit(0).alias("_t"), text_col).union(
            target.select(F.lit(0).alias("_r"), F.lit(1).alias("_t"), text_col)
        )
    # under-parallel guard (plans.inspect.fan_out): the gram md5 dominates
    src = fan_out(src)
    staged = src.select(
        "_r", "_t", _doc_words(text_col).alias("_w")
    ).select(
        "_r", "_t", F.explode(gram_array(F.col("_w"), num_buckets)).alias("bucket")
    )
    counts = staged.groupBy("bucket").agg(
        F.sum("_r").alias("c_raw"), F.sum("_t").alias("c_tgt")
    )
    # the totals ride a GLOBAL WINDOW over the bounded counts frame
    # (<= num_buckets rows by construction, one window task) rather than
    # a counts.agg + crossJoin — the self-referencing join would
    # replicate the whole gram-aggregate subtree (scan + explode + md5
    # of the corpus) into the plan a second time
    from pyspark.sql import Window

    w = Window.partitionBy()
    tot = counts.select(
        "bucket",
        "c_raw",
        "c_tgt",
        F.sum("c_raw").over(w).alias("t_raw"),
        F.sum("c_tgt").over(w).alias("t_tgt"),
    )
    ab = float(alpha) * num_buckets
    lam = F.log(
        (F.col("c_tgt").cast("double") + F.lit(float(alpha)))
        / (F.col("t_tgt").cast("double") + F.lit(ab))
    ) - F.log(
        (F.col("c_raw").cast("double") + F.lit(float(alpha)))
        / (F.col("t_raw").cast("double") + F.lit(ab))
    )
    return tot.select(
        "bucket",
        F.round(F.round(lam, _LAM_DECIMALS) * F.lit(float(_MICRO)), 0)
        .cast("long")
        .alias("lam_micro"),
    )


def importance_weights(
    df: DataFrame,
    target: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 10_000,
    alpha: float = 1.0,
    target_flag: Column | None = None,
) -> DataFrame:
    """Attach the DSIR log importance weight to every row of `df`.

    `target` is the (usually much smaller) target-domain sample; only its
    `text_col` is read. When the target is a SUBSET OF THE CORPUS, pass
    `target_flag` (a boolean Column over df) instead; see fit_lambda.
    Output: df columns + `logw` (double). Docs with no grams (empty/NULL
    text) get logw = 0.0 — an empty product, i.e. "no evidence either
    way".

    Serving: exploded grams BROADCAST-join the <= num_buckets-row lambda
    table (codegen hash join, no shuffle for the probe) and re-aggregate
    per doc — one map-side-combinable keyed shuffle. The fit and the
    serve compose into ONE lazy plan whose fit re-executes from the
    source on every action, with its gram scan overlapping the scoring
    scan inside one job.
    """
    lam_df = fit_lambda(df, target, target_flag, text_col, num_buckets, alpha)
    return _serve_join(df, lam_df, id_col, text_col, num_buckets)


def _serve_join(
    df: DataFrame,
    lam_df: DataFrame,
    id_col: str,
    text_col: str,
    num_buckets: int,
) -> DataFrame:
    """The scoring tail over fit_lambda's ["bucket", "lam_micro"] frame."""
    # the fit's under-parallel guard (plans.inspect.fan_out)
    probe = fan_out(df.select(id_col, text_col))
    doc_sums = (
        hashed_gram_buckets(probe, id_col, text_col, num_buckets)
        .join(F.broadcast(lam_df), "bucket")
        .groupBy(id_col)
        .agg(F.sum("lam_micro").alias("_micro"))
    )
    return (
        df.join(doc_sums, id_col, "left")
        .withColumn(
            "logw",
            F.coalesce(F.col("_micro").cast("double") / F.lit(float(_MICRO)), F.lit(0.0)),
        )
        .drop("_micro")
    )


def gumbel_resample(
    weighted: DataFrame,
    k: int,
    id_col: str = "doc_id",
    logw_col: str = "logw",
    seed: int = 42,
    temperature: float = 1.0,
) -> DataFrame:
    """Importance-resample k docs without replacement (Gumbel-top-k).

    key_i = logw_i / temperature + g_i with g_i = -ln(-ln(u_i)) and u_i a
    deterministic md5-derived uniform in (0,1) — reproducible across runs,
    engines and partitionings (no RNG state). Top-k executes as
    TakeOrderedAndProject: per-partition heaps, no global sort.

    The Gumbel draw is namespaced with stage="dsir" so it is independent
    of assign_split's hash: with a shared hash, flat-weight resampling
    keeps exactly the highest-bucket docs, which assign_split then places
    entirely in the LAST split (see split_bucket).
    """
    from vector_search_ai_assistant_mongodbvcore_spark.operators.splits import split_bucket

    u = (split_bucket(F.col(id_col), seed=seed, stage="dsir") + F.lit(0.5)) / F.lit(
        float(1 << 32)
    )
    g = -F.log(-F.log(u))
    key = F.col(logw_col) / F.lit(float(temperature)) + g
    return (
        weighted.withColumn("_gumbel_key", key)
        .orderBy(F.col("_gumbel_key").desc(), F.col(id_col).asc())
        .limit(k)
        .drop("_gumbel_key")
    )
