"""Selection stages must not correlate with split assignment.

Round-7 ADVICE (high): cap_per_group, gumbel_resample and sample_by_rates
all keyed off the identical md5 bucket as assign_split. A binding cap then
kept exactly the lowest-bucket docs per source — which assign_split placed
ENTIRELY in 'train' (1000 docs, cap 50 -> 50/50 train, 0 val/test) — and
flat-weight DSIR kept the highest-bucket docs, which all landed in the
LAST split. Fixed by stage-namespacing the hashes (split_bucket(stage=));
this suite pins the decorrelation by reproducing the ADVICE scenarios and
asserting the split proportions survive.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.operators import dsir, splits


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"s{i % 2}", f"common words doc {i}") for i in range(1000)]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def _split_counts(df):
    out = {r["split"]: r["c"] for r in df.groupBy("split").agg(F.count("*").alias("c")).collect()}
    return out


def test_cap_then_split_keeps_all_three_splits(docs):
    capped = splits.cap_per_group(docs, "source", n=50, id_col="doc_id", seed=42)
    labeled = splits.assign_split(capped, id_col="doc_id", seed=42)
    counts = _split_counts(labeled)
    total = sum(counts.values())
    assert total == 100
    # 80/10/10 in expectation over 100 uniform draws; the ADVICE failure
    # mode was 100/0/0 — require every split populated and train not
    # wildly off (binomial(100, .8) is within [60, 95] w.p. ~1-1e-6)
    assert set(counts) == {"train", "val", "test"}, counts
    assert 60 <= counts["train"] <= 95, counts


def test_flat_dsir_then_split_keeps_all_three_splits(docs):
    weighted = docs.withColumn("logw", F.lit(0.0))
    kept = dsir.gumbel_resample(weighted, k=100, id_col="doc_id", seed=42)
    labeled = splits.assign_split(kept, id_col="doc_id", seed=42)
    counts = _split_counts(labeled)
    assert sum(counts.values()) == 100
    assert set(counts) == {"train", "val", "test"}, counts
    assert 60 <= counts["train"] <= 95, counts


def test_mixture_sample_then_split_keeps_all_three_splits(docs):
    sampled = splits.sample_by_rates(
        docs, "source", {"s0": 0.2, "s1": 0.2}, id_col="doc_id", seed=42
    )
    labeled = splits.assign_split(sampled, id_col="doc_id", seed=42)
    counts = _split_counts(labeled)
    n = sum(counts.values())
    assert 120 <= n <= 280  # ~200 expected
    assert set(counts) == {"train", "val", "test"}, counts
    assert 0.6 * n <= counts["train"] <= 0.95 * n, counts


def test_stage_tags_are_mutually_independent(docs):
    # the three selection hashes must disagree pairwise: the rank-50
    # prefix under one stage tag shares roughly uniform overlap (not
    # identity) with another's
    b_cap = splits.split_bucket(F.col("doc_id"), seed=42, stage="cap")
    b_mix = splits.split_bucket(F.col("doc_id"), seed=42, stage="mix")
    b_dsir = splits.split_bucket(F.col("doc_id"), seed=42, stage="dsir")
    b_split = splits.split_bucket(F.col("doc_id"), seed=42)
    rows = docs.select(
        b_cap.alias("cap"), b_mix.alias("mix"), b_dsir.alias("dsir"), b_split.alias("s")
    ).collect()
    cols = list(zip(*[(r["cap"], r["mix"], r["dsir"], r["s"]) for r in rows]))
    for i in range(4):
        for j in range(i + 1, 4):
            agree = sum(1 for a, b in zip(cols[i], cols[j]) if a == b)
            assert agree == 0, (i, j, agree)
