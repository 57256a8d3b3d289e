"""Per-group capping + curriculum scheduling (operators/splits.py)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.operators import splits


def _bucket(seed: int, i) -> int:
    return int(hashlib.md5(f"cap:{seed}:{i}".encode()).hexdigest()[:8], 16)


@pytest.fixture(scope="module")
def skewed(spark):
    # group 'big' has 200 rows, 'small' has 3
    rows = [(i, "big") for i in range(200)] + [(1000 + i, "small") for i in range(3)]
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_exact_cap_matches_python_oracle(skewed):
    got = {
        (r["doc_id"], r["cap_rank"])
        for r in splits.cap_per_group(skewed, "source", n=5, seed=42).collect()
    }
    want = set()
    for grp, ids in (("big", range(200)), ("small", [1000, 1001, 1002])):
        order = sorted(ids, key=lambda i: (_bucket(42, i), i))
        want |= {(i, r + 1) for r, i in enumerate(order[:5])}
    assert got == want


def test_small_groups_pass_through_entirely(skewed):
    out = splits.cap_per_group(skewed, "source", n=5).filter(F.col("source") == "small")
    assert out.count() == 3


def test_presample_equals_exact(skewed):
    a = sorted(r["doc_id"] for r in splits.cap_per_group(skewed, "source", n=5).collect())
    b = sorted(
        r["doc_id"]
        for r in splits.cap_per_group(skewed, "source", n=5, presample=True).collect()
    )
    assert a == b


def test_plan_presample_equals_exact_and_runs_no_construct_jobs(spark, skewed):
    """presample=True (thresholds broadcast-joined from the counts
    aggregate, bias guard an in-plan one-row raise_error) must keep the
    exact path's rows AND ranks, and must not run any Spark job while
    BUILDING the frame — the property that lets the registry serve the
    query as a prepared plan."""
    exact = {
        (r["doc_id"], r["cap_rank"])
        for r in splits.cap_per_group(skewed, "source", n=5).collect()
    }
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None) or []
    planned = splits.cap_per_group(skewed, "source", n=5, presample=True)
    after = tracker.getJobIdsForGroup(None) or []
    assert len(after) == len(before), "plan presample must not run construct jobs"
    got = {(r["doc_id"], r["cap_rank"]) for r in planned.collect()}
    assert got == exact


def test_plan_presample_undershoot_raises_at_action_not_biases(skewed):
    """The in-plan guard keeps the never-silently-bias contract: a
    deliberately thin overshoot margin fails the ACTION (raise_error in
    the broadcast guard row), never returns fewer/biased rows."""
    df = splits.cap_per_group(
        skewed, "source", n=150, presample=True, overshoot_sigmas=-11.0
    )  # construction itself must not raise (pure plan)
    with pytest.raises(Exception, match="undershoot"):
        df.collect()


def test_plan_presample_handles_null_group(spark):
    rows = [(i, "a") for i in range(20)] + [(100 + i, None) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    a = sorted(
        (r["doc_id"], r["cap_rank"])
        for r in splits.cap_per_group(df, "source", n=5, presample=True).collect()
    )
    b = sorted(
        (r["doc_id"], r["cap_rank"])
        for r in splits.cap_per_group(df, "source", n=5).collect()
    )
    assert a == b and len(a) == 10


def test_presample_margin_keeping_no_rows_raises_at_construction(skewed):
    """n + overshoot_sigmas * sqrt(n) + 10 <= 0 would make every
    threshold empty; AQE may then prune the empty side before the
    in-plan guard runs and return an empty frame, so construction
    rejects it."""
    with pytest.raises(ValueError, match="keeps no rows"):
        splits.cap_per_group(
            skewed.filter(F.col("source") == "big"),
            "source",
            n=5,
            presample=True,
            overshoot_sigmas=-10.0,
        )


def test_presample_rejects_unknown_mode(skewed):
    for mode in ("yes", "plan"):
        with pytest.raises(ValueError, match="presample"):
            splits.cap_per_group(skewed, "source", n=5, presample=mode)


def test_cap_is_stable_under_repartition(skewed):
    a = sorted(r["doc_id"] for r in splits.cap_per_group(skewed, "source", n=7).collect())
    b = sorted(
        r["doc_id"]
        for r in splits.cap_per_group(skewed.repartition(13), "source", n=7).collect()
    )
    assert a == b


def test_curriculum_anneals_linearly():
    avail = {"web": 10_000, "code": 10_000}
    plans = splits.plan_curriculum(
        avail,
        start_shares={"web": 1.0, "code": 0.0},
        end_shares={"web": 0.0, "code": 1.0},
        token_budget_per_epoch=1_000,
        epochs=3,
    )
    assert [p["epoch"] for p in plans] == [0, 1, 2]
    assert plans[0]["shares"] == {"web": 1.0}
    assert plans[1]["shares"] == {"web": 0.5, "code": 0.5}
    assert plans[2]["shares"] == {"code": 1.0}
    # mid epoch draws half budget from each source
    assert plans[1]["expected_tokens"] == {"web": 500, "code": 500}


def test_curriculum_single_epoch_uses_start():
    plans = splits.plan_curriculum(
        {"a": 100}, {"a": 1.0}, {"a": 0.2}, token_budget_per_epoch=50, epochs=1
    )
    assert len(plans) == 1 and plans[0]["shares"] == {"a": 1.0}
