"""Physical-plan guardrails: make "would this hold at 1000×?" checkable.

`plan_report(df)` parses `explain("formatted")` output and counts the
things that matter at 100 TB: shuffles (Exchange), whole-stage-codegen
coverage, scan pushdown (PushedFilters / ReadSchema width), broadcast vs
sort-merge joins, and the top-k pattern (TakeOrderedAndProject vs global
Sort). Tests assert on these so perf regressions fail CI, not the bench.

`planned_partitions(df)` / `fan_out(df)` are the engine's one answer to
"is this input under-parallel?", read from the physical plan without
running a Spark job; `planned_bytes(df)` is the optimizer's size
estimate, read the same way.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@dataclass
class PlanReport:
    exchanges: int = 0
    broadcast_joins: int = 0
    sortmerge_joins: int = 0
    take_ordered: bool = False
    global_sorts: int = 0
    codegen_stages: int = 0
    python_evals: int = 0
    scans: list[dict] = field(default_factory=list)
    raw: str = ""

    def summary(self) -> str:
        return (
            f"exchanges={self.exchanges} bcast_joins={self.broadcast_joins} "
            f"smj={self.sortmerge_joins} take_ordered={self.take_ordered} "
            f"sorts={self.global_sorts} codegen={self.codegen_stages} "
            f"python={self.python_evals} scans={len(self.scans)}"
        )


# every node Spark 4.1 prints for a Python evaluation: scalar UDFs and
# UDTFs, grouped-aggregate and window pandas UDFs, mapInPandas /
# mapInArrow, (co)grouped applyInPandas / applyInArrow, and the stateful
# streaming forms. The optimized logical plan and the formatted physical
# plan use the same names.
_PYTHON_NODES = (
    r"(?:(?:Arrow|Batch)EvalPython(?:UDTF)?|Arrow(?:Aggregate|Window)Python"
    r"|MapIn(?:Pandas|Arrow)|FlatMap(?:Co)?GroupsIn(?:Pandas|Arrow)(?:WithState)?"
    r"|TransformWithStateInPySpark)\b"
)
_PYTHON_NODE = re.compile(r"\(\d+\) " + _PYTHON_NODES)
# a logical tree line: the node name after the "+- " / ":  " indent
_PYTHON_LOGICAL = re.compile(r"^[ :|+-]*" + _PYTHON_NODES, re.M)


def plan_report(df: DataFrame) -> PlanReport:
    """Counts operate on the '(n) NodeName' detail headers only — each node
    appears twice in formatted output (tree line + detail section), and a
    bare substring count double-counts everything."""
    txt = explain_str(df, "formatted")
    rep = PlanReport(raw=txt)
    rep.exchanges = len(re.findall(r"\(\d+\) Exchange\b", txt))
    rep.broadcast_joins = len(re.findall(r"\(\d+\) BroadcastHashJoin\b", txt))
    rep.sortmerge_joins = len(re.findall(r"\(\d+\) SortMergeJoin\b", txt))
    rep.take_ordered = "TakeOrderedAndProject" in txt
    # a Sort node's Arguments end with "<global>, <offset>"; only global=true
    # sorts are the scale smell (SortAggregate's per-partition sorts are not)
    rep.global_sorts = len(
        re.findall(r"\(\d+\) Sort\b[^(]*?Arguments: \[[^\]]*\], true,", txt)
    )
    rep.codegen_stages = len(set(re.findall(r"WholeStageCodegen \((\d+)\)", txt)))
    rep.python_evals = len(_PYTHON_NODE.findall(txt))
    for m in re.finditer(r"PushedFilters: \[(.*?)\]", txt):
        rep.scans.append({"pushed_filters": m.group(1)})
    return rep


def planned_partitions(df: DataFrame) -> int:
    """The partition count Spark plans for `df`, read off its physical
    plan without executing anything (no Spark job, at any input shape).

    A file-scan leaf reports its planned split (file listing +
    maxPartitionBytes math), the same count the DataFrame's RDD reports
    for a scan. A plan with exchanges is read through AQE's initial
    plan, so an exchange reports its PLANNED count: the repartition's
    n, or the shuffle-partition start (`initialPartitionNum`) for an
    aggregate or join, an upper bound on what AQE coalescing leaves.
    Converting to an RDD would execute the AQE stages to answer
    instead. A misread in either direction costs only a fan-out
    or fold choice, never correctness: every consumer is
    row-order-independent."""
    return _planned(df._jdf.queryExecution().executedPlan())


def _planned(node) -> int:
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _planned(node.initialPlan())
    if name == "InMemoryTableScanExec":  # its RDD would execute the cached plan
        return _planned(node.relation().cachedPlan())
    n = node.outputPartitioning().numPartitions()
    if name == "CoalesceExec":  # coalesce(n) never adds partitions
        return min(n, _planned(node.child()))
    if n > 0:
        return n
    kids = [node.children().apply(i) for i in range(node.children().size())]
    if not kids:
        # a leaf builds its RDD lazily (a file scan from its listing), so
        # asking for the partitions runs nothing
        return node.execute().getNumPartitions()
    counts = [_planned(k) for k in kids]
    return sum(counts) if name == "UnionExec" else max(counts)


def planned_bytes(df: DataFrame) -> "int | None":
    """The size in bytes the optimizer estimates for `df`: its optimized
    plan's `sizeInBytes` statistic, computed without running a Spark job.
    None when the plan has no usable estimate.

    A file scan estimates its files' on-disk (compressed) bytes, a
    LocalRelation its rows times the row width, a union the sum of its
    children, a filter its input and a left-anti join its left input.
    Two plans have no usable estimate. A leaf of unknown size (an RDD
    scan, such as `createDataFrame` over a Python list) estimates
    `spark.sql.defaultSizeInBytes`, Long.MaxValue by default. A Python
    evaluation node sizes the columns it adds by their types' default
    widths, so an array<float> embedding counts as one float per row,
    and a mapInPandas pass may emit any number of rows."""
    plan = df._jdf.queryExecution().optimizedPlan()
    size = int(plan.stats().sizeInBytes())
    unknown = df.sparkSession._jsparkSession.sessionState().conf().defaultSizeInBytes()
    if size >= unknown or _PYTHON_LOGICAL.search(plan.toString()):
        return None
    return size


def fan_out(df: DataFrame) -> DataFrame:
    """The one fan-out rule: `df` unchanged when its planned partitions
    already cover the cores, else `df.repartition(defaultParallelism)`.

    One-file single-row-group parquet plans as ONE scan partition, so
    everything Catalyst fuses into the scan runs on one core until the
    first exchange; the repartition spreads it. At scale the scan
    already arrives in thousands of partitions, and an unconditional
    repartition would be a full extra shuffle bought for nothing."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    return df if planned_partitions(df) >= cores else df.repartition(cores)


def bounded_window_key(anchor) -> "Column":
    """A constant-zero partition key for windows over PROVABLY BOUNDED
    frames (post-LIMIT top-k ranks, per-group totals) that must evaluate
    in one partition by construction.

    Why not Window.orderBy(...) alone: Spark logs a scary (and there,
    unwarranted) "No Partition Defined ... serious performance
    degradation" warning per execution. Why not partitionBy(lit(0)) or
    (column * 0): Catalyst folds both out of the window spec (constant
    folding + multiply-by-zero simplification), re-arming the warning.
    least(length(cast(anchor as string)), 0) is always 0 (length >= 0,
    least skips the NULL of a NULL anchor) but the optimizer cannot
    prove it, so the partition spec survives to the physical plan
    (verified against Spark 4.1); every row still lands in the single
    partition the bounded frame needs, at the cost of one length() per
    row.
    """
    from pyspark.sql import Column, functions as F

    c = F.col(anchor) if isinstance(anchor, str) else anchor
    return F.least(F.length(c.cast("string")), F.lit(0))
