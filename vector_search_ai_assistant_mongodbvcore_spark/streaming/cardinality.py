"""Streaming cardinality monitoring: the KMV sketch
(operators/sketches.py) over an unbounded ingest stream — "how many
distinct URLs/users/terms has this pipeline seen so far", answered
continuously with bounded state and no distinct shuffle, ever.

The design is STATE-FREE in the mutation sense: each micro-batch writes
its OWN k-min sketch under sketches/batch=<epoch> (<= k longs, dynamic
partition overwrite — a replayed epoch rewrites exactly itself), and
the running estimate at epoch N is a pure merge of the batch sketches
with batch <= N. KMV merges are LOSSLESS for the global k smallest
distinct hashes (tests pin kmv_merge == sketch-of-union), so the
running estimate equals what a batch kmv_distinct over the union of all
batches so far would compute — stream==batch at EVERY prefix, by
construction, not by careful bookkeeping. No read-modify-write state,
no compare-and-swap: idempotent partition writes are the whole
persistence story.

State growth is N_batches * k longs (k=256 over 10k batches ~ 20 MB of
parquet) — fold_sketch_batches compacts any prefix into one partition
when N gets silly (crash-safe in any order: KMV merges are idempotent
over duplicate hashes, so a fold that dies between the write and the
deletes changes no running estimate); the report is one row per batch:

    report/batch=<n>/  (batch, batch_rows, batch_distinct_est,
                        running_distinct_est)

The reference has no streaming surface; this is part of the added
training-data tier — the monitoring twin of distinct_cardinality_kmv,
next to the contract monitor (streaming/contracts.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.session import local_frame

__all__ = ["start_cardinality_monitor_stream", "fold_sketch_batches"]


def fold_sketch_batches(spark, out_dir: str, upto_batch: int, k: int = 256) -> int:
    """Compact sketches/batch<=`upto_batch` into ONE partition at
    batch=`upto_batch` holding the k-min merge of the folded prefix.
    Running estimates are unchanged at every later epoch: the monitor's
    merge takes distinct k smallest hashes over batch<=N, and k-min of
    (folded ∪ not-yet-deleted originals) == k-min of the originals, so
    the fold is safe to crash or re-run at ANY point — write the merged
    partition first, delete the stale ones after, no manifest needed
    (this idempotence is KMV-specific; the MG frequency monitor sums
    counts and must NOT be folded this way). Returns the number of
    partitions removed."""
    sketch_dir = os.path.join(out_dir, "sketches")
    sk = spark.read.parquet(sketch_dir)
    merged = (
        sk.filter(F.col("batch") <= int(upto_batch))
        .select("h")
        .distinct()
        .orderBy("h")
        .limit(k)
        .withColumn("batch", F.lit(int(upto_batch)))
    )
    (
        merged.write.mode("overwrite")
        .partitionBy("batch")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(sketch_dir)
    )
    # portable delete (local fs or any Hadoop-supported object scheme)
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(sketch_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    removed = 0
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith("batch="):
            try:
                b = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if b < int(upto_batch):
                fs.delete(st.getPath(), True)
                removed += 1
    return removed


def start_cardinality_monitor_stream(
    docs: DataFrame,
    col: str,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 256,
    salt: str = "kmv",
):
    """Monitor COUNT(DISTINCT `col`) over a document stream; see module
    docstring for layout and guarantees. Returns the StreamingQuery."""
    from vector_search_ai_assistant_mongodbvcore_spark.operators.sketches import (
        kmv_estimate_from_sketch,
        kmv_smallest,
    )

    sketch_dir = os.path.join(out_dir, "sketches")
    report_dir = os.path.join(out_dir, "report")

    def _batch(df: DataFrame, epoch_id: int) -> None:
        df = df.persist()
        try:
            n_rows = df.count()
            if n_rows == 0:
                return
            spark = df.sparkSession
            sk = kmv_smallest(df, col, k, salt).withColumn(
                "batch", F.lit(int(epoch_id))
            )
            (
                sk.write.mode("overwrite")
                .partitionBy("batch")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(sketch_dir)
            )
            batch_est = kmv_estimate_from_sketch(
                spark.read.parquet(sketch_dir)
                .filter(F.col("batch") == int(epoch_id))
                .select("h"),
                k,
            ).collect()[0]["approx_distinct"]
            # running sketch: merge every batch sketch up to THIS epoch —
            # `<=` makes a restart-replay deterministic even when later
            # epochs' partitions already exist from the previous run
            merged = (
                spark.read.parquet(sketch_dir)
                .filter(F.col("batch") <= int(epoch_id))
                .select("h")
                .distinct()
                .orderBy("h")
                .limit(k)
            )
            running_est = kmv_estimate_from_sketch(merged, k).collect()[0][
                "approx_distinct"
            ]
            report = local_frame(
                spark,
                [(int(epoch_id), n_rows, float(batch_est), float(running_est))],
                "batch long, batch_rows long, batch_distinct_est double, "
                "running_distinct_est double",
            )
            (
                report.write.mode("overwrite")
                .partitionBy("batch")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(report_dir)
            )
        finally:
            df.unpersist()

    return (
        docs.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
