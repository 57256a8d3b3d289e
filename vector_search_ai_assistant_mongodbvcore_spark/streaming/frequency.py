"""Streaming heavy-hitter monitoring: the Misra-Gries frequency sketch
(operators/sketches.mg_candidates) over an unbounded ingest stream —
"what are the most frequent domains/sources/terms this pipeline has
seen so far", answered continuously with bounded state and no full
distinct shuffle, ever.

Same persistence design as the cardinality monitor
(streaming/cardinality.py): each micro-batch writes its OWN MG sketch
under sketches/batch=<epoch> (<= P*k (item, mg_count) rows, dynamic
partition overwrite — a replayed epoch rewrites exactly itself), and
the running candidate set at epoch N is a pure groupBy-sum merge of the
batch sketches with batch <= N. MG summaries are MERGEABLE (Agarwal et
al., PODS 2012): the summed counters are themselves an MG summary of
the union with one-sided error <= n_prefix/(k+1), so at EVERY prefix

    running_count(item)  in  [true_count - n_prefix/(k+1), true_count]

and every item with true prefix frequency above n_prefix/(k+1) is
GUARANTEED present in the running report — stream==batch for the
superset guarantee, by construction. No read-modify-write state, no
compare-and-swap: idempotent partition writes are the whole story.

The report is top-`topn` running candidates per batch:

    report/batch=<n>/  (batch, item, running_count, batch_rows,
                        running_rows)

The reference has no streaming surface; this is part of the added
training-data tier — the frequency twin of the cardinality monitor.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.session import local_frame

__all__ = ["start_frequency_monitor_stream"]


def start_frequency_monitor_stream(
    docs: DataFrame,
    col: str,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 256,
    topn: int = 20,
):
    """Monitor the most frequent non-null values of `col` over a document
    stream; see module docstring for layout and guarantees. Returns the
    StreamingQuery."""
    from vector_search_ai_assistant_mongodbvcore_spark.operators.sketches import (
        mg_candidates,
    )

    sketch_dir = os.path.join(out_dir, "sketches")
    report_dir = os.path.join(out_dir, "report")

    def _batch(df: DataFrame, epoch_id: int) -> None:
        spark = df.sparkSession
        df = df.persist()
        try:
            sk = mg_candidates(df, col, k)  # eager (localCheckpoint), tiny
            rows = [
                (r["item"], r["mg_count"], r["n_rows"]) for r in sk.collect()
            ]
            if rows:
                n_batch = rows[0][2]
            else:
                # every counter trimmed away (near-uniform batch) — the
                # batch's row count must still enter the running error
                # bound, so persist it on a NULL-item sentinel row
                n_batch = df.filter(F.col(col).isNotNull()).count()
                if n_batch == 0:
                    return
                rows = [(None, 0, n_batch)]
        finally:
            df.unpersist()
        (
            local_frame(spark, rows, "item string, mg_count long, batch_rows long")
            .withColumn("batch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .partitionBy("batch")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(sketch_dir)
        )
        # running merge: sum of batch sketches up to THIS epoch — `<=`
        # makes a restart-replay deterministic even when later epochs'
        # partitions already exist from the previous run. batch_rows is
        # constant within a partition, so max() recovers each batch's n.
        upto = spark.read.parquet(sketch_dir).filter(F.col("batch") <= int(epoch_id))
        n_running = (
            upto.groupBy("batch")
            .agg(F.max("batch_rows").alias("n"))
            .agg(F.sum("n").alias("n"))
            .collect()[0]["n"]
        )
        n_batch = (
            upto.filter(F.col("batch") == int(epoch_id))
            .agg(F.max("batch_rows").alias("n"))
            .collect()[0]["n"]
        )
        report = (
            upto.filter(F.col("item").isNotNull())
            .groupBy("item")
            .agg(F.sum("mg_count").alias("running_count"))
            .orderBy(F.col("running_count").desc(), F.col("item").asc())
            .limit(topn)
            .select(
                F.lit(int(epoch_id)).alias("batch"),
                "item",
                "running_count",
                F.lit(int(n_batch)).alias("batch_rows"),
                F.lit(int(n_running)).alias("running_rows"),
            )
        )
        (
            report.write.mode("overwrite")
            .partitionBy("batch")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(report_dir)
        )

    return (
        docs.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
