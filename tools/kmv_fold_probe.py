"""Forced-fold KMV probe (r16, judge r15 #3): measure the hierarchical
partial fold against the one-level merge at a partial volume the bench's
tiny inputs cannot reach naturally.

Replicates sf0.1 documents N-fold (default 64), repartitions to P
partitions (default 1024) so the local-partial stream is P*k longs per
column, then times kmv_smallest_many + kmv_profile_many twice on the
SAME session and input: once with the fold forced OFF (cutover = inf,
the pre-r16 single-task merge) and once forced ON (cutover = 0), and
asserts the sketch rows / profile rows are bit-identical between the
two. Prints one JSON line.

Usage: python tools/kmv_fold_probe.py [N] [P] [k]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 64
    parts = int(sys.argv[2]) if len(sys.argv) > 2 else 1024
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 256

    from pyspark.sql import functions as F

    from vector_search_ai_assistant_mongodbvcore_spark import get_spark
    from vector_search_ai_assistant_mongodbvcore_spark.operators import sketches as SK
    from vector_search_ai_assistant_mongodbvcore_spark.plans.inspect import planned_partitions

    spark = get_spark(app_name="kmv-fold-probe")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup

    src = spark.read.parquet(os.path.join(BASE, "documents.parquet"))
    out = None
    for i in range(factor):
        d = src.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
        out = d if out is None else out.unionByName(d)
    work = "/tmp/vsai_kmv_fold_probe"
    out.repartition(parts).write.mode("overwrite").parquet(work)
    # the scan must actually HAVE ~`parts` partitions for the probe to
    # reach the high-P regime the fold exists for — the default reader
    # packs the tiny probe files ~32 per split (openCostInBytes), which
    # collapses P back to tens. One file per split reproduces a P-task
    # scan without touching the engine's own conf defaults elsewhere.
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 << 10))
    spark.conf.set("spark.sql.files.openCostInBytes", str(64 << 10))
    docs = spark.read.parquet(work)
    cols = ["doc_id", "source", "lang", "text"]

    import unittest.mock as mock

    def run(cutover: int) -> tuple[float, list, list]:
        with mock.patch.object(SK, "_FOLD_CUTOVER", cutover):
            t0 = time.time()
            SK.kmv_smallest_many(docs, cols, k=k).write.format(
                "noop"
            ).mode("overwrite").save()
            SK.kmv_profile_many(docs, cols, k=k).write.format(
                "noop"
            ).mode("overwrite").save()
            wall = round(time.time() - t0, 2)
            rows = sorted(
                tuple(r) for r in SK.kmv_smallest_many(docs, cols, k=k).collect()
            )
            prof = sorted(
                tuple(r) for r in SK.kmv_profile_many(docs, cols, k=k).collect()
            )
        return wall, rows, prof

    huge = 1 << 62
    # warm both shapes once, then measure interleaved
    run(huge)
    run(0)
    w_off1, rows_off, prof_off = run(huge)
    w_on1, rows_on, prof_on = run(0)
    w_off2, _, _ = run(huge)
    w_on2, _, _ = run(0)

    assert rows_off == rows_on, "sketch rows diverge between fold ON/OFF"
    assert prof_off == prof_on, "profile rows diverge between fold ON/OFF"

    planned = planned_partitions(docs)  # the P the fold gate reads

    print(
        json.dumps(
            {
                "factor": factor,
                "partitions": planned,
                "k": k,
                "cols": len(cols),
                "partials_per_col": planned * k,
                "one_level_s": [w_off1, w_off2],
                "folded_s": [w_on1, w_on2],
                "bit_identical": True,
            }
        )
    )


if __name__ == "__main__":
    main()
