"""Decompose each bench query's wall time into construct / plan / execute.

    python tools/time_decompose.py [query ...]

construct = Python DataFrame-building time (registry fn call)
plan      = Catalyst analysis+optimization+physical planning
            (queryExecution().executedPlan() before any job runs)
execute   = noop-sink write of a FRESH plan (includes AQE re-planning;
            measured after one untimed warm execution)

Guide §1: know where the time goes before touching the operator.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    only = set(sys.argv[1:])

    import bench
    from vector_search_ai_assistant_mongodbvcore_spark import get_spark
    from vector_search_ai_assistant_mongodbvcore_spark import queries as q

    spark = get_spark(app_name="time-decompose")
    bench.warm_up(spark)
    q.prewarm_indexes(spark, SF_DIR)
    registry = q.queries()
    names = [n for n, r in q.REGISTRY.items() if r.bench and (not only or n in only)]
    rows = []
    for name in names:
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        df = registry[name](spark, SF_DIR)
        t1 = time.time()
        df._jdf.queryExecution().executedPlan()
        t2 = time.time()
        # warm pass on a fresh plan (pages input, JITs codegen)
        registry[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        t3 = time.time()
        # timed pass, fresh plan: construct+plan+execute all over again,
        # like the bench does
        df2 = registry[name](spark, SF_DIR)
        t4 = time.time()
        df2.write.format("noop").mode("overwrite").save()
        t5 = time.time()
        rows.append(
            {
                "query": name,
                "construct": round(t1 - t0, 3),
                "plan": round(t2 - t1, 3),
                "warm_total": round(t3 - t2, 3),
                "construct2": round(t4 - t3, 3),
                "exec2": round(t5 - t4, 3),
            }
        )
        print(json.dumps(rows[-1]))
    print("== sorted by exec2 ==")
    for r in sorted(rows, key=lambda r: -r["exec2"]):
        print(
            f"{r['query']:32s} construct {r['construct']:6.3f}  plan {r['plan']:6.3f}  "
            f"warm {r['warm_total']:6.3f}  construct2 {r['construct2']:6.3f}  exec2 {r['exec2']:6.3f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
