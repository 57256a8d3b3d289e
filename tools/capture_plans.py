"""Capture .explain("formatted") for every declared bench query.

Writes plans/<tag>/<query>_<suffix>.txt — the optimization-round evidence
files (guide §1: capture the plan before and after each change).

    python tools/capture_plans.py before [query ...]
    python tools/capture_plans.py after  [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TAG = os.environ.get("PLAN_TAG", "r15")


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])

    from vector_search_ai_assistant_mongodbvcore_spark import get_spark
    from vector_search_ai_assistant_mongodbvcore_spark import queries as q

    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", TAG)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="plan-capture")
    q.prewarm_indexes(spark, SF_DIR)
    registry = q.queries()
    names = [n for n, r in q.REGISTRY.items() if r.bench and (not only or n in only)]
    for name in names:
        try:
            df = registry[name](spark, SF_DIR)
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR: {e}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
