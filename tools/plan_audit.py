"""Generate PLANS.md: a physical-plan audit of every registered query.

For each `queries()` entry, records the plan_report counters (exchanges,
broadcast vs sort-merge joins, TakeOrdered, global sorts, codegen stages,
Python evals, pushed filters) at sf0.001 — plan SHAPE is scale-invariant,
so this is the cheap way to review "would this hold at 1000x" for the whole
surface at once. Run after adding/changing operators:

    python tools/plan_audit.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("AUDIT_SF_DIR", "/root/testdata/sf0.001")

# imperative lifecycles execute at build time; skip them in a plan audit
SKIP = {"chat_turn"}


def main() -> None:
    from vector_search_ai_assistant_mongodbvcore_spark import get_spark
    from vector_search_ai_assistant_mongodbvcore_spark import queries as Q
    from vector_search_ai_assistant_mongodbvcore_spark.plans.inspect import plan_report

    spark = get_spark(app_name="plan-audit", cpus=4)
    rows = []
    for name, fn in sorted(Q.queries().items()):
        if name in SKIP:
            rows.append((name, None, "skipped (imperative lifecycle)"))
            continue
        try:
            rep = plan_report(fn(spark, SF_DIR))
            rows.append((name, rep, None))
        except Exception as e:  # pragma: no cover
            rows.append((name, None, f"ERROR {str(e)[:120]}"))

    out = [
        "# PLANS — physical-plan audit (generated by tools/plan_audit.py)",
        "",
        f"Scale factor dir: {SF_DIR} (plan shape is scale-invariant).",
        "Columns: Exchange count, broadcast joins, sort-merge joins, "
        "TakeOrderedAndProject, GLOBAL sorts, whole-stage-codegen stages, "
        "Python eval nodes, scans with pushed filters.",
        "",
        "| query | xchg | bcast | smj | topk | gsort | codegen | python | pushed |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for name, rep, err in rows:
        if rep is None:
            out.append(f"| {name} | — | — | — | — | — | — | — | {err} |")
            continue
        pushed = sum(1 for s in rep.scans if s["pushed_filters"].strip())
        out.append(
            f"| {name} | {rep.exchanges} | {rep.broadcast_joins} | {rep.sortmerge_joins} "
            f"| {'✓' if rep.take_ordered else ''} | {rep.global_sorts} | {rep.codegen_stages} "
            f"| {rep.python_evals} | {pushed} |"
        )
    out += [
        "",
        "Reading guide: `gsort` > 0 is acceptable only under a LIMIT "
        "(TakeOrdered replaces it) or tiny driver-side frames; `python` > 0 "
        "marks Arrow-batched UDF stages (embedding/LSH/tokenizer — the "
        "intended edges); wide `xchg` counts on pair-generation queries are "
        "the aggregation fan-in, not quadratic joins. Queries over "
        "`_fanned` carry one same-size scan fan-out Exchange at bench "
        "scale only (GATED on scan parallelism — skipped when the scan "
        "already arrives in >= cores partitions, i.e. at real scale; "
        "pinned in tests/test_plans.py); static counts also include "
        "duplicate subtrees that AQE's stage reuse executes once.",
        "",
    ]
    # fail loudly BEFORE touching the artifact — an ERROR row means a
    # registered query no longer builds a plan, and writing it out would
    # leave a broken-but-present row the coverage test can't see
    errors = [name for name, rep, err in rows if rep is None and name not in SKIP]
    if errors:
        print("\n".join(out))
        spark.stop()
        raise SystemExit(f"plan audit errors (PLANS.md NOT written): {errors}")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("\n".join(out))
    spark.stop()


if __name__ == "__main__":
    main()
