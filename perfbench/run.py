"""The repository benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload rag_chat --seed 1 --seconds 5 --trace 0

Run it from the repository root; the engine package is imported from the
checkout the benchmark sits in. `--trace 0` reports the end-to-end metrics.
`--trace 1` wraps the calls into each engine layer, turns on Spark's event
log and reports the per-layer metrics instead, 0 for a layer the workload
does not use. BENCHMARK.json at the repository root lists both sets;
README.md in this directory says what each metric means.

Standard output ends with two JSON lines: the run's details (nproc, Spark
version, seed, sample counts, per-operation times, failed checks), then
the result: `correct`, `attempted`, `failed` and `metrics`.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from harness import REPO_ROOT, Run, host_ticks

WORKLOADS = ("rag_chat", "corpus_batch")


def _declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload once.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    declared = _declared("per_layer" if args.trace else "end_to_end")

    workload = __import__(args.workload)
    r = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    ticks = host_ticks()
    try:
        res = workload.run(r)
        busy, steal = (b - a for a, b in zip(ticks, host_ticks()))
        r.details["host_steal_frac"] = steal / max(busy + steal, 1)
        layer = res["layer"]
        layer["jvm.peak_rss_mb"] = r.peak_rss_mb()
        if args.trace:
            r.close()  # the event log is complete once the session stops
            n = max(res["ops"], 1)
            ev = r.event_log_metrics(res["timed_kinds"])
            layer.update({
                "spark.tasks": ev["tasks"] / n,
                "spark.task_run_s": ev["run_ms"] / 1e3 / n,
                "spark.task_cpu_s": ev["cpu_ns"] / 1e9 / n,
                "spark.shuffle_write_mb": ev["shuffle_write"] / 2**20 / n,
                "spark.spill_mb": ev["spill"] / 2**20 / n,
                "spark.gc_s": ev["gc_ms"] / 1e3 / n,
                "trace.overhead_frac": r.tracer.overhead_s / res["loop_s"],
            })
            os.makedirs(r.out_dir, exist_ok=True)
            r.tracer.dump(os.path.join(r.out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    finally:
        r.close()
        r.cleanup()

    if args.trace:
        undeclared = sorted(set(layer) - set(declared))
        values = {name: layer.get(name, 0.0) for name in declared}
    else:
        undeclared = sorted(set(res["e2e"]) ^ set(declared))
        values = {name: v for name, (v, _) in res["e2e"].items()}
    if undeclared:
        raise SystemExit(f"metrics disagree with BENCHMARK.json: {undeclared}")
    r.details["failures"] = r.failures
    print(json.dumps({"details": r.details}))
    print(json.dumps({
        "correct": not r.failures,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {
            name: {"value": float(values[name]), "unit": unit} for name, unit in declared.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
