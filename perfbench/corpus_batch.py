"""corpus_batch: the data engineer's bulk jobs.

Set-up writes the generated engine tables and runs every query once: its
first construction, planning, code generation and execution, whose Arrow
result feeds the output checks. The timed part then runs passes over all
queries until `--seconds` have passed, at least one: each query built
anew and written to the noop sink (a new plan, so every shuffle and
broadcast runs again, as in `bench.py`).
"""

from __future__ import annotations

import time

import gen
from harness import Run, median, tree_cpu_s

# The timed registry queries, frozen here so that folding or renaming the
# engine's own bench lists cannot silently change this workload: six of
# the seven queries ROADMAP names as the largest costs. The other headline
# queries are left out so that a run fits the benchmark's time budget
# (README.md).
QUERIES = (
    "distinct_cardinality_kmv",
    "ngram_jaccard_pairs",
    "remove_duplicated_spans",
    "training_shards",
    "minhash_band_pairs",
    "vocab_top_terms",
)


def run(r: Run) -> dict:
    t_setup = time.perf_counter()
    spark = r.start_spark()
    marks = {"spark": time.perf_counter() - t_setup}  # set-up steps, seconds since its start
    from vector_search_ai_assistant_mongodbvcore_spark import queries as q

    registry = q.queries()
    missing = [n for n in QUERIES if n not in registry]
    if missing:
        raise SystemExit(f"benchmark queries no longer in the engine registry: {missing}")
    tr = r.tracer
    sf = r.data_dir
    gen.write_corpus_tables(sf, r.seed)
    marks["tables"] = time.perf_counter() - t_setup
    ops = [(f"q-{n}", f"queries.{n}", lambda n=n: registry[n](spark, sf)) for n in QUERIES]

    results: dict[str, object] = {}
    for gid, _, build in ops:
        marks[gid] = time.perf_counter() - t_setup
        with r.group(f"warm-{gid}", "warmup"):
            try:
                with tr.span("queries.construct"):
                    df = build()
                if tr.on:
                    with tr.span("plans.plan"):
                        df._jdf.queryExecution().executedPlan()
                results[gid] = df.toArrow()
            except Exception as e:  # a failed query is counted and the pass goes on
                results[gid] = e
    setup_s = time.perf_counter() - t_setup
    calibration_s = r.calibrate()

    op_s: dict[str, list[float]] = {gid: [] for gid, _, _ in ops}
    op_cpu_s: dict[str, list[float]] = {gid: [] for gid, _, _ in ops}
    p = 0
    deadline = time.perf_counter() + r.seconds
    t_loop = time.perf_counter()
    while p == 0 or time.perf_counter() < deadline:
        for gid, metric, build in ops:
            with r.group(f"{gid}-{p}", "query"), tr.span(metric):
                t, c = time.perf_counter(), tree_cpu_s()
                try:
                    build().write.format("noop").mode("overwrite").save()
                except Exception as e:
                    r.check(False, gid, f"timed run raised {type(e).__name__}: {e}")
                op_s[gid].append(time.perf_counter() - t)
                op_cpu_s[gid].append(tree_cpu_s() - c)
            r.attempted += 1
        p += 1
    loop_s = time.perf_counter() - t_loop

    _check_queries(r, q, sf, results)
    checks_s = time.perf_counter() - t_loop - loop_s

    timed = [x for v in op_s.values() for x in v]
    r.details.update(
        queries=len(QUERIES), passes=p, setup_marks_s=marks, loop_s=loop_s,
        checks_s=checks_s, op_s={k: [round(x, 4) for x in v] for k, v in op_s.items()},
        op_p50_s=median(timed),
        op_cpu_s={k: [round(x, 2) for x in v] for k, v in op_cpu_s.items()},
        calibration_s=calibration_s,
        jobs_per_query={n: r.job_counts(f"q-{n}-0")[0] for n in QUERIES},
        # stages that ran tasks, first run vs first timed run: a timed run
        # that reused the first run's shuffles would show fewer
        stages_run={gid: [r.job_counts(f"warm-{gid}")[2], r.job_counts(f"{gid}-0")[2]]
                    for gid, _, _ in ops},
    )
    layer = {f"{metric}_s": median(op_s[gid]) for gid, metric, _ in ops}
    layer.update({
        "session.start_s": tr.total("session.start"),
        "queries.construct_s": tr.total("queries.construct"),
        "plans.plan_s": tr.total("plans.plan"),
        "host.calibration_s": calibration_s,
    })
    return {
        "e2e": {
            "setup_s": (setup_s, "s"),
            "op_cpu_s": (sum(sum(v) for v in op_cpu_s.values()) / len(timed), "s"),
        },
        "layer": layer,
        "timed_kinds": {"query"},
        "ops": len(timed),
        "loop_s": loop_s,
    }


# ---- untimed output checks ----------------------------------------------------
def _check_queries(r: Run, q, sf: str, results: dict) -> None:
    """Registry queries with a DuckDB oracle must match it row for row;
    the others must not have raised."""
    import duckdb

    from tools.check_correctness import TABLES, norm_cell

    oracles = q.oracle_sql(sf)
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        for name in QUERIES:
            gid = f"q-{name}"
            got = results[gid]
            if isinstance(got, Exception):
                r.check(False, gid, f"raised {type(got).__name__}: {got}")
                continue
            if name not in oracles:
                continue
            tbl = got
            cols = sorted(tbl.column_names)
            rows = sorted(
                (tuple(norm_cell(row[c]) for c in cols) for row in tbl.to_pylist()), key=repr
            )
            cur = con.execute(oracles[name])
            dcols = [d[0] for d in cur.description]
            want = None
            if sorted(dcols) == cols:
                idx = [dcols.index(c) for c in cols]
                want = sorted((tuple(norm_cell(x[i]) for i in idx) for x in cur.fetchall()),
                              key=repr)
            r.check(rows == want, gid,
                    f"differs from its DuckDB oracle ({len(rows)} rows vs "
                    f"{None if want is None else len(want)}; columns {cols} vs {sorted(dcols)})")
    finally:
        con.close()
