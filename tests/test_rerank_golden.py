"""Rerank golden fixture: rows and payloads recorded from the earlier
Spark-window form of `rerank` and `vector_search_payload_reranked` (a
pandas UDF scorer, row_number windows for both ranks, orderBy/limit and a
collect_list/array_sort payload aggregate). The one-Arrow-pass form must
reproduce every case exactly, plus two plan pins on what the retrieval
plan of a chat turn carries.

Regenerate (only when a result is meant to change) with
`python -m tests.test_rerank_golden` from the repository root.
"""

from __future__ import annotations

import json
import math
import pathlib

import pandas as pd
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.functions.vector import cosine_similarity
from vector_search_ai_assistant_mongodbvcore_spark.operators.rerank import rerank
from vector_search_ai_assistant_mongodbvcore_spark.operators.vector_search import (
    vector_search_payload_reranked,
)
from vector_search_ai_assistant_mongodbvcore_spark.plans.inspect import plan_report

GOLDEN = pathlib.Path(__file__).parent / "fixtures" / "rerank_golden.json"

NAN = float("nan")


def _tied(query):
    """Three score levels over many texts: ties everywhere."""

    def score(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: float(len(t or "") % 3))

    return score


def _nan_none(query):
    """NaN for texts naming 'alpha', None for 'beta', else a tied level."""

    def score(texts: pd.Series) -> pd.Series:
        def one(t):
            t = t or ""
            if "alpha" in t:
                return NAN
            if "beta" in t:
                return None
            return float(len(t) % 2)

        return pd.Series([one(t) for t in texts], dtype="object")

    return score


SCORERS = {"lexical": None, "tied": _tied, "nan_none": _nan_none}

_TEXTS = [
    "alpha bikes for long rides",
    "beta helmet sturdy and safe",
    "touring bikes and road bikes",
    "socks for cold rides",
    "alpha beta gamma",
    "",
    "road helmet",
    "bikes",
]
_VECS = [
    [1.0, 0.0, 0.0],
    [0.0, 1.0, 0.0],
    [1.0, 0.0, 0.0],  # same vector as row 0: tied cosine
    [0.5, 0.5, 0.0],
    None,             # NULL vector scores 0.0
    [0.0, 0.0, 0.0],  # zero vector scores 0.0
    [NAN, 1.0, 0.0],  # NaN score sorts first descending
    [0.5, 0.5, 0.0],
]

CORPORA = {
    "int_ids": (
        [(i, f"title {i % 3}", t, v) for i, (t, v) in enumerate(zip(_TEXTS, _VECS))],
        "_id long, title string, text string, vector array<float>",
        ("_id",),
    ),
    "str_ids": (
        [(f"d{7 - i}", t, v) for i, (t, v) in enumerate(zip(_TEXTS, _VECS))],
        "_id string, text string, vector array<float>",
        ("_id",),
    ),
    # no id column named: the first document column ranks the ties
    "no_id_col": (
        [(f"k{i % 4}", t, v) for i, (t, v) in enumerate(zip(_TEXTS, _VECS))],
        "key string, text string, vector array<float>",
        ("_id",),
    ),
    "empty": ([], "_id long, text string, vector array<float>", ("_id",)),
}

PAYLOAD_CALLS = [
    # (query vector, query text, k, n_candidates); the first call, where
    # k and n_candidates exceed the corpus, runs on every corpus, the
    # other two on int_ids only
    ([0.3, 0.7, 0.0], "helmet", 10, 30),
    ([1.0, 0.0, 0.0], "bikes for long rides", 3, 5),
    ([0.0, 0.0, 1.0], "", 2, 4),           # every finite cosine is 0.0
]

RERANK_ROWS = [
    (0, "spark hash join scan", 3, "a"),
    (1, "spark hash join", 1, "b"),
    (2, "unrelated words", 2, "c"),
    (3, "alpha spark", 4, "d"),
    (4, None, 5, "e"),
    (5, "beta join", 6, "f"),
    (6, "spark hash", 7, "g"),
]

RERANK_CALLS = [
    # (id type, query, k, fuse, scorer)
    ("long", "spark hash join scan", 3, False, "lexical"),
    ("long", "spark hash join scan", 3, True, "lexical"),
    ("string", "spark", 10, False, "tied"),
    ("string", "spark", 10, True, "tied"),
    ("long", "join", 5, False, "nan_none"),
    ("long", "join", 5, True, "nan_none"),
    ("string", "", 10, True, "nan_none"),
]


def _payload_cases(spark):
    out = []
    for name, (rows, ddl, id_cols) in CORPORA.items():
        corpus = spark.createDataFrame(rows, ddl)
        for scorer in SCORERS:
            for fuse in (True, False):
                for qv, qtext, k, n in PAYLOAD_CALLS[: 3 if name == "int_ids" else 1]:
                    rows_out = vector_search_payload_reranked(
                        corpus, qv, qtext, k=k, n_candidates=n, id_cols=id_cols,
                        scorer_factory=SCORERS[scorer], fuse=fuse,
                    ).collect()
                    out.append({
                        "corpus": name, "scorer": scorer, "fuse": fuse,
                        "query": qtext, "k": k, "n_candidates": n,
                        "payload": [r["payload"] for r in rows_out],
                    })
    return out


def _rerank_cases(spark):
    frames = {
        "long": spark.createDataFrame(
            RERANK_ROWS, "doc_id long, text string, ret_rank int, src string"
        ),
        "string": spark.createDataFrame(
            [(f"s{9 - i}", *r[1:]) for i, r in enumerate(RERANK_ROWS)],
            "doc_id string, text string, ret_rank int, src string",
        ),
        "empty": spark.createDataFrame(
            [], "doc_id long, text string, ret_rank int, src string"
        ),
    }
    out = []
    calls = RERANK_CALLS + [("empty", "spark", 3, True, "lexical"),
                            ("empty", "spark", 3, False, "lexical")]
    for ids, query, k, fuse, scorer in calls:
        kwargs = {} if SCORERS[scorer] is None else {"scorer_factory": SCORERS[scorer]}
        df = rerank(
            frames[ids], query, k=k, keep_cols=("src",),
            rank_col="ret_rank" if fuse else None, **kwargs,
        )
        out.append({
            "ids": ids, "query": query, "k": k, "fuse": fuse, "scorer": scorer,
            "schema": df.schema.simpleString(),
            "rows": [list(r) for r in df.collect()],
        })
    return out


def run_cases(spark) -> dict:
    return {"payload": _payload_cases(spark), "rerank": _rerank_cases(spark)}


def _same(got, want) -> bool:
    """Exact equality that also holds NaN equal to NaN."""
    if isinstance(got, float) and isinstance(want, float):
        return got == want or (math.isnan(got) and math.isnan(want))
    if isinstance(got, list) and isinstance(want, list):
        return len(got) == len(want) and all(_same(g, w) for g, w in zip(got, want))
    return type(got) is type(want) and got == want


def test_golden_fixture(spark):
    golden = json.loads(GOLDEN.read_text())
    got = run_cases(spark)
    for kind in ("payload", "rerank"):
        assert len(got[kind]) == len(golden[kind])
        for g, w in zip(got[kind], golden[kind]):
            assert g.keys() == w.keys(), (g, w)
            assert all(_same(g[key], w[key]) for key in w), (g, w)



def _nodes(df) -> list[str]:
    """Node names of the executed physical plan, AQE's initial plan
    included, one per operator."""
    plan = df._jdf.queryExecution().executedPlan()
    names, stack = [], [plan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.initialPlan())
            continue
        names.append(name)
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return names


def test_reranked_payload_is_one_arrow_pass(spark):
    rows, ddl, id_cols = CORPORA["int_ids"]
    df = vector_search_payload_reranked(
        spark.createDataFrame(rows, ddl), [1.0, 0.0, 0.0], "bikes", k=3,
        n_candidates=5, id_cols=id_cols,
    )
    names = _nodes(df)
    assert sum("MapInArrow" in n for n in names) == 1, names
    assert not [n for n in names if "Window" in n or "ArrowEvalPython" in n], names
    assert plan_report(df).python_evals == 1


def test_literal_query_vector_is_one_literal(spark):
    """A 1536-d query vector (ada-002's width) enters the analyzed plan as
    one array<double> Literal, however often cosine_similarity uses it."""
    q = [float(i % 7) - 3.0 for i in range(1536)]
    df = spark.range(1).select(F.array(F.lit(1.0)).alias("v")).select(
        cosine_similarity("v", q).alias("cos")
    )
    exprs = df._jdf.queryExecution().analyzed().expressions()
    stack = [exprs.apply(i) for i in range(exprs.size())]
    arrays, scalars = set(), 0
    while stack:
        e = stack.pop()
        if e.getClass().getSimpleName() == "Literal":
            if e.dataType().typeName() == "array":
                arrays.add(e.toString())
            else:
                scalars += 1
        kids = e.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    assert len(arrays) == 1 and scalars < 10, (len(arrays), scalars)

if __name__ == "__main__":
    from vector_search_ai_assistant_mongodbvcore_spark import get_spark

    s = get_spark(app_name="rerank-golden", cpus=4)
    s.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        GOLDEN.write_text(json.dumps(run_cases(s), indent=1) + "\n")
    finally:
        s.stop()
