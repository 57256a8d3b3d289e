"""DSIR importance resampling (operators/dsir.py, arXiv:2302.03169).

Pins: fit math against a from-scratch python oracle on a tiny corpus
(per-doc weights and the per-bucket lambda table), the empty/NULL-text
weight-0 contract, Gumbel-top-k selection against a python oracle, and
the registered DuckDB twin on degenerate rows the sf fixture lacks.
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import pytest
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark import queries
from vector_search_ai_assistant_mongodbvcore_spark.operators import dsir

B = 1000
ALPHA = 1.0

RAW = [
    (0, "the cat sat on the mat"),
    (1, "stock market rally lifts tech shares"),
    (2, "the dog sat on the log"),
    (3, "quarterly earnings beat the market estimate"),
    (4, ""),
    (5, None),
    (6, "cat dog cat dog"),
]
TARGET = [
    "the cat chased the dog",
    "a cat and a dog sat together",
]


def _grams(text: str | None) -> list[str]:
    if text is None or text.strip() == "":
        return []
    w = text.strip().lower().split()
    return w + [f"{a} {b}" for a, b in zip(w, w[1:])]


def _bucket(g: str) -> int:
    return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % B


def _py_lambda(raw_texts, target_texts) -> dict[int, int]:
    """{bucket: lambda_micro} for every bucket observed on either side."""
    raw_counts: dict[int, int] = {}
    tgt_counts: dict[int, int] = {}
    for t in raw_texts:
        for g in _grams(t):
            raw_counts[_bucket(g)] = raw_counts.get(_bucket(g), 0) + 1
    for t in target_texts:
        for g in _grams(t):
            tgt_counts[_bucket(g)] = tgt_counts.get(_bucket(g), 0) + 1
    t_raw, t_tgt = sum(raw_counts.values()), sum(tgt_counts.values())
    lam = {}
    for b in set(raw_counts) | set(tgt_counts):
        v = math.log((tgt_counts.get(b, 0) + ALPHA) / (t_tgt + ALPHA * B)) - math.log(
            (raw_counts.get(b, 0) + ALPHA) / (t_raw + ALPHA * B)
        )
        lam[b] = int(round(round(v, 6) * 1_000_000))
    return lam


def _py_weights() -> dict[int, float]:
    lam = _py_lambda([t for _, t in RAW], TARGET)
    out = {}
    for i, t in RAW:
        out[i] = sum(lam.get(_bucket(g), 0) for g in _grams(t)) / 1_000_000
    return out


@pytest.fixture(scope="module")
def frames(spark):
    raw = spark.createDataFrame(RAW, "doc_id long, text string")
    tgt = spark.createDataFrame([(t,) for t in TARGET], "text string")
    return raw, tgt


def test_weights_match_python_oracle(frames):
    raw, tgt = frames
    w = dsir.importance_weights(raw, tgt, num_buckets=B, alpha=ALPHA)
    got = {r["doc_id"]: r["logw"] for r in w.select("doc_id", "logw").collect()}
    assert got == _py_weights()


def test_gramless_docs_get_zero(frames):
    raw, tgt = frames
    w = dsir.importance_weights(raw, tgt, num_buckets=B)
    got = {r["doc_id"]: r["logw"] for r in w.collect()}
    assert got[4] == 0.0 and got[5] == 0.0


def test_target_like_docs_score_higher(frames):
    """Length-matched comparison (log weights are additive over grams, so
    only same-length docs are directly comparable): the 6-word cat/dog
    docs must outrank the 6-word finance docs."""
    raw, tgt = frames
    got = {r["doc_id"]: r["logw"] for r in dsir.importance_weights(raw, tgt, num_buckets=B).collect()}
    assert min(got[0], got[2]) > max(got[1], got[3])


def test_gumbel_resample_matches_python_oracle(frames):
    raw, tgt = frames
    w = dsir.importance_weights(raw, tgt, num_buckets=B)
    sel = dsir.gumbel_resample(w, k=3, seed=7)
    got = sorted(r["doc_id"] for r in sel.select("doc_id").collect())

    logw = _py_weights()
    keys = {}
    for i in logw:
        h = int(
            hashlib.md5(f"dsir:7:{i}".encode()).hexdigest()[:8], 16
        )
        u = (h + 0.5) / float(1 << 32)
        keys[i] = logw[i] + (-math.log(-math.log(u)))
    want = sorted(sorted(keys, key=lambda i: (-keys[i], i))[:3])
    assert got == want


def test_resample_is_deterministic_and_seed_sensitive(frames):
    raw, tgt = frames
    w = dsir.importance_weights(raw, tgt, num_buckets=B)
    a = sorted(r["doc_id"] for r in dsir.gumbel_resample(w, k=3, seed=7).collect())
    b = sorted(r["doc_id"] for r in dsir.gumbel_resample(w, k=3, seed=7).collect())
    assert a == b
    # k bound always holds
    assert len(a) == 3


def test_registered_twin_on_degenerate_rows(spark, tmp_path):
    """Run the registered Spark query AND its DuckDB oracle over a tiny
    documents table containing empty/whitespace rows (absent from the sf
    fixture) — both engines must agree value-for-value."""
    import pandas as pd

    rows = [
        (0, "", "en", "src0"),
        (1, "   ", "en", "src1"),
        (2, "the cat sat", "en", "src0"),
        (3, "market rally", "en", "src5"),
        (4, "the cat sat on the mat again", "en", "src9"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len()
    d = tmp_path / "docs"
    d.mkdir()
    con = duckdb.connect()
    con.execute(f"COPY (SELECT * FROM pdf) TO '{d}/documents.parquet' (FORMAT PARQUET)")

    rec = queries.REGISTRY["dsir_importance_weights"]
    fn, oracle = rec.fn, rec.oracle
    got = {r["doc_id"]: r["logw"] for r in fn(spark, str(d)).collect()}
    con2 = duckdb.connect()
    con2.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    want = {r[0]: r[1] for r in con2.execute(oracle).fetchall()}
    assert got == want


def test_flagged_fit_equals_two_frame_fit(spark, frames):
    """In-corpus target via target_flag (one corpus pass) must reproduce
    the two-frame fit exactly when the target is the flagged subset."""
    raw, _ = frames
    flagged = raw.withColumn("is_t", F.col("doc_id").isin(0, 2, 6))
    a = {
        r["doc_id"]: r["logw"]
        for r in dsir.importance_weights(
            flagged, target_flag=F.col("is_t"), num_buckets=B
        ).collect()
    }
    b = {
        r["doc_id"]: r["logw"]
        for r in dsir.importance_weights(
            flagged, flagged.filter(F.col("is_t")).select("text"), num_buckets=B
        ).collect()
    }
    assert a == b


def test_plan_fit_lambda_table_bit_equals_dict_fit(spark, frames):
    """fit_lambda (a lazy plan — no collect at construction, the fit
    executes inside the serve's job) must emit the SAME (bucket,
    lam_micro) table, value for value, as the python oracle's {bucket:
    lambda_micro} dict, for both a separate target frame and a flagged
    in-corpus subset. The micro units are what both the per-doc sums and
    the DuckDB twin are built on, so per-bucket equality here is the
    whole cross-implementation contract. Also pins that constructing the
    plan runs ZERO Spark jobs (the property that makes dsir memoizable)."""
    raw, tgt = frames
    texts = dict(RAW)
    cases = [
        ({"target": tgt}, _py_lambda(texts.values(), TARGET)),
        (
            {"target_flag": F.col("doc_id").isin(0, 2, 6)},
            _py_lambda(texts.values(), [texts[i] for i in (0, 2, 6)]),
        ),
    ]
    tracker = spark.sparkContext.statusTracker()
    for kwargs, want in cases:
        before = tracker.getJobIdsForGroup(None) or []
        plan = dsir.fit_lambda(raw, num_buckets=B, alpha=ALPHA, **kwargs)
        after = tracker.getJobIdsForGroup(None) or []
        assert len(after) == len(before), "plan fit must not run jobs while building"
        got = {int(r["bucket"]): int(r["lam_micro"]) for r in plan.collect()}
        assert got == want, sorted(kwargs)


def test_target_and_flag_are_exclusive(frames):
    raw, tgt = frames
    with pytest.raises(ValueError, match="exactly one"):
        dsir.importance_weights(raw, tgt, target_flag=F.lit(True))
    with pytest.raises(ValueError, match="exactly one"):
        dsir.importance_weights(raw)


def test_resample_k_exceeding_corpus_returns_all(frames):
    raw, tgt = frames
    w = dsir.importance_weights(raw, tgt, num_buckets=B)
    assert dsir.gumbel_resample(w, k=10_000).count() == len(RAW)


def test_weights_with_empty_target(spark, frames):
    """An empty target is legal (alpha smoothing keeps the LM proper):
    every bucket gets lambda = ln(alpha/(alpha*B)) - ln(p_raw) and the
    operator must not crash or emit NULLs."""
    raw, _ = frames
    empty = spark.createDataFrame([], "text string")
    got = {r["doc_id"]: r["logw"] for r in dsir.importance_weights(raw, empty, num_buckets=B).collect()}
    assert set(got) == {i for i, _ in RAW}
    assert all(v is not None for v in got.values())
