"""Spark-vs-DuckDB parity on degenerate text rows the sf fixtures lack.

The driver's oracle gate runs on generated data that contains no empty or
whitespace-only documents, so a twin that silently diverges on those edges
would still gate green. This suite pins the edge semantics directly: the
registered `text_stats` Spark query and its registered oracle SQL are both
run over a tiny documents table that DOES contain the degenerate rows, and
compared value-for-value.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from vector_search_ai_assistant_mongodbvcore_spark import queries

DOCS = [
    # (doc_id, text)
    (0, ""),                      # empty: words() -> [] on both engines
    (1, "   \n  \t "),            # whitespace-only: trim -> '' -> []
    (2, "spam spam spam spam"),   # repetitive rule max-run = 1.0
    (3, "- one\n- two\n- three"),  # all-bullet lines
    (4, "The quick brown fox jumps over the lazy dog and runs far away."),
    (5, "a b c ... d ...\nend ...\nmore ..."),
]


@pytest.fixture(scope="module")
def doc_dir(spark, tmp_path_factory):
    import pandas as pd

    d = tmp_path_factory.mktemp("edge_docs")
    pdf = pd.DataFrame(
        {
            "doc_id": [i for i, _ in DOCS],
            "text": [s for _, s in DOCS],
            "lang": "en",
            "source": "src-0",
            "n_chars": [len(s) for _, s in DOCS],
        }
    )
    con = duckdb.connect()
    con.execute(f"COPY (SELECT * FROM pdf) TO '{d}/documents.parquet' (FORMAT PARQUET)")
    return str(d)


def test_text_stats_twin_matches_on_degenerate_rows(spark, doc_dir):
    rec = queries.REGISTRY["text_stats"]
    fn, oracle = rec.fn, rec.oracle
    got = {r["doc_id"]: r.asDict() for r in fn(spark, doc_dir).collect()}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{doc_dir}/documents.parquet'"
    )
    cols = [d[0] for d in con.execute(oracle).description]
    want = {
        row[cols.index("doc_id")]: dict(zip(cols, row))
        for row in con.execute(oracle).fetchall()
    }

    assert set(got) == set(want) == {i for i, _ in DOCS}
    for doc_id in got:
        for c in cols:
            g, w = got[doc_id][c], want[doc_id][c]
            if isinstance(g, float) or isinstance(w, float):
                assert math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-12), (
                    doc_id, c, g, w,
                )
            else:
                assert g == w, (doc_id, c, g, w)


def test_empty_text_edge_values(spark, doc_dir):
    """Pin the agreed-on semantics (not just agreement).

    Empty text: words() -> [] on both engines, so zero counts/ratios and
    exactly 3 Gopher violations (too_few_words, bad_mean_word_len,
    low_alpha_words).

    Whitespace-only text with tabs/newlines: BOTH engines' trim() strips
    only spaces, so '\\n  \\t' survives and \\s+ splitting yields two empty
    boundary tokens — word_count 2, all-empty words (avg_word_len 0.0),
    and a 4th violation (repetitive: the '' token's max-run fraction is
    2/2). Quirky, but identical in Spark and DuckDB, which is the
    contract the oracle gate needs."""
    fn = queries.REGISTRY["text_stats"].fn
    rows = {r["doc_id"]: r for r in fn(spark, doc_dir).collect()}
    r0 = rows[0]
    assert r0["word_count"] == 0
    assert r0["avg_word_len"] == 0.0
    assert r0["punct_ratio"] == 0.0
    assert r0["stopword_ratio"] == 0.0
    assert r0["gopher_violations"] == 3
    r1 = rows[1]
    assert r1["word_count"] == 2
    assert r1["avg_word_len"] == 0.0
    assert r1["gopher_violations"] == 4


def test_oracle_sql_plumbs_sf_dir_and_narrows_degradation():
    """ADVICE r10 (low x2): callable oracles receive the gate's sf_dir
    (no CHECK_SF_DIR side channel needed), an ABSENT fit corpus degrades
    only that oracle's row WITH a visible warning, and any non-absence
    exception from a callable surfaces instead of silently weakening the
    gate to rows-only."""
    import warnings

    from vector_search_ai_assistant_mongodbvcore_spark import queries as q

    # absent corpus: that one oracle degrades, loudly; the rest survive
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = q.oracle_sql("/nonexistent/dir")
    assert "language_id_pred" not in out
    assert "pricing_summary" in out
    assert any("language_id_pred" in str(w.message) for w in caught)

    # explicit sf_dir reaches the callable (fit binds to that corpus)
    out2 = q.oracle_sql("/root/testdata/sf0.001")
    assert "language_id_pred" in out2

    # a non-absence error must SURFACE, not downgrade
    def broken_oracle(sf_dir=None):
        raise ValueError("simulated oracle-generation regression")

    saved = q.REGISTRY["language_id_pred"]
    q.REGISTRY["language_id_pred"] = saved._replace(oracle=broken_oracle)
    try:
        with pytest.raises(ValueError, match="simulated"):
            q.oracle_sql("/root/testdata/sf0.001")
    finally:
        q.REGISTRY["language_id_pred"] = saved
