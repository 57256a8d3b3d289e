"""Domain audit rollup (operators/profile.py domain_audit)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark import queries
from vector_search_ai_assistant_mongodbvcore_spark.operators.profile import domain_audit

DOCS = [
    # cross-domain duplicate: doc 0 (src_a) == doc 3 (src_b) after
    # whitespace/case normalization — both domains must count it
    (0, "The cat sat", "en", "src_a"),
    (1, "unique text one", "en", "src_a"),
    (2, "texto unico dos", "es", "src_a"),
    (3, "the  cat   SAT", "en", "src_b"),
    (4, "more words here now", "en", "src_b"),
    (5, None, "en", "src_b"),   # NULL text: 0 words, audits as empty
    (6, "", "es", "src_b"),     # empty text: 0 words
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, lang string, source string")


@pytest.fixture(scope="module")
def audit(docs):
    return {(r["source"], r["lang"]): r.asDict() for r in domain_audit(docs).collect()}


def test_counts_and_words(audit):
    a = audit[("src_a", "en")]
    assert a["n_docs"] == 2 and a["total_words"] == 6 and a["avg_words"] == 3.0
    b = audit[("src_b", "en")]
    assert b["n_docs"] == 3 and b["total_words"] == 7  # 3 + 4 + 0 (NULL)
    assert audit[("src_b", "es")]["total_words"] == 0


def test_cross_domain_duplicates_count_in_both(audit):
    assert audit[("src_a", "en")]["dup_docs"] == 1
    # src_b/en holds TWO corpus-wide dups: doc 3 (copy of doc 0 in src_a)
    # and doc 5 (NULL text, fingerprints identically to doc 6's empty text)
    assert audit[("src_b", "en")]["dup_docs"] == 2
    assert audit[("src_a", "es")]["dup_docs"] == 0


def test_token_share_sums_to_one(audit):
    total = sum(r["token_share"] for r in audit.values())
    assert total == pytest.approx(1.0, abs=1e-12)
    words = {k: r["total_words"] for k, r in audit.items()}
    grand = sum(words.values())
    for k, r in audit.items():
        assert r["token_share"] == words[k] / grand


def test_null_and_empty_text_rows_survive(audit):
    # doc 5 (NULL) and doc 6 ('') are both counted; they also fingerprint
    # identically (empty normalized text) so they are corpus-wide dups of
    # each other — one in each domain row
    assert audit[("src_b", "en")]["n_docs"] == 3
    assert audit[("src_b", "es")]["n_docs"] == 1
    assert audit[("src_b", "es")]["dup_docs"] == 1


def test_registered_twin_on_degenerate_rows(spark, tmp_path):
    import pandas as pd

    pdf = pd.DataFrame(DOCS, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len()
    d = tmp_path / "docs"
    d.mkdir()
    con = duckdb.connect()
    con.execute(f"COPY (SELECT * FROM pdf) TO '{d}/documents.parquet' (FORMAT PARQUET)")

    rec = queries.REGISTRY["domain_audit"]
    fn, oracle = rec.fn, rec.oracle
    cols = sorted(fn(spark, str(d)).columns)
    got = sorted(tuple(r[c] for c in cols) for r in fn(spark, str(d)).collect())
    con2 = duckdb.connect()
    con2.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    ocols = [x[0] for x in con2.execute(oracle).description]
    want = sorted(tuple(row[ocols.index(c)] for c in cols) for row in con2.execute(oracle).fetchall())
    assert got == want


def test_tokenizer_fertility_matches_python(spark):
    from vector_search_ai_assistant_mongodbvcore_spark.functions import tokenizer as TK

    if TK._ENC is not None:
        pytest.skip("tiktoken present: python twin below is the fallback encoder")
    from vector_search_ai_assistant_mongodbvcore_spark.functions.tokenizer import _encode_py
    from vector_search_ai_assistant_mongodbvcore_spark.operators.profile import (
        tokenizer_fertility,
    )

    rows = [
        (0, "the cat sat on the mat", "en"),
        (1, "internationalization considerations", "en"),
        (2, "", "zz"),          # empty group: fertility NULL
        (3, None, "zz"),        # NULL text counts as empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r["lang"]: r.asDict() for r in tokenizer_fertility(df).collect()}

    en_words = sum(len((t or "").split()) for _, t, lang in rows if lang == "en")
    en_toks = sum(len(_encode_py(t or "")) for _, t, lang in rows if lang == "en")
    assert got["en"]["n_docs"] == 2
    assert got["en"]["total_words"] == en_words
    assert got["en"]["total_tokens"] == en_toks
    assert got["en"]["fertility"] == en_toks / en_words
    assert got["zz"]["total_words"] == 0 and got["zz"]["fertility"] is None


def test_pii_report_matches_python(spark):
    import re

    from vector_search_ai_assistant_mongodbvcore_spark.operators.profile import pii_report

    rows = [
        (0, "mail a@b.com and b@c.org today", "src_a"),
        (1, "call 555-123-4567 now", "src_a"),
        (2, "clean prose with no identifiers", "src_b"),
        (3, None, "src_b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: r.asDict() for r in pii_report(df).collect()}
    assert got["src_a"]["n_docs"] == 2 and got["src_a"]["docs_with_pii"] == 2
    assert got["src_a"]["email_hits"] == 2
    assert got["src_a"]["phone_hits"] == 1
    assert got["src_a"]["pii_doc_rate"] == 1.0
    assert got["src_b"]["docs_with_pii"] == 0 and got["src_b"]["pii_doc_rate"] == 0.0


def test_pii_report_counts_agree_with_scrub(spark):
    """docs_with_pii is exactly the set of docs scrub_pii would change."""
    from vector_search_ai_assistant_mongodbvcore_spark.functions import text as TX
    from vector_search_ai_assistant_mongodbvcore_spark.operators.profile import pii_report

    rows = [
        (0, "ip 10.0.0.1 and ssn 123-45-6789", "s"),
        (1, "totally clean", "s"),
        (2, "card 4111 1111 1111 1111 inside", "s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    changed = df.withColumn("_s", TX.scrub_pii("text")).filter(
        F.col("_s") != F.col("text")
    ).count()
    rep = pii_report(df).first()
    assert rep["docs_with_pii"] == changed == 2
