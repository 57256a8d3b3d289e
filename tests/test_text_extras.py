"""Corpus readers + compression-ratio quality signal."""

import zlib

import pytest
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.functions.text import compression_ratio
from vector_search_ai_assistant_mongodbvcore_spark.sources.ingest import read_text_corpus


def test_compression_ratio_matches_python_zlib(spark):
    texts = ["spam spam spam spam spam spam spam spam", "aQ3$xZ!9kP_w#fU8@", ""]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r.doc_id: r.c for r in df.select("doc_id", compression_ratio("text").alias("c")).collect()}
    for i, t in enumerate(texts):
        b = t.encode()
        expect = len(zlib.compress(b, 6)) / len(b) if b else 1.0
        assert got[i] == pytest.approx(expect)
    # redundant text compresses far better than high-entropy text
    assert got[0] < got[1]


def test_read_text_corpus_lines(spark, tmp_path):
    p = tmp_path / "corpus.txt"
    p.write_text("first document\nsecond document\nthird document\n")
    df = read_text_corpus(spark, str(p), fmt="text")
    rows = df.collect()
    assert {r.text for r in rows} == {"first document", "second document", "third document"}
    assert len({r.doc_id for r in rows}) == 3  # unique ids


def test_read_text_corpus_wholetext(spark, tmp_path):
    (tmp_path / "a.txt").write_text("doc a\nline two")
    (tmp_path / "b.txt").write_text("doc b")
    df = read_text_corpus(spark, str(tmp_path), fmt="wholetext")
    rows = {r.doc_id.split("/")[-1]: r.text for r in df.collect()}
    assert rows["a.txt"] == "doc a\nline two" and rows["b.txt"] == "doc b"


def test_read_text_corpus_csv_tsv(spark, tmp_path):
    (tmp_path / "c.csv").write_text("doc_id,text\n1,hello\n2,world\n")
    df = read_text_corpus(spark, str(tmp_path / "c.csv"), fmt="csv")
    assert {(r.doc_id, r.text) for r in df.collect()} == {("1", "hello"), ("2", "world")}

    (tmp_path / "t.tsv").write_text("text\ttag\nalpha\tx\n")
    df2 = read_text_corpus(spark, str(tmp_path / "t.tsv"), fmt="tsv")
    row = df2.first()
    assert row.text == "alpha" and row.tag == "x" and row.doc_id is not None


def test_unknown_format_raises(spark):
    with pytest.raises(ValueError):
        read_text_corpus(spark, "/nonexistent", fmt="avro-ish")


def test_corpus_reader_feeds_dedup(spark, tmp_path):
    """The stable (doc_id, text) shape plugs straight into the dedup family."""
    from vector_search_ai_assistant_mongodbvcore_spark.operators.dedup import exact_dedup

    p = tmp_path / "c.txt"
    p.write_text("same line\nsame line\ndifferent line\n")
    df = read_text_corpus(spark, str(p), fmt="text")
    groups = exact_dedup(df).collect()
    assert sorted(g.dup_count for g in groups) == [1, 2]


def test_exploded_shingles_matches_hof_form(spark):
    """exploded_shingles (per-row get() + concat_ws assembly, the fast
    codegen form) must emit exactly the rows of posexplode(shingles(...)),
    the documented oracle definition — (id, _pos, ng) with with_pos=True,
    the same (id, ng) multiset without — across the edge cases its
    padding encodes: normal docs, a doc of exactly n words,
    shorter-than-n docs, single-word, empty text, whitespace-only, NULL
    text, repeated words and mixed tab/newline separators."""
    from pyspark.sql import functions as F

    from vector_search_ai_assistant_mongodbvcore_spark.functions.text import (
        exploded_shingles,
        shingles,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "exactly five words right here"),
        (3, "one two three"),
        (4, "single"),
        (5, ""),
        (6, "   "),
        (7, None),
        (8, "a a a a a a"),  # repeated words -> duplicate shingles kept
        (9, "Tabs\tand\nnewlines  mix"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    for n in (2, 5, 8):
        hof = df.select(
            "doc_id", F.posexplode(shingles("text", n)).alias("_pos", "ng")
        )
        fast = exploded_shingles(df, "text", "doc_id", n, with_pos=True)
        assert sorted(fast.collect()) == sorted(hof.collect()), f"n={n}"
        assert sorted(exploded_shingles(df, "text", "doc_id", n).collect()) == sorted(
            hof.select("doc_id", "ng").collect()
        ), f"n={n}"


def test_stopword_and_wordlen_codegen_forms_match_hof(spark):
    """stopword_hits (lookahead regexp_count) and the concat_ws word-length
    sum must exactly equal their interpreted higher-order-function
    ancestors on delimiter/edge-heavy inputs."""
    from pyspark.sql import functions as F

    from vector_search_ai_assistant_mongodbvcore_spark.functions.text import (
        STOPWORDS_DE,
        STOPWORDS_EN,
        STOPWORDS_FR,
        stopword_hits,
        words,
    )

    rows = [
        (1, ""), (2, "   "), (3, None), (4, "the"), (5, "the  the a"),
        (6, "xthe they on, on on"), (7, "THE The tHe"), (8, "der und das ist"),
        (9, "le la et the und"), (10, "  padded the text  "),
        (11, "a\tb\nthe\r\nof"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    t = F.col("text")
    w = words(F.lower(t))
    for sw in (STOPWORDS_EN, STOPWORDS_DE, STOPWORDS_FR):
        hof = F.size(F.filter(w, lambda x: x.isin(sw)))
        bad = df.filter(~(stopword_hits(t, sw).eqNullSafe(hof))).collect()
        assert bad == [], bad
    # concat_ws maps a NULL array to "" where aggregate stays NULL; the
    # composed text_profile expression guards with isNotNull, so parity is
    # asserted under that guard (bare forms differ ONLY on NULL text)
    wl_hof = F.aggregate(words(t), F.lit(0.0), lambda acc, x: acc + F.length(x))
    wl_cw = F.when(t.isNotNull(), F.length(F.concat_ws("", words(t))).cast("double"))
    bad = df.filter(~wl_cw.eqNullSafe(wl_hof)).collect()
    assert bad == [], bad
