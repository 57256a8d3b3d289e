"""Change sets against the catalog and the partitioned indexes
(streaming/incremental.py over sources/maintenance.py).

Pins the delete-wins rule (an id upserted and deleted in one change set
ends absent everywhere), the Spark job counts of perfbench's change-set
shape, and the schemas IVF, LSH and BM25 record for their directories
(each equal to what inference would read, so pinned reads run no footer
job)."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vector_search_ai_assistant_mongodbvcore_spark.functions.embedder import (
    HashNgramEmbedder,
)
from vector_search_ai_assistant_mongodbvcore_spark.operators.ivf import IvfIndex
from vector_search_ai_assistant_mongodbvcore_spark.operators.keyword_search import Bm25Index
from vector_search_ai_assistant_mongodbvcore_spark.operators.similarity import LshIndex
from vector_search_ai_assistant_mongodbvcore_spark.sources.ingest import (
    ingest_and_vectorize,
)
from vector_search_ai_assistant_mongodbvcore_spark.sources.managed_table import ManagedTable
from vector_search_ai_assistant_mongodbvcore_spark.streaming.incremental import (
    apply_changes,
    apply_index_changes,
    apply_keyword_index_changes,
)
from tests.test_prepared_plans import _next_job_id

EMB = HashNgramEmbedder(dims=32)
DOC_SCHEMA = "id string, name string, description string"
CHANGE_SCHEMA = DOC_SCHEMA + ", _op string"


def _docs(n: int) -> list:
    return [(f"doc-{i:03d}", f"Product {i}", f"article {i} of the rolling catalog") for i in range(n)]


def _ids(spark, path: str) -> set:
    return {r[0] for r in spark.read.parquet(path).select("id").collect()}


def test_upserted_and_deleted_in_one_change_set_ends_absent(spark, tmp_path):
    """Delete wins in the catalog and in every index kind: a new id and an
    indexed id, each upserted and deleted in the same change set, are gone;
    an upsert the set does not delete is added."""
    corpus = ingest_and_vectorize(spark.createDataFrame(_docs(24), DOC_SCHEMA), embedder=EMB)
    catalog = ManagedTable(spark, str(tmp_path / "catalog"))
    catalog.overwrite(corpus)
    ivf = IvfIndex(spark, str(tmp_path / "ivf")).build(
        catalog.read().select("id", "vector"), vector_col="vector", num_lists=2, seed=1,
        id_col="id",
    )
    lsh = LshIndex(spark, str(tmp_path / "lsh")).build(
        corpus, dims=32, bits=2, tables=2, vector_col="vector", id_col="id"
    )
    bm = Bm25Index(spark, str(tmp_path / "bm")).build(
        corpus.select("id", F.concat_ws(" ", "name", "description").alias("text")),
        id_col="id", n_buckets=4,
    )
    change = spark.createDataFrame(
        [
            ("new-1", "Cosmic Socks", "limited cosmic print socks", "upsert"),
            ("new-1", "", "", "delete"),
            ("doc-005", "", "", "delete"),
            ("doc-005", "Product 5", "rewritten article five", "upsert"),
            ("new-2", "Desert Boots", "suede desert boots", "upsert"),
        ],
        CHANGE_SCHEMA,
    )
    apply_changes(catalog, change, keys=["id"], embedder=EMB)
    apply_index_changes(ivf, change, id_col="id", embedder=EMB)
    apply_index_changes(lsh, change, id_col="id", embedder=EMB)
    apply_keyword_index_changes(bm, change, id_col="id", text_cols=("name", "description"))

    stores = {
        "catalog": {r["id"] for r in catalog.read().select("id").collect()},
        "ivf": _ids(spark, os.path.join(ivf.path, "data")),
        "lsh": _ids(spark, os.path.join(lsh.path, "data")),
        "bm25 postings": _ids(spark, os.path.join(bm.path, "postings")),
        "bm25 docs": _ids(spark, os.path.join(bm.path, "docs")),
    }
    for name, ids in stores.items():
        assert "new-1" not in ids and "doc-005" not in ids, name
        assert "new-2" in ids and "doc-006" in ids, name
    assert bm.meta()["n_docs"] == 24  # 24 - doc-005 + new-2


def _perfbench_shape(spark, tmp_path):
    """perfbench rag_chat's change-set set-up: 300 docs, 128-d, 4 lists."""
    rng = np.random.RandomState(7)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(f"doc-{i:05d}", rng.randn(128).astype(float).tolist()) for i in range(300)],
        "_id string, vector array<double>",
    ).write.parquet(src)
    return IvfIndex(spark, str(tmp_path / "ivf")).build(
        spark.read.parquet(src), vector_col="vector", num_lists=4, seed=1, max_iter=3,
        id_col="_id",
    )


def _jobs(spark, fn) -> int:
    before = _next_job_id(spark)
    fn()
    return _next_job_id(spark) - before


def test_change_set_job_counts(spark, tmp_path):
    """One upsert + one delete: the staging collect, one removal (a probe
    and a rewrite, two jobs each) and one append (two jobs). Removing one
    id: the probe and the rewrite."""
    idx = _perfbench_shape(spark, tmp_path)
    change = spark.createDataFrame(
        [("doc-00299", "", "", "delete"), ("chg-00000", "new", "brand new socks", "upsert")],
        "_id string, title string, text string, _op string",
    )
    emb = HashNgramEmbedder(dims=128)
    assert _jobs(spark, lambda: apply_index_changes(idx, change, id_col="_id", embedder=emb)) <= 7
    assert _jobs(spark, lambda: idx.remove_documents(["doc-00005"], id_col="_id")) <= 4
    ids = _ids_of(idx)
    assert "doc-00299" not in ids and "doc-00005" not in ids and "chg-00000" in ids
    assert len(ids) == 299


def _ids_of(idx) -> set:
    return {r[0] for r in idx.data().select("_id").collect()}


def test_compact_reads_the_recorded_schema(spark, tmp_path):
    """A compaction reads with the schema build recorded: the rewrite's
    two jobs, no footer job."""
    idx = _perfbench_shape(spark, tmp_path)
    more = idx.data().filter(F.col("_id").isin([f"doc-{i:05d}" for i in range(12)]))
    rows = more.drop("centroid_id").collect()
    idx.remove_documents([r["_id"] for r in rows], id_col="_id")
    for r in rows:  # one append per row: fat partitions
        idx.add_documents(
            spark.createDataFrame([r], "_id string, vector array<double>"), id_col="_id",
            on_duplicate="trust",
        )
    n = []
    assert _jobs(spark, lambda: n.append(idx.compact(max_files_per_partition=3))) <= 2
    assert n[0] >= 1
    assert len(_ids_of(idx)) == 300


def _pinned(schema_json: str) -> T.StructType:
    return T.StructType.fromJson(json.loads(schema_json))


@pytest.mark.parametrize("quantize", [False, True])
def test_lsh_records_its_data_schema(spark, tmp_path, quantize):
    corpus = ingest_and_vectorize(spark.createDataFrame(_docs(12), DOC_SCHEMA), embedder=EMB)
    idx = LshIndex(spark, str(tmp_path / "lsh")).build(
        corpus, dims=32, bits=2, tables=2, vector_col="vector", id_col="id", quantize=quantize
    )
    pinned = _pinned(idx.meta()["schema"])
    assert pinned == spark.read.parquet(os.path.join(idx.path, "data")).schema
    assert idx.data().schema == pinned


def test_bm25_records_its_directory_schemas(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, f"socks number {i} in wool") for i in range(10)], "doc_id long, text string"
    )
    idx = Bm25Index(spark, str(tmp_path / "bm")).build(docs, n_buckets=4)
    meta = idx.meta()
    dirs = {"postings": "postings", "docs": "docs", "terms": meta["terms_dir"]}
    for name, d in dirs.items():
        pinned = _pinned(meta["schemas"][name])
        assert pinned == spark.read.parquet(os.path.join(idx.path, d)).schema, name
        assert idx._read(name, meta).schema == pinned, name


def test_build_if_absent_rebuilds_a_meta_without_schemas(spark, tmp_path):
    corpus = ingest_and_vectorize(spark.createDataFrame(_docs(12), DOC_SCHEMA), embedder=EMB)
    text = corpus.select("id", F.concat_ws(" ", "name", "description").alias("text"))
    lsh = LshIndex(spark, str(tmp_path / "lsh"))
    bm = Bm25Index(spark, str(tmp_path / "bm"))
    for idx, key, build in (
        (lsh, "schema", lambda: lsh.build_if_absent(corpus, dims=32, bits=2, tables=2,
                                                    vector_col="vector", id_col="id")),
        (bm, "schemas", lambda: bm.build_if_absent(text, id_col="id", n_buckets=4)),
    ):
        build()
        meta = idx.meta()
        del meta[key]
        with open(os.path.join(idx.path, "meta.json"), "w") as f:
            json.dump(meta, f)
        build()
        assert key in idx.meta()
