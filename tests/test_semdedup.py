"""SemDeDup (operators/semdedup.py): greedy epsilon-dedup within embedding
clusters, keep policies, hot-cluster sub-bucketing, python-oracle parity."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.operators import semdedup as SD


def _vec_df(spark, vecs, start_id=0):
    rows = [(start_id + i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _unit(v):
    v = np.asarray(v, dtype=float)
    return v / np.linalg.norm(v)


def test_near_identical_vectors_collapse_to_one(spark):
    base = np.random.RandomState(0).randn(8)
    vecs = [base, base + 1e-4, base + 2e-4, -base]  # 3 dupes + 1 opposite
    out = SD.semantic_duplicates(
        _vec_df(spark, vecs), eps=0.99, k=1
    ).collect()
    kept = sorted(r.vec_id for r in out if r.keep)
    assert kept == [0, 3]  # min_id keeps the lowest dupe + the opposite


def test_keep_far_retains_boundary_member(spark):
    # cluster core: many copies of e1; boundary: a vector 20 deg away.
    e1 = np.zeros(8); e1[0] = 1.0
    rot = np.zeros(8); rot[0] = np.cos(np.deg2rad(20)); rot[1] = np.sin(np.deg2rad(20))
    vecs = [e1, e1, e1, rot]
    out = SD.semantic_duplicates(
        _vec_df(spark, vecs), eps=0.9, k=1, keep="far"
    ).collect()
    kept = sorted(r.vec_id for r in out if r.keep)
    # rot is farthest from the centroid -> scanned first and kept; the
    # first core copy survives (cos(core, rot) = .94 >= .9? no: cos20=.94
    # >= .9 so core IS within eps of rot and all three copies drop)
    assert kept == [3]


def test_greedy_python_oracle_parity_single_cluster(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 16)
    eps = 0.2  # low threshold => dense similarity graph, exercises greedy
    out = SD.semantic_duplicates(
        _vec_df(spark, vecs), eps=eps, k=1
    ).collect()
    got = {r.vec_id: r.keep for r in out}
    mn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    kept = []
    exp = {}
    for i in range(len(vecs)):
        if kept and (mn[kept] @ mn[i] >= eps).any():
            exp[i] = False
        else:
            exp[i] = True
            kept.append(i)
    assert got == exp


def test_dedup_is_within_cluster_only(spark):
    # two tight, opposite clusters: members dedup within, never across
    a, b = _unit([1, 0, 0, 0]), _unit([-1, 0.01, 0, 0])
    vecs = [a, a, b, b]
    out = SD.semantic_duplicates(
        _vec_df(spark, vecs), eps=0.999, k=2
    ).collect()
    kept = sorted(r.vec_id for r in out if r.keep)
    assert kept == [0, 2]
    clusters = {r.vec_id: r.cluster_id for r in out}
    assert clusters[0] == clusters[1] and clusters[2] == clusters[3]
    assert clusters[0] != clusters[2]


def test_hot_cluster_subbuckets_bound_group_size(spark):
    rng = np.random.RandomState(3)
    vecs = rng.randn(60, 8)
    full = SD.semantic_duplicates(
        _vec_df(spark, vecs), eps=0.95, k=1, max_cluster=100
    )
    split = SD.semantic_duplicates(
        _vec_df(spark, vecs), eps=0.95, k=1, max_cluster=10
    )
    # same schema + full coverage either way; the split path may keep MORE
    # rows (pairs across sub-buckets are not compared) but never fewer
    n_full = full.filter(F.col("keep")).count()
    n_split = split.filter(F.col("keep")).count()
    assert full.count() == split.count() == 60
    assert n_split >= n_full


def test_drop_semantic_duplicates_preserves_columns(spark, tables):
    emb = tables["embeddings"]
    out = SD.drop_semantic_duplicates(emb, eps=0.99, k=4)
    assert out.columns == emb.columns
    assert 0 < out.count() <= emb.count()


def test_empty_and_invalid(spark):
    empty = _vec_df(spark, np.zeros((0, 4)))
    assert SD.semantic_duplicates(empty, k=1).count() == 0
    with pytest.raises(ValueError):
        SD.semantic_duplicates(_vec_df(spark, np.eye(3)), keep="random")


def test_dup_of_provenance_and_pairs(spark):
    base = np.random.RandomState(1).randn(8)
    other = np.random.RandomState(2).randn(8)
    vecs = [base, base + 1e-4, other, base + 2e-4]
    out = {r.vec_id: r for r in SD.semantic_duplicates(
        _vec_df(spark, vecs), eps=0.99, k=1
    ).collect()}
    assert out[0].keep and out[0].dup_of is None
    assert not out[1].keep and out[1].dup_of == 0
    assert not out[3].keep and out[3].dup_of == 0
    assert out[2].keep and out[2].dup_of is None
    pairs = sorted(
        (r.id_a, r.id_b) for r in SD.semantic_duplicate_pairs(
            _vec_df(spark, vecs), eps=0.99, k=1
        ).collect()
    )
    assert pairs == [(0, 1), (0, 3)]


def test_semantic_pairs_feed_leakage_safe_split(spark, tables):
    from vector_search_ai_assistant_mongodbvcore_spark.operators.splits import (
        assign_split_leakage_safe,
    )

    emb = tables["embeddings"]
    pairs = SD.semantic_duplicate_pairs(emb, eps=0.99, k=4)
    out = assign_split_leakage_safe(
        emb.select("vec_id"), pairs, id_col="vec_id"
    )
    lab = {r.vec_id: r.split for r in out.collect()}
    for r in pairs.collect():
        assert lab[r.id_a] == lab[r.id_b]


def test_null_embeddings_are_skipped_not_fatal(spark):
    """NULL-embedding rows have no position in embedding space: they are
    absent from the verdict frame (exploded_shingles' NULL-text contract),
    and their presence must not crash the k-means fit or the kernel's
    np.stack."""
    base = np.random.RandomState(3).randn(8)
    good = _vec_df(spark, [base, base + 1e-4, -base])
    nulls = spark.createDataFrame(
        [(100, None), (101, None)], "vec_id long, embedding array<float>"
    )
    out = SD.semantic_duplicates(
        good.unionByName(nulls), eps=0.99, k=1
    ).collect()
    assert sorted(r.vec_id for r in out) == [0, 1, 2]  # nulls absent
    clean = SD.semantic_duplicates(good, eps=0.99, k=1).collect()
    assert {(r.vec_id, r.keep) for r in out} == {(r.vec_id, r.keep) for r in clean}
