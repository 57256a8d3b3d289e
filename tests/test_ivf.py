"""IVF index (V4/V5): exactness at full probes, recall on clustered data,
partition-pruned plan, exists/build_if_absent."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_ai_assistant_mongodbvcore_spark.operators.ivf import IvfIndex
from vector_search_ai_assistant_mongodbvcore_spark.operators.vector_search import vector_search
from vector_search_ai_assistant_mongodbvcore_spark.plans.inspect import plan_report


def _exact_ids(df, q, k=10):
    return [
        r.vec_id
        for r in vector_search(df, q, k=k, vector_col="embedding", id_col="vec_id").collect()
    ]


@pytest.fixture(scope="module")
def uniform_idx(spark, tables, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ivf_uniform"))
    idx = IvfIndex(spark, d).build(
        tables["embeddings"], vector_col="embedding", num_lists=4, seed=42
    )
    return idx


def test_full_probe_equals_brute_force(spark, tables, uniform_idx):
    """n_probe = num_lists scans every list -> must EXACTLY equal the
    brute-force top-k (same ids, same order)."""
    for seed in (5, 6, 7):
        q = list(map(float, np.random.RandomState(seed).randn(64)))
        got = [
            r.vec_id
            for r in uniform_idx.search(q, k=10, n_probe=4, use_pandas=False, id_col="vec_id").collect()
        ]
        assert got == _exact_ids(tables["embeddings"], q)


def test_recall_rises_with_probes(spark, tables, uniform_idx):
    """On uniform random vectors (worst case for IVF — no cluster structure)
    recall must still rise monotonically-ish with n_probe; measured ~0.4 /
    0.65 / 0.86 / 1.0 on this fixture."""
    q = list(map(float, np.random.RandomState(8).randn(64)))
    exact = set(_exact_ids(tables["embeddings"], q))
    recalls = []
    for n_probe in (1, 2, 4):
        got = {
            r.vec_id
            for r in uniform_idx.search(q, k=10, n_probe=n_probe, use_pandas=False, id_col="vec_id").collect()
        }
        recalls.append(len(got & exact) / 10)
    assert recalls[0] <= recalls[1] <= recalls[2] == 1.0


def test_recall_on_clustered_data(spark, tmp_path):
    """The honest 0.9-recall claim: when the data HAS cluster structure (the
    regime IVF exists for), n_probe=1 of 4 already achieves >= 0.9 recall."""
    rng = np.random.RandomState(0)
    centers = rng.randn(4, 16) * 5
    rows = []
    for i in range(400):
        c = centers[i % 4]
        rows.append((i, (c + rng.randn(16) * 0.3).astype(float).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = IvfIndex(spark, str(tmp_path)).build(df, vector_col="embedding", num_lists=4, seed=1)
    recalls = []
    for i in range(8):
        q = (centers[i % 4] + rng.randn(16) * 0.3).tolist()
        exact = set(_exact_ids(df, q))
        got = {
            r.vec_id for r in idx.search(q, k=10, n_probe=1, use_pandas=False, id_col="vec_id").collect()
        }
        recalls.append(len(got & exact) / 10)
    assert float(np.mean(recalls)) >= 0.9


def test_partition_pruning_in_plan(spark, uniform_idx):
    """The n_probe restriction must reach the file listing as a partition
    filter on centroid_id — that's the entire point of the layout."""
    q = [0.3] * 64
    out = uniform_idx.search(q, k=5, n_probe=1, use_pandas=False, id_col="vec_id")
    raw = plan_report(out).raw
    assert "PartitionFilters" in raw and "centroid_id" in raw


def test_sampled_fit_stays_exact_at_full_probe(spark, tmp_path, monkeypatch):
    """An input larger than the derived row cap (num_lists * 256) fits on
    exactly the cap's hashed sample: centroids differ from a full fit but
    full-probe search is still exact — pruning changes the scan, never
    the math."""
    from vector_search_ai_assistant_mongodbvcore_spark.operators import kmeans

    rng = np.random.RandomState(12)
    rows = [(i, rng.randn(64).astype(float).tolist()) for i in range(1200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seen = []
    fit = kmeans.lloyd

    def spy(x, *args, **kwargs):
        seen.append(len(x))
        return fit(x, *args, **kwargs)

    monkeypatch.setattr(kmeans, "lloyd", spy)
    idx = IvfIndex(spark, str(tmp_path)).build(df, vector_col="embedding", num_lists=4, seed=42)
    assert seen == [4 * kmeans.POINTS_PER_CENTROID]
    q = list(map(float, np.random.RandomState(11).randn(64)))
    got = [r.vec_id for r in idx.search(q, k=10, n_probe=4, use_pandas=False, id_col="vec_id").collect()]
    assert got == _exact_ids(df, q)


def test_first_probe_is_own_list(spark, tmp_path):
    """Queries are routed by the rule rows were assigned by (x̂·c - |c|²/2),
    so every indexed vector's n_probe=1 route is its own centroid_id. On
    uniform unit vectors the centroids are short (|c| ~ 0.2) and unequal,
    where ranking by cosine to the normalized centroid disagrees."""
    import os

    rng = np.random.RandomState(0)
    vecs = rng.randn(2000, 64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    idx = IvfIndex(spark, str(tmp_path)).build(df, vector_col="embedding", num_lists=4, seed=42)
    stored = {
        r.vec_id: r.centroid_id
        for r in spark.read.parquet(os.path.join(str(tmp_path), "data"))
        .select("vec_id", "centroid_id").collect()
    }
    cents = idx._centroids()
    by_cosine = np.argmax(vecs @ (cents / np.linalg.norm(cents, axis=1, keepdims=True)).T, axis=1)
    assert any(by_cosine[i] != c for i, c in stored.items())  # the fixture bites
    wrong = [i for i, c in stored.items() if idx.nearest_centroids(vecs[i].tolist(), 1) != [c]]
    assert not wrong


def test_build_runs_at_most_three_jobs(spark, tmp_path):
    """The build is one aggregate (row count, vector length), one sample
    collect and one write: no iterative fit job per Lloyd step."""
    rng = np.random.RandomState(4)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, rng.randn(128).astype(float).tolist()) for i in range(300)],
        "vec_id long, embedding array<double>",
    ).write.parquet(src)
    df = spark.read.parquet(src)
    jobs = spark.sparkContext._jsc.sc().dagScheduler()
    before = jobs.nextJobId()
    IvfIndex(spark, str(tmp_path / "ivf")).build(df, vector_col="embedding", num_lists=2, seed=42)
    assert jobs.nextJobId() - before <= 3


def test_reads_use_the_recorded_schema(spark, tables, tmp_path):
    """meta.json records the data/ schema the build wrote (centroid_id
    included); reads pin it, and it matches what inference would give."""
    import json
    import os

    from pyspark.sql import types as T

    idx = IvfIndex(spark, str(tmp_path)).build(
        tables["embeddings"], vector_col="embedding", num_lists=2, seed=42, quantize=True
    )
    pinned = T.StructType.fromJson(json.loads(idx.meta()["schema"]))
    assert pinned == spark.read.parquet(os.path.join(str(tmp_path), "data")).schema
    assert idx.data().schema == pinned


def test_exists_and_build_if_absent(spark, tables, tmp_path):
    """V5: the reference's create-only-if-missing flow (MongoDbService.cs:76-113)."""
    idx = IvfIndex(spark, str(tmp_path))
    assert not idx.exists()
    idx.build_if_absent(tables["embeddings"], vector_col="embedding", num_lists=2, seed=42)
    assert idx.exists()
    v_before = idx.meta()
    # second call must be a no-op (no rebuild)
    import os

    mtime = os.path.getmtime(os.path.join(str(tmp_path), "meta.json"))
    idx.build_if_absent(tables["embeddings"], vector_col="embedding", num_lists=2, seed=42)
    assert os.path.getmtime(os.path.join(str(tmp_path), "meta.json")) == mtime
    assert idx.meta() == v_before


def test_stale_fingerprint_forces_rebuild(spark, tables, tmp_path):
    """Regenerating the dataset under the same path must force a rebuild:
    build_if_absent compares the stored source-file fingerprint (path, size,
    mtime listing — a driver-side metadata check, no data scan) and rebuilds
    on mismatch instead of serving the old corpus."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "corpus")
    tables["embeddings"].write.mode("overwrite").parquet(src)
    idx = IvfIndex(spark, str(tmp_path / "ivf"))
    idx.build_if_absent(spark.read.parquet(src), vector_col="embedding", num_lists=2, seed=42)
    fp_before = idx.meta()["fingerprint"]
    assert fp_before["mode"] == "files"  # metadata-only staleness check

    # regenerate the dataset IN PLACE: same path, different contents
    tables["embeddings"].withColumn("vec_id", F.col("vec_id") + 1_000_000).write.mode(
        "overwrite"
    ).parquet(src)
    idx.build_if_absent(spark.read.parquet(src), vector_col="embedding", num_lists=2, seed=42)
    fp_after = idx.meta()["fingerprint"]
    assert fp_after != fp_before
    q = [0.1] * 64
    got = {r.vec_id for r in idx.search(q, k=5, n_probe=2, id_col="vec_id").collect()}
    assert all(v >= 1_000_000 for v in got)  # serves the NEW corpus


def test_lsh_index_stale_fingerprint_forces_rebuild(spark, tables, tmp_path):
    from pyspark.sql import functions as F

    from vector_search_ai_assistant_mongodbvcore_spark.operators.similarity import LshIndex

    src = str(tmp_path / "corpus")
    tables["embeddings"].write.mode("overwrite").parquet(src)
    idx = LshIndex(spark, str(tmp_path / "lsh")).build_if_absent(
        spark.read.parquet(src), dims=64, bits=4, tables=4,
        vector_col="embedding", id_col="vec_id",
    )
    fp_before = idx.meta()["fingerprint"]
    tables["embeddings"].withColumn("vec_id", F.col("vec_id") + 1_000_000).write.mode(
        "overwrite"
    ).parquet(src)
    idx.build_if_absent(
        spark.read.parquet(src), dims=64, bits=4, tables=4,
        vector_col="embedding", id_col="vec_id",
    )
    assert idx.meta()["fingerprint"] != fp_before
    got = {r.vec_id for r in idx.search([0.1] * 64, k=5).collect()}
    assert got and all(v >= 1_000_000 for v in got)


def test_fingerprint_content_fallback_for_in_memory_frames(spark):
    """Frames with no file listing (createDataFrame) fingerprint by content
    (row count + scalar maxes) so build_if_absent still detects changes."""
    from vector_search_ai_assistant_mongodbvcore_spark.operators.ivf import data_fingerprint

    schema = "vec_id int, embedding array<double>"
    a = spark.createDataFrame([(1, [0.1] * 4)], schema)
    b = spark.createDataFrame([(1, [0.1] * 4), (2, [0.2] * 4)], schema)
    fp_a = data_fingerprint(a)
    assert fp_a["_rows"] == "1" and "mode" not in fp_a
    assert data_fingerprint(b) != fp_a


@pytest.mark.deep  # slow sweep/E2E (r16 tiering)
def test_multiprobe_recall_curve_with_evaluate_retrieval(spark, tmp_path):
    """The 1 < nProbe < numLists regime, measured with the engine's own
    evaluate_retrieval: queries placed BETWEEN two clusters (the case
    single-probe IVF exists to get wrong) — recall@10 must be monotone in
    n_probe, >= 0.9 at n_probe=2 of 4, and 1.0 at full probe."""
    from vector_search_ai_assistant_mongodbvcore_spark.operators.eval import (
        evaluate_retrieval,
    )

    rng = np.random.RandomState(3)
    # four ORTHOGONAL axis clusters: under cosine, a query on the bisector
    # of axes i and j is equidistant from both clusters, so its true top-10
    # interleaves them ~5/5 and n_probe=1 structurally recalls only half
    centers = np.zeros((4, 16))
    for i in range(4):
        centers[i, i] = 5.0
    rows = []
    for i in range(600):
        c = centers[i % 4]
        rows.append((i, (c + rng.randn(16) * 0.3).astype(float).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = IvfIndex(spark, str(tmp_path)).build(df, vector_col="embedding", num_lists=4, seed=2)

    queries = []
    for qi in range(8):
        a, b = centers[qi % 4], centers[(qi + 1) % 4]
        queries.append((qi, (a + b + rng.randn(16) * 0.05).tolist()))

    qrels_rows = [
        (qi, doc, 1) for qi, q in queries for doc in _exact_ids(df, q, k=10)
    ]
    qrels = spark.createDataFrame(qrels_rows, "query_id long, doc_id long, rel int")

    def run(n_probe):
        res = []
        for qi, q in queries:
            hits = idx.search(q, k=10, n_probe=n_probe, use_pandas=False, id_col="vec_id").collect()
            res += [(qi, r["vec_id"], rank + 1) for rank, r in enumerate(hits)]
        frame = spark.createDataFrame(res, "query_id long, doc_id long, rank int")
        row = evaluate_retrieval(frame, qrels, k=10).collect()[0]
        return row["recall_at_10"]

    r1, r2, r4 = run(1), run(2), run(4)
    assert r1 <= r2 <= r4 == pytest.approx(1.0)
    assert r2 >= 0.9, (r1, r2, r4)
    assert r1 < 0.9  # the straddle actually stresses single-probe


def test_ivf_quantized_build_search_and_rerank(spark, tables, tmp_path):
    from vector_search_ai_assistant_mongodbvcore_spark.operators.ivf import IvfIndex
    import os

    emb = tables["embeddings"]
    q = [0.1] * 64
    full = IvfIndex(spark, str(tmp_path / "ivf_f")).build(
        emb, vector_col="embedding", num_lists=4, seed=42
    )
    quant = IvfIndex(spark, str(tmp_path / "ivf_q")).build(
        emb, vector_col="embedding", num_lists=4, seed=42, quantize=True
    )
    stored = spark.read.parquet(os.path.join(str(tmp_path / "ivf_q"), "data"))
    assert "_q8" in stored.columns and "embedding" not in stored.columns
    exact = {
        r.vec_id: r.score
        for r in full.search(q, k=10, n_probe=4, id_col="vec_id").collect()
    }
    approx = {
        r.vec_id: r.score
        for r in quant.search(q, k=10, n_probe=4, id_col="vec_id").collect()
    }
    assert len(set(exact) & set(approx)) >= 8
    for vid in set(exact) & set(approx):
        assert abs(exact[vid] - approx[vid]) < 0.02
    rer = {
        r.vec_id: r.score
        for r in quant.search(
            q, k=10, n_probe=4, id_col="vec_id", exact_source=emb
        ).collect()
    }
    for vid in set(exact) & set(rer):
        assert rer[vid] == pytest.approx(exact[vid], abs=1e-9)
    assert len(set(exact) & set(rer)) >= 9


def test_ivf_incremental_add_remove_roundtrip(spark, tables, tmp_path):
    """remove-then-re-add against frozen centroids reproduces the original
    index exactly: same per-id centroid assignment, same search results."""
    from vector_search_ai_assistant_mongodbvcore_spark.operators.ivf import IvfIndex
    from pyspark.sql import functions as F
    import os

    emb = tables["embeddings"]
    idx = IvfIndex(spark, str(tmp_path / "ivf_incr")).build(
        emb, vector_col="embedding", num_lists=4, seed=42
    )
    data_dir = os.path.join(str(tmp_path / "ivf_incr"), "data")
    before = {
        r.vec_id: r.centroid_id
        for r in spark.read.parquet(data_dir).select("vec_id", "centroid_id").collect()
    }
    half = [i for i in before if i % 2 == 0]
    idx.remove_documents(half, id_col="vec_id")
    assert spark.read.parquet(data_dir).count() == len(before) - len(half)
    idx.add_documents(emb.filter(F.col("vec_id").isin(half)), id_col="vec_id")
    after = {
        r.vec_id: r.centroid_id
        for r in spark.read.parquet(data_dir).select("vec_id", "centroid_id").collect()
    }
    assert after == before  # frozen-centroid assignment is reproducible
    q = [0.1] * 64
    got = [(r.vec_id, r.score) for r in
           idx.search(q, k=10, n_probe=4, id_col="vec_id", round_scores=6).collect()]
    fresh = IvfIndex(spark, str(tmp_path / "ivf_incr_f")).build(
        emb, vector_col="embedding", num_lists=4, seed=42
    )
    exp = [(r.vec_id, r.score) for r in
           fresh.search(q, k=10, n_probe=4, id_col="vec_id", round_scores=6).collect()]
    assert got == exp


def test_ivf_incremental_duplicate_guard_and_unknown_remove(spark, tables, tmp_path):
    from vector_search_ai_assistant_mongodbvcore_spark.operators.ivf import IvfIndex
    from pyspark.sql import functions as F

    emb = tables["embeddings"]
    idx = IvfIndex(spark, str(tmp_path / "ivf_dup")).build(
        emb.filter(F.col("vec_id") < 30), vector_col="embedding", num_lists=2, seed=42
    )
    with pytest.raises(ValueError, match="already indexed"):
        idx.add_documents(emb.filter(F.col("vec_id") < 10), id_col="vec_id")
    idx.add_documents(emb.filter(F.col("vec_id") < 35), id_col="vec_id", on_duplicate="skip")
    import os
    stored = spark.read.parquet(os.path.join(str(tmp_path / "ivf_dup"), "data"))
    assert stored.count() == 35 and stored.select("vec_id").distinct().count() == 35
    idx.remove_documents([999_999], id_col="vec_id")  # unknown id: no-op
    assert stored.count() == 35


def test_pq_index_build_and_search(spark, tables, tmp_path):
    """IVF-PQ (quantize='pq'): codes stored instead of vectors, ADC
    candidate search over codes only, exact rerank recovers the full-
    precision top-k, incremental add encodes with the frozen codebooks."""
    import os

    from vector_search_ai_assistant_mongodbvcore_spark.operators.ivf import IvfIndex

    emb = tables["embeddings"]
    q = [0.1] * 64
    pq_idx = IvfIndex(spark, str(tmp_path / "ivf_pq")).build(
        emb, vector_col="embedding", num_lists=4, seed=42,
        quantize="pq", pq_m=16, pq_bits=6,
    )
    stored = spark.read.parquet(os.path.join(str(tmp_path / "ivf_pq"), "data"))
    assert "_pq" in stored.columns and "embedding" not in stored.columns
    assert pq_idx.meta()["pq_model"]["m"] == 16

    exact = _exact_ids(emb, q, k=10)
    # candidate quality: full-probe ADC shortlist overlaps the exact top-10
    cand = [
        r.vec_id
        for r in pq_idx.search(q, k=10, n_probe=4, id_col="vec_id").collect()
    ]
    assert len(set(cand) & set(exact)) >= 5
    # exact rerank over the expanded shortlist recovers the exact top-k
    rer = [
        r.vec_id
        for r in pq_idx.search(
            q, k=10, n_probe=4, id_col="vec_id", exact_source=emb, expand=8
        ).collect()
    ]
    assert len(set(rer) & set(exact)) >= 9

    # incremental add with frozen codebooks: a brand-new exact-match vector
    # must surface at rank 1 after the add
    import numpy as np

    target = np.array(q, dtype=float)
    new = spark.createDataFrame(
        [(99999, [float(x) for x in target])], "vec_id long, embedding array<double>"
    )
    pq_idx.add_documents(new, id_col="vec_id")
    got = [
        r.vec_id
        for r in pq_idx.search(q, k=3, n_probe=4, id_col="vec_id").collect()
    ]
    assert got[0] == 99999


@pytest.mark.deep  # slow sweep/E2E (r16 tiering)
def test_ivf_pq_multiprobe_recall_curve_on_clusters(spark, tmp_path):
    """The round-7 gap: PQ recall was pinned only on near-uniform data.
    Same orthogonal-cluster adversarial fixture as the plain-IVF curve
    (bisector queries — the structural worst case for single-probe), but
    the index stores PQ CODES and serves ADC with exact rerank: recall@10
    must be monotone in n_probe, >= 0.9 at n_probe=2 of 4 with rerank,
    and the no-rerank ADC candidates must still reach >= 0.7 at full
    probe (coarse-by-design, per the search() contract)."""
    from vector_search_ai_assistant_mongodbvcore_spark.operators.eval import (
        evaluate_retrieval,
    )

    rng = np.random.RandomState(3)
    centers = np.zeros((4, 16))
    for i in range(4):
        centers[i, i] = 5.0
    rows = []
    for i in range(600):
        c = centers[i % 4]
        rows.append((i, (c + rng.randn(16) * 0.3).astype(float).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = IvfIndex(spark, str(tmp_path)).build(
        df, vector_col="embedding", num_lists=4, seed=2,
        quantize="pq", pq_m=8, pq_bits=8, id_col="vec_id",
    )
    queries = []
    for qi in range(8):
        a, b = centers[qi % 4], centers[(qi + 1) % 4]
        queries.append((qi, (a + b + rng.randn(16) * 0.05).tolist()))
    qrels = spark.createDataFrame(
        [(qi, doc, 1) for qi, q in queries for doc in _exact_ids(df, q, k=10)],
        "query_id long, doc_id long, rel int",
    )

    def run(n_probe, rerank):
        res = []
        for qi, q in queries:
            hits = idx.search(
                q, k=10, n_probe=n_probe, id_col="vec_id",
                exact_source=df if rerank else None,
            ).collect()
            res += [(qi, r["vec_id"], rank + 1) for rank, r in enumerate(hits)]
        frame = spark.createDataFrame(res, "query_id long, doc_id long, rank int")
        return evaluate_retrieval(frame, qrels, k=10).collect()[0]["recall_at_10"]

    r1, r2, r4 = run(1, True), run(2, True), run(4, True)
    assert r1 <= r2 <= r4, (r1, r2, r4)
    assert r2 >= 0.9, (r1, r2, r4)
    assert r1 < 0.9  # the straddle still stresses single-probe through PQ
    assert run(4, False) >= 0.7  # raw ADC candidates: coarse but usable
