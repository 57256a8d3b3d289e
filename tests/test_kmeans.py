"""The engine's one k-means (operators/kmeans.py): seeded k-means++ init
recovers planted clusters for every seed, and the driver byte bound
raises before any sample is collected."""

from __future__ import annotations

import numpy as np
import pytest

from vector_search_ai_assistant_mongodbvcore_spark.operators import kmeans


def test_lloyd_separates_planted_clusters_for_every_seed():
    """test_ivf.test_recall_on_clustered_data's fixture, unit-normalized as
    the fit sees it: each of 4 planted clusters lands whole in its own
    centroid for 20 seeds. A random-draw init merged two clusters for
    most seeds on this fixture."""
    rng = np.random.RandomState(0)
    centers = rng.randn(4, 16) * 5
    x = np.array([centers[i % 4] + rng.randn(16) * 0.3 for i in range(400)])
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    truth = np.arange(400) % 4
    for seed in range(20):
        c = kmeans.lloyd(x, 4, seed=seed, iters=20)
        got = np.argmax(x @ c.T - 0.5 * (c * c).sum(axis=1), axis=1)
        assert {int(got[truth == t][0]) for t in range(4)} == {0, 1, 2, 3}, seed
        assert all(len(set(got[truth == t])) == 1 for t in range(4)), seed


def test_byte_bound_raises_naming_the_limit(spark, monkeypatch):
    """When MAX_FIT_BYTES holds fewer than 39 rows per centroid the fit
    raises before collecting, naming the constant."""
    df = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.0]) for i in range(50)], "vec_id long, embedding array<double>"
    )
    monkeypatch.setattr(kmeans, "MAX_FIT_BYTES", 8 * 4 * 100)  # 100 rows of 4 dims
    with pytest.raises(ValueError, match="MAX_FIT_BYTES"):
        kmeans.fit_kmeans(df, "embedding", k=4)
    assert kmeans.fit_kmeans(df, "embedding", k=2).shape == (2, 4)
