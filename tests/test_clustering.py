"""Distributed k-means (ops/clustering.py): numpy ground-truth parity,
empty-cell retention, determinism, and the no-shuffle assignment shape."""

import numpy as np

from brahmand_spark.ops.clustering import kmeans, kmeans_assign, kmeans_fit


def _vec_df(spark, X):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(X)]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )


def _numpy_kmeans(X, k, iters):
    """Ground-truth replay: lowest-id init, argmin ||v-c||^2 with ties
    to the lower cell, mean update, empty cells keep their centroid."""
    C = X[:k].astype("float64").copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        lab = d.argmin(axis=1)
        for j in range(k):
            m = X[lab == j]
            if len(m):
                C[j] = m.mean(axis=0)
    d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    return d.argmin(axis=1), C


class TestKMeans:
    def test_matches_numpy_ground_truth(self, spark):
        rng = np.random.RandomState(7)
        # three well-separated blobs in 8 dims
        X = np.vstack([
            rng.randn(30, 8) + off
            for off in (0.0, 10.0, -10.0)
        ])
        df = _vec_df(spark, X)
        want_lab, want_C = _numpy_kmeans(X, k=3, iters=4)
        got = {r["vec_id"]: r["cluster"]
               for r in kmeans(df, k=3, iters=4).collect()}
        assert got == {i: int(l) for i, l in enumerate(want_lab)}
        C = kmeans_fit(df, k=3, iters=4)
        assert np.allclose(np.array(C), want_C)

    def test_empty_cell_keeps_centroid(self, spark):
        # two tight far-apart blobs but k=3: the third seed (inside
        # blob A) empties after one round and must keep its centroid
        X = np.array([[0.0, 0.0], [0.1, 0.0], [0.2, 0.0],
                      [100.0, 0.0], [100.1, 0.0]])
        df = _vec_df(spark, X)
        C = kmeans_fit(df, k=3, iters=3)
        want_lab, want_C = _numpy_kmeans(X, k=3, iters=3)
        assert np.allclose(np.array(C), want_C)

    def test_deterministic_under_repartition(self, spark):
        rng = np.random.RandomState(11)
        X = rng.randn(100, 16)
        df = _vec_df(spark, X)
        a = sorted((r["vec_id"], r["cluster"])
                   for r in kmeans(df, k=5, iters=3).collect())
        b = sorted((r["vec_id"], r["cluster"])
                   for r in kmeans(df.repartition(7), k=5,
                                   iters=3).collect())
        assert a == b

    def test_assignment_has_no_shuffle(self, spark):
        rng = np.random.RandomState(3)
        X = rng.randn(40, 8)
        df = _vec_df(spark, X)
        C = kmeans_fit(df, k=4, iters=1)
        plan = kmeans_assign(df, C)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan
