"""SemDeDup (ops/semdedup.py): numpy ground-truth parity of the
keep-first decision, pair/decision consistency, determinism under
repartition, and the no-broadcast pair-join plan shape."""

import math

import numpy as np
import pyspark.sql.functions as F
import pytest

from brahmand_spark.ops.semdedup import semdedup, semdedup_pairs
from brahmand_spark.ops.clustering import kmeans_fit

from .test_clustering import _numpy_kmeans, _vec_df


def _numpy_semdedup(X, k, iters, threshold):
    """Ground-truth replay: kmeans labels, then drop i iff some j < i
    in the same cluster has round(cosine, 6) >= threshold."""
    lab, _ = _numpy_kmeans(X, k, iters)
    N = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
    S = np.round(N @ N.T, 6)
    keep = []
    for i in range(len(X)):
        dup = any(
            lab[j] == lab[i] and S[j, i] >= threshold for j in range(i)
        )
        keep.append(not dup)
    return lab, keep


class TestSemDeDup:
    def _blobs(self, n_per=20, dim=8, seed=11):
        rng = np.random.RandomState(seed)
        # three clusters, each with deliberate near-dup pairs: every
        # fourth vector is a tiny perturbation of its predecessor
        blobs = []
        for off in (0.0, 12.0, -12.0):
            B = rng.randn(n_per, dim) + off
            B[3::4] = B[2::4] + rng.randn(len(B[3::4]), dim) * 1e-3
            blobs.append(B)
        return np.vstack(blobs)

    def test_matches_numpy_ground_truth(self, spark):
        X = self._blobs()
        want_lab, want_keep = _numpy_semdedup(X, k=3, iters=3,
                                              threshold=0.95)
        got = {r["vec_id"]: (r["cluster"], r["keep"])
               for r in semdedup(_vec_df(spark, X), k=3, iters=3,
                                 threshold=0.95).collect()}
        assert got == {
            i: (int(l), bool(kp))
            for i, (l, kp) in enumerate(zip(want_lab, want_keep))
        }
        # the fixture must exercise both outcomes
        assert any(not kp for _, kp in got.values())
        assert any(kp for _, kp in got.values())

    def test_auto_k_matches_explicit_sqrt_n(self, spark):
        """r11: k=None auto-sizes ceil(sqrt(N)) clamped to [8, 65536]
        and decides identically to passing that k explicitly."""
        import math

        from brahmand_spark.ops.semdedup import K_MAX, K_MIN, _auto_k

        X = self._blobs(seed=15)
        df = _vec_df(spark, X)
        n = len(X)
        want_k = min(max(K_MIN, math.ceil(math.sqrt(n))), K_MAX)
        assert _auto_k(df, "vec_id") == want_k
        auto = sorted(map(tuple, semdedup(df, threshold=0.95).collect()))
        pinned = sorted(map(tuple, semdedup(
            df, k=want_k, threshold=0.95).collect()))
        assert auto == pinned
        # tiny corpora clamp to K_MIN
        assert _auto_k(df.limit(5), "vec_id") == K_MIN

    def test_pairs_consistent_with_decision(self, spark):
        X = self._blobs(seed=12)
        df = _vec_df(spark, X)
        cents = kmeans_fit(df, k=3, iters=3)
        pairs = semdedup_pairs(df, cents, threshold=0.95).collect()
        decided = semdedup(df, k=3, iters=3, threshold=0.95).collect()
        dropped = {r["vec_id"] for r in decided if not r["keep"]}
        # exactly the ids that appear as the higher side of some pair
        assert dropped == {r["id_b"] for r in pairs}
        # every pair is within one cluster and above threshold
        lab = {r["vec_id"]: r["cluster"] for r in decided}
        for r in pairs:
            assert lab[r["id_a"]] == lab[r["id_b"]] == r["cluster"]
            assert r["cosine"] >= 0.95
            assert r["id_a"] < r["id_b"]

    def test_deterministic_under_repartition(self, spark):
        X = self._blobs(seed=13)
        df = _vec_df(spark, X)
        a = sorted(map(tuple, semdedup(df, k=3, iters=3,
                                       threshold=0.95).collect()))
        b = sorted(map(tuple, semdedup(
            df.repartition(7), k=3, iters=3, threshold=0.95).collect()))
        assert a == b

    def test_pair_join_scale_shape_is_cluster_keyed(self, spark):
        """The join strategy is left to Catalyst + AQE (small inputs
        broadcast; corpus-sized inputs exceed the broadcast threshold).
        Simulate the corpus-sized case by disabling auto-broadcast and
        assert the fallback is a shuffled join keyed on `cluster` —
        the 100 TB plan shape."""
        X = self._blobs(seed=14)
        df = _vec_df(spark, X)
        cents = kmeans_fit(df, k=3, iters=3)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            plan = semdedup_pairs(df, cents, threshold=0.95) \
                ._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "BroadcastHashJoin" not in plan
        join_lines = [ln for ln in plan.splitlines()
                      if "Join" in ln and "cluster" in ln]
        assert join_lines, plan


class TestRecursiveSplit:
    """semdedup(max_cluster_size=...): the hot-cluster escape hatch —
    a skewed fixture where one giant cluster triggers the recursive
    within-cluster k-means split; leaf sizes (and so the quadratic
    pair work) stay bounded, determinism is preserved, and the split
    decision only ever REMOVES more pairs' worth of comparisons, not
    documents."""

    def _skewed(self, dim=6, seed=5):
        rng = np.random.RandomState(seed)
        # one giant tight-ish blob (160 vecs) + two small far blobs
        giant = rng.randn(160, dim) * 2.0 + 20.0
        small_a = rng.randn(20, dim) - 20.0
        small_b = rng.randn(20, dim)
        small_b[:, 0] += 60.0
        return np.vstack([giant, small_a, small_b])

    def test_giant_cluster_splits_and_leaves_bounded(self, spark):
        from brahmand_spark.ops.semdedup import semdedup_labels

        X = self._skewed()
        labels = semdedup_labels(
            _vec_df(spark, X), k=4, iters=3,
            max_cluster_size=50, max_depth=4).collect()
        assert len(labels) == len(X)
        by_label = {}
        for r in labels:
            by_label.setdefault(r["cluster"], []).append(r["vec_id"])
        # the giant blob forced at least one dotted (split) label
        assert any("." in lab for lab in by_label)
        # every leaf respects the cap
        assert max(len(v) for v in by_label.values()) <= 50
        # quadratic pair bound: sum of leaf^2 far below the giant^2
        assert sum(len(v) ** 2 for v in by_label.values()) < 160 ** 2 / 2

    def test_depth_cap_stops_recursion(self, spark):
        from brahmand_spark.ops.semdedup import semdedup_labels

        X = self._skewed()
        labels = semdedup_labels(
            _vec_df(spark, X), k=4, iters=3,
            max_cluster_size=50, max_depth=1).collect()
        # depth 1 = plain assignment, no dotted labels
        assert all("." not in r["cluster"] for r in labels)

    def test_split_decision_deterministic_and_total(self, spark):
        X = self._skewed()
        a = semdedup(_vec_df(spark, X), k=4, threshold=0.995,
                     max_cluster_size=50).collect()
        b = semdedup(_vec_df(spark, X).repartition(7), k=4,
                     threshold=0.995, max_cluster_size=50).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        assert len(a) == len(X)
        # keep-first still holds within every leaf: the smallest id of
        # each leaf cluster is always kept
        first = {}
        for r in sorted(a, key=lambda r: r["vec_id"]):
            if r["cluster"] not in first:
                first[r["cluster"]] = r
        assert all(r["keep"] for r in first.values())

    def test_unskewed_data_never_splits(self, spark):
        rng = np.random.RandomState(3)
        X = np.vstack([rng.randn(20, 6) + off for off in (0, 30, -30)])
        labels = semdedup(_vec_df(spark, X), k=3, threshold=0.9,
                          max_cluster_size=40).collect()
        assert all("." not in r["cluster"] for r in labels)


class TestArrowDropPath:
    """r15: the drop decision runs as grouped-Arrow NumPy matmuls
    (_dropped_ids_arrow) with oversized clusters split into block
    pairs. Parity with the JVM pair join is the contract."""

    def _df(self, spark, seed=21, n=240, dim=8):
        rng = np.random.RandomState(seed)
        X = rng.randn(n, dim)
        X[3::4] = X[2::4] + rng.randn(len(X[3::4]), dim) * 1e-3
        return _vec_df(spark, X)

    def _labeled(self, spark, df, k=3):
        from brahmand_spark.ops.similarity import _as_double, ivf_cell

        cents = kmeans_fit(df, k=k, iters=2)
        return cents, df.select(
            F.col("vec_id").alias("id"),
            _as_double(F.col("embedding")).alias("v"),
        ).select("id", "v", ivf_cell(F.col("v"), cents).alias("cluster"))

    def test_blocked_and_unblocked_match_jvm_pairs(self, spark):
        from brahmand_spark.ops.semdedup import _dropped_ids_arrow

        df = self._df(spark)
        cents, v = self._labeled(spark, df)
        want = {r["id_b"] for r in semdedup_pairs(
            df, cents, threshold=0.95).collect()}
        one_block = {r["_dropped_id"] for r in _dropped_ids_arrow(
            v, 0.95, block_rows=10_000).collect()}
        many_blocks = {r["_dropped_id"] for r in _dropped_ids_arrow(
            v, 0.95, block_rows=16).collect()}
        assert one_block == want
        assert many_blocks == want
        assert want  # fixture must exercise real drops

    def test_zero_vectors_follow_oracle_nan_semantics(self, spark):
        """cosine with a zero-norm vector is NaN; DuckDB (the oracle)
        and non-ANSI Spark order NaN above every double, so NaN >=
        threshold DROPS the higher id. The JVM join path cannot even
        express this under ANSI (0/0 raises DIVIDE_BY_ZERO); the Arrow
        path is defined and must drop the second zero vector."""
        from brahmand_spark.ops.semdedup import _dropped_ids_arrow

        X = np.vstack([np.zeros((2, 6)), np.eye(6) * 5.0])
        df = _vec_df(spark, X)
        cents, v = self._labeled(spark, df, k=2)
        clusters = {r["id"]: r["cluster"] for r in
                    v.select("id", "cluster").collect()}
        got = {r["_dropped_id"] for r in _dropped_ids_arrow(
            v, 0.95).collect()}
        # the two zero vectors are ids 0 and 1; if they share a cell
        # the higher one drops on the NaN pair
        if clusters[0] == clusters[1]:
            assert 1 in got
        assert 0 not in got


def test_non_finite_centroid_refused(spark):
    """A NaN/Inf centroid fails with the reason, not as a SQL parse
    error on the rendered "nanD" literal."""
    from brahmand_spark.ops.similarity import ivf_cell

    for cents in ([[math.nan, 0.0]], [[0.0, 1.0], [math.inf, 0.0]]):
        with pytest.raises(ValueError, match="non-finite"):
            ivf_cell(F.col("v"), cents)
