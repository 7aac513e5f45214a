"""PCA (ops/stats): numpy and DuckDB parity, plan shape, non-finite
model refusal."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from .conftest import SF_SMOKE
from .helpers import assert_same


@pytest.fixture(scope="module")
def pca8(spark):
    """ONE exact-path fit (k=8) shared by the TestPca assertions —
    fits are deterministic and a k-truncation of the same
    eigendecomposition, so every smaller-k check can read a slice of
    this fit instead of paying the dim*(dim+3)/2-aggregate plan again
    (r15 suite-time: 8 fits -> 4 across the module)."""
    from brahmand_spark.ops.stats import pca_fit

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    return pca_fit(emb, k=8)


class TestPca:
    def _emb(self, spark):
        return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")

    def test_fit_matches_numpy(self, spark, pca8):
        """Mean/covariance/eigenvectors agree with a full-precision
        numpy PCA on the collected vectors."""
        import numpy as np

        emb = self._emb(spark)
        X = np.vstack([
            np.array(r["embedding"], dtype="float64")
            for r in emb.orderBy("vec_id").collect()])
        mean, comps, var = pca8
        comps, var = comps[:6], var[:6]
        assert np.allclose(mean, X.mean(axis=0), atol=1e-9)
        C = np.cov(X, rowvar=False, bias=True)
        evals, evecs = np.linalg.eigh(C)
        order = np.argsort(evals)[::-1][:6]
        assert np.allclose(var, evals[order], atol=1e-9)
        for got, idx in zip(comps, order):
            want = evecs[:, idx]
            piv = int(np.argmax(np.abs(want)))
            if want[piv] < 0:
                want = -want
            assert np.allclose(got, want, atol=1e-7)

    def test_components_orthonormal_and_ordered(self, pca8):
        import numpy as np

        _, comps, var = pca8
        M = np.array(comps)
        assert np.allclose(M @ M.T, np.eye(8), atol=1e-9)
        assert all(a >= b for a, b in zip(var, var[1:]))
        assert var[-1] > 0

    def test_transform_matches_numpy_projection(self, spark, pca8):
        import numpy as np

        from brahmand_spark.ops.stats import pca_transform

        emb = self._emb(spark)
        mean, comps, _ = pca8
        comps = comps[:4]
        got = {r["vec_id"]: list(r["projected"])
               for r in pca_transform(emb, mean, comps).collect()}
        rows = emb.orderBy("vec_id").collect()
        M = np.array(comps)
        mu = np.array(mean)
        for r in rows[:50]:
            x = np.array(r["embedding"], dtype="float64")
            want = M @ x - M @ mu
            assert np.allclose(got[r["vec_id"]], np.round(want, 6),
                               atol=2e-6)

    def test_deterministic_under_repartition(self, spark, pca8):
        from brahmand_spark.ops.stats import pca_fit

        emb = self._emb(spark)
        b = pca_fit(emb.repartition(13), k=8)
        assert pca8 == b

    def test_projection_matches_duckdb_replay(self, spark, duck, pca8):
        """Given the fitted literals, the projection replays in DuckDB
        (list_dot_product minus the folded mean offset)."""
        from brahmand_spark.ops.stats import pca_transform

        emb = self._emb(spark)
        mean, comps, _ = pca8
        comps = comps[:3]
        got = pca_transform(emb, mean, comps).select(
            "vec_id", F.col("projected")[0].alias("p0"),
            F.col("projected")[1].alias("p1"),
            F.col("projected")[2].alias("p2"))
        items = []
        for c in comps:
            arr = "[" + ", ".join(repr(float(x)) for x in c) + "]"
            off = repr(float(sum(ci * mi for ci, mi in zip(c, mean))))
            items.append(
                "round(list_dot_product(embedding::DOUBLE[], "
                f"{arr}::DOUBLE[]) - {off}, 6)")
        sql = (f"SELECT vec_id, {items[0]} AS p0, {items[1]} AS p1, "
               f"{items[2]} AS p2 FROM embeddings")
        assert_same(got, duck.sql(sql))

    def test_transform_plan_is_narrow(self, spark, pca8):
        from brahmand_spark.ops.stats import pca_transform

        emb = self._emb(spark)
        mean, comps, _ = pca8
        plan = pca_transform(emb, mean, comps[:2]) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "EvalPython" not in plan

    def test_non_finite_model_refused(self, spark):
        # a degenerate fit (NaN mean) must fail with the reason, not as
        # a SQL parse error on the rendered "nanD" literal
        from brahmand_spark.ops.stats import pca_transform

        emb = spark.createDataFrame(
            [(1, [1.0, 2.0])], "vec_id bigint, embedding array<double>")
        for mean, comps in (([math.nan, 0.0], [[1.0, 0.0]]),
                            ([0.0, 0.0], [[math.inf, 0.0]])):
            with pytest.raises(ValueError, match="non-finite"):
                pca_transform(emb, mean, comps)


def test_pca_via_call(tpch):
    from brahmand_spark.ops.stats import pca

    got = tpch.execute(
        "CALL corpus.pca('Embedding', 3) YIELD vec_id, projected "
        "ORDER BY vec_id LIMIT 20").collect()
    want = {r["vec_id"]: list(r["projected"]) for r in pca(
        tpch.tables["Embedding"], k=3).collect()}
    assert len(got) == 20
    for r in got:
        assert list(r["projected"]) == want[r["vec_id"]]


class TestPcaGramPath:
    def test_gram_matches_exact(self, spark, pca8):
        """The BLAS mapInPandas Gram path agrees with the exact
        decimal path to float precision on the 64-dim embeddings."""
        import numpy as np

        from brahmand_spark.ops.stats import pca_fit

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        m_e, c_e, v_e = pca8[0], pca8[1][:4], pca8[2][:4]
        m_g, c_g, v_g = pca_fit(emb, k=4, method="gram")
        assert np.allclose(m_e, m_g, atol=1e-10)
        assert np.allclose(v_e, v_g, atol=1e-9)
        for a, b in zip(c_e, c_g):
            assert np.allclose(a, b, atol=1e-7)

    def test_exact_guard_on_large_dim(self, spark):
        from brahmand_spark.ops.stats import pca_fit

        rows = [(i, [float(i)] * 300) for i in range(4)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        with pytest.raises(ValueError, match="gram"):
            pca_fit(df, k=2, method="exact")

    def test_auto_picks_gram_for_large_dim(self, spark):
        import numpy as np

        from brahmand_spark.ops.stats import pca_fit

        rng = np.random.RandomState(2)
        X = rng.randn(60, 200)
        rows = [(i, [float(x) for x in X[i]]) for i in range(60)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        mean, comps, var = pca_fit(df, k=3)  # auto -> gram at dim 200
        assert np.allclose(mean, X.mean(axis=0), atol=1e-9)
        C = np.cov(X, rowvar=False, bias=True)
        evals = np.sort(np.linalg.eigvalsh(C))[::-1][:3]
        assert np.allclose(var, evals, atol=1e-8)
