"""Embedding product quantization (ops/similarity): IVF-PQ codes
against a numpy replay and recall against the exact ranking."""

from __future__ import annotations

import pyspark.sql.functions as F

from .conftest import SF_SMOKE


def _emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


class TestIvfPq:
    """IVF-PQ (ops/similarity.pq_fit/pq_encode/ivfpq_topk): codes
    match a numpy argmin replay, full-probe + full-rerank degrades to
    exact, recall bound vs brute force, determinism."""

    def test_pq_codes_match_numpy(self, spark):
        import numpy as np

        from brahmand_spark.ops.similarity import pq_encode, pq_fit

        emb = _emb(spark)
        books = pq_fit(emb, m=4, n_codes=8, sample_size=200)
        got = {r["id"]: list(r["codes"])
               for r in pq_encode(emb.limit(50), books).collect()}
        rows = {r["vec_id"]: np.array(r["embedding"], dtype="float64")
                for r in emb.limit(50).collect()}
        sub = len(books[0][0])
        for vid, v in rows.items():
            want = []
            for j, book in enumerate(books):
                B = np.array(book)
                d = ((B - v[j * sub:(j + 1) * sub]) ** 2).sum(axis=1)
                want.append(int(d.argmin()))
            assert got[vid] == want, vid

    def test_pq_fit_rejects_uneven_split(self, spark):
        import pytest

        from brahmand_spark.ops.similarity import pq_fit

        dim = len(_emb(spark).first()["embedding"])
        with pytest.raises(ValueError, match="not divisible"):
            pq_fit(_emb(spark), m=dim + 1, sample_size=50)

    def test_full_probe_full_rerank_is_exact(self, spark):
        from brahmand_spark.ops.similarity import cosine_topk, ivfpq_topk

        emb = _emb(spark).limit(120)
        q = emb.filter(F.col("vec_id") < 3)
        exact = sorted(map(tuple, cosine_topk(emb, q, k=5).collect()))
        pq = sorted(map(tuple, ivfpq_topk(
            emb, q, k=5, n_cells=4, nprobe=4, m=4, n_codes=8,
            rerank=1000, sample_size=120).collect()))
        assert pq == exact

    def test_recall_vs_brute_force(self, spark):
        from brahmand_spark.ops.similarity import cosine_topk, ivfpq_topk

        emb = _emb(spark)
        q = emb.filter(F.col("vec_id") < 5)
        exact = {}
        for r in cosine_topk(emb, q, k=10).collect():
            exact.setdefault(r["query_id"], set()).add(r["corpus_id"])
        approx = {}
        for r in ivfpq_topk(emb, q, k=10, n_cells=8, nprobe=6,
                            m=4, n_codes=16, rerank=200).collect():
            approx.setdefault(r["query_id"], set()).add(r["corpus_id"])
        # shortlist quality: >= 60% of the exact top-10 per query
        for qid, want in exact.items():
            got = approx.get(qid, set())
            assert len(got & want) >= 6, (qid, got, want)

    def test_deterministic_under_repartition(self, spark):
        from brahmand_spark.ops.similarity import ivfpq_topk

        emb = _emb(spark)
        q = emb.filter(F.col("vec_id") < 3)
        a = sorted(map(tuple, ivfpq_topk(
            emb, q, k=5, n_cells=8, nprobe=3, m=4,
            n_codes=8).collect()))
        b = sorted(map(tuple, ivfpq_topk(
            emb.repartition(9), q, k=5, n_cells=8, nprobe=3, m=4,
            n_codes=8).collect()))
        assert a == b

    def test_ivfpq_excludes_zero_vectors(self, spark):
        """Zero-norm vectors have no cosine: excluded from both sides,
        no NULL scores in the output (r6 review finding #4)."""
        from brahmand_spark.ops.similarity import ivfpq_topk

        rows = [(i, [float((i + j) % 5 - 2) for j in range(8)])
                for i in range(30)]
        rows.append((99, [0.0] * 8))
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        out = ivfpq_topk(df, df, k=5, n_cells=2, nprobe=2, m=2,
                         n_codes=4, sample_size=31).collect()
        ids = {r["query_id"] for r in out} | {r["corpus_id"] for r in out}
        assert 99 not in ids
        assert all(r["cosine"] is not None for r in out)
