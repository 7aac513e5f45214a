"""Fit-artifact persistence (brahmand_spark/models.ModelStore):
round-trip bit-identity for every artifact kind (fitted-then-loaded
apply == fit-and-apply), store semantics, the GraphSession property,
and the load-or-train-and-save CALL surface."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from brahmand_spark.errors import CatalogError
from brahmand_spark.models import ModelStore

from .conftest import SF_SMOKE


def _emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


class TestStoreSemantics:
    def test_save_load_list_delete(self, tmp_path):
        st = ModelStore(str(tmp_path / "models"))
        assert st.list_models() == []
        st.save("m1", "lr_weights", [1, 2, 3], {"dim": 4})
        assert st.exists("m1")
        doc = st.load("m1")
        assert doc["payload"] == [1, 2, 3]
        assert doc["params"] == {"dim": 4}
        assert doc["version"] == 1
        assert st.list_models() == [
            {"name": "m1", "kind": "lr_weights", "params": {"dim": 4}}]
        st.delete("m1")
        assert not st.exists("m1")

    def test_kind_validation(self, tmp_path):
        st = ModelStore(str(tmp_path))
        with pytest.raises(ValueError, match="unknown model kind"):
            st.save("x", "nonsense", [])
        st.save("x", "lr_weights", [1])
        with pytest.raises(CatalogError, match="expected 'pca'"):
            st.load("x", "pca")

    def test_missing_model_and_bad_names(self, tmp_path):
        st = ModelStore(str(tmp_path))
        with pytest.raises(CatalogError, match="no saved model"):
            st.load("absent")
        for bad in ("", "a/b", ".hidden"):
            with pytest.raises(ValueError):
                st.save(bad, "lr_weights", [1])

    def test_overwrite_replaces(self, tmp_path):
        st = ModelStore(str(tmp_path))
        st.save("m", "lr_weights", [1])
        st.save("m", "lr_weights", [2])
        assert st.load("m")["payload"] == [2]


class TestRoundTrips:
    """Fitted-then-loaded apply must be BIT-IDENTICAL to
    fit-and-apply — json floats round-trip exactly via repr."""

    def test_ivf_centroids(self, spark, tmp_path):
        from brahmand_spark.ops.similarity import (
            ivf_topk, train_ivf_centroids)

        emb = _emb(spark)
        cents = train_ivf_centroids(emb, 8, "vec_id", "embedding",
                                    1000, 5, 42)
        st = ModelStore(str(tmp_path))
        st.save("ivf", "ivf_centroids", cents, {"n_cells": 8})
        loaded = st.load("ivf", "ivf_centroids")["payload"]
        assert loaded == cents  # exact float equality
        q = emb.filter(F.col("vec_id") < 3)
        a = sorted(map(tuple, ivf_topk(
            emb, q, k=5, centroids=cents).collect()))
        b = sorted(map(tuple, ivf_topk(
            emb, q, k=5, centroids=loaded).collect()))
        assert a == b

    def test_lsh_planes(self, tmp_path):
        from brahmand_spark.ops.similarity import _hyperplanes

        planes = _hyperplanes(16, 6, seed=7)
        st = ModelStore(str(tmp_path))
        st.save("planes", "lsh_planes", planes,
                {"dim": 16, "n_planes": 6, "seed": 7})
        assert st.load("planes", "lsh_planes")["payload"] == planes

    def test_bpe_merges(self, spark, tmp_path):
        from brahmand_spark.ops.bpe import bpe_segment, train_bpe

        docs = _docs(spark).limit(40)
        merges = train_bpe(docs, n_merges=6, min_count=2)
        st = ModelStore(str(tmp_path))
        st.save("bpe", "bpe_merges", [list(m) for m in merges],
                {"n_merges": 6})
        loaded = [tuple(m)
                  for m in st.load("bpe", "bpe_merges")["payload"]]
        assert loaded == merges
        a = sorted(map(str, bpe_segment(docs, merges).collect()))
        b = sorted(map(str, bpe_segment(docs, loaded).collect()))
        assert a == b

    def test_lr_weights(self, spark, tmp_path):
        from brahmand_spark.ops.classifier import (
            classifier_score, train_text_classifier)

        docs = _docs(spark)
        pos = docs.filter(F.col("doc_id") % 2 == 0).limit(30)
        neg = docs.filter(F.col("doc_id") % 2 == 1).limit(30)
        w = train_text_classifier(pos, neg, dim=256, epochs=2)
        st = ModelStore(str(tmp_path))
        st.save_lr_weights("lr", w, dim=256)
        loaded = st.load("lr", "lr_weights")["payload"]
        assert loaded == w
        a = sorted(map(str, classifier_score(
            docs.limit(20), w).collect()))
        b = sorted(map(str, classifier_score(
            docs.limit(20), loaded).collect()))
        assert a == b

    def test_quality_filter_accepts_saved_weights(self, spark, tmp_path):
        from brahmand_spark.ops.classifier import (
            quality_filter_lr, train_text_classifier)

        docs = _docs(spark)
        pos = docs.filter(F.col("doc_id") % 2 == 0).limit(30)
        w = train_text_classifier(pos, docs.limit(30), dim=256, epochs=2)
        trained = quality_filter_lr(
            docs.limit(50), pos, dim=256, epochs=2, min_score=0.4)
        # the exact weights quality_filter_lr trains internally differ
        # (its negative sample is df itself) — so compare the
        # weights-passthrough path against direct scoring instead
        via_weights = quality_filter_lr(
            docs.limit(50), weights=w, min_score=0.4)
        from brahmand_spark.ops.classifier import classifier_score

        keep = classifier_score(docs.limit(50), w) \
            .filter(F.col("score") >= 0.4)
        assert sorted(r["doc_id"] for r in via_weights.collect()) \
            == sorted(r["doc_id"] for r in keep.collect())
        assert trained.columns == via_weights.columns
        with pytest.raises(ValueError, match="reference corpus"):
            quality_filter_lr(docs.limit(5))

    def test_pca(self, spark, tmp_path):
        from brahmand_spark.ops.stats import pca_fit, pca_transform

        emb = _emb(spark)
        mean, comps, var = pca_fit(emb, k=4)
        st = ModelStore(str(tmp_path))
        st.save_pca("pca", mean, comps, var, k=4)
        p = st.load("pca", "pca")["payload"]
        lm, lc, lv = p["mean"], p["components"], p["explained_variance"]
        assert (lm, lc, lv) == (mean, comps, var)
        a = sorted(map(str, pca_transform(emb, mean, comps).collect()))
        b = sorted(map(str, pca_transform(emb, lm, lc).collect()))
        assert a == b


class TestSessionIntegration:
    def _session(self, spark, path):
        from brahmand_spark import GraphSession

        s = GraphSession(spark, models_path=str(path))
        s.execute("CREATE NODE TABLE Embedding (vec_id Int64, "
                  "NODE ID (vec_id))")
        s.execute("CREATE NODE TABLE Doc (doc_id Int64, text String, "
                  "NODE ID (doc_id))")
        s.execute("CREATE NODE TABLE Ref (doc_id Int64, text String, "
                  "NODE ID (doc_id))")
        s.register_table("Embedding", _emb(spark))
        docs = _docs(spark)
        s.register_table("Doc", docs.limit(60))
        s.register_table(
            "Ref", docs.filter(F.col("doc_id") % 2 == 0).limit(30))
        return s

    def test_no_store_configured_errors(self, spark):
        from brahmand_spark import GraphSession

        with pytest.raises(CatalogError, match="no model store"):
            GraphSession(spark).model_store

    def test_store_derived_from_catalog_path(self, spark, tmp_path):
        from brahmand_spark import GraphSession

        s = GraphSession(spark,
                         catalog_path=str(tmp_path / "catalog.json"))
        assert s.model_store.path.endswith("catalog.json.models")

    def test_call_pca_fits_saves_then_reloads(self, spark, tmp_path):
        s = self._session(spark, tmp_path / "m")
        a = sorted(map(str, s.execute(
            "CALL corpus.pca('Embedding', 4, 'vec_id', 'embedding', "
            "'embpca')").collect()))
        assert s.model_store.exists("embpca")
        listed = s.execute("CALL db.models() YIELD name, kind").collect()
        assert ("embpca", "pca") in {(r["name"], r["kind"])
                                     for r in listed}
        # second call loads — identical projection
        b = sorted(map(str, s.execute(
            "CALL corpus.pca('Embedding', 4, 'vec_id', 'embedding', "
            "'embpca')").collect()))
        assert a == b
        # a FRESH session over the same store reuses the fit
        s2 = self._session(spark, tmp_path / "m")
        c = sorted(map(str, s2.execute(
            "CALL corpus.pca('Embedding', 4, 'vec_id', 'embedding', "
            "'embpca')").collect()))
        assert a == c

    def test_call_quality_lr_with_model(self, spark, tmp_path):
        s = self._session(spark, tmp_path / "m2")
        a = sorted(r["doc_id"] for r in s.execute(
            "CALL corpus.quality_lr('Doc', 'Ref', 0.4, 256, 2, "
            "'doc_id', 'text', 'qlr')").collect())
        assert s.model_store.exists("qlr")
        w = s.model_store.load("qlr", "lr_weights")["payload"]
        assert len(w) == 257
        b = sorted(r["doc_id"] for r in s.execute(
            "CALL corpus.quality_lr('Doc', 'Ref', 0.4, 256, 2, "
            "'doc_id', 'text', 'qlr')").collect())
        assert a == b


class TestModelParamValidation:
    """Loading a saved model with mismatched fit parameters must fail
    loudly, not silently return wrong-shaped results (r6 review
    finding #3)."""

    def test_pca_k_mismatch_rejected(self, spark, tmp_path):
        from brahmand_spark import GraphSession

        s = GraphSession(spark, models_path=str(tmp_path / "pv"))
        s.execute("CREATE NODE TABLE Embedding (vec_id Int64, "
                  "NODE ID (vec_id))")
        s.register_table("Embedding", _emb(spark))
        s.execute("CALL corpus.pca('Embedding', 4, 'vec_id', "
                  "'embedding', 'm') YIELD vec_id LIMIT 1").collect()
        with pytest.raises(CatalogError, match="k=4.*k=8"):
            s.execute("CALL corpus.pca('Embedding', 8, 'vec_id', "
                      "'embedding', 'm')").collect()
        # matching k loads fine
        s.execute("CALL corpus.pca('Embedding', 4, 'vec_id', "
                  "'embedding', 'm') YIELD vec_id LIMIT 1").collect()

    def test_quality_lr_dim_mismatch_rejected(self, spark, tmp_path):
        from brahmand_spark import GraphSession

        s = GraphSession(spark, models_path=str(tmp_path / "qv"))
        s.execute("CREATE NODE TABLE Doc (doc_id Int64, text String, "
                  "NODE ID (doc_id))")
        s.execute("CREATE NODE TABLE Ref (doc_id Int64, text String, "
                  "NODE ID (doc_id))")
        docs = _docs(spark)
        s.register_table("Doc", docs.limit(40))
        s.register_table("Ref", docs.filter(
            F.col("doc_id") % 2 == 0).limit(20))
        s.execute("CALL corpus.quality_lr('Doc', 'Ref', 0.4, 128, 1, "
                  "'doc_id', 'text', 'w')").collect()
        with pytest.raises(CatalogError, match="dim=128.*dim=256"):
            s.execute("CALL corpus.quality_lr('Doc', 'Ref', 0.4, 256, "
                      "1, 'doc_id', 'text', 'w')").collect()


def test_pq_codebooks_round_trip(spark, tmp_path):
    """PQ codebooks persist bit-identically; encoded codes from the
    loaded books equal codes from the fitted books."""
    from brahmand_spark.ops.similarity import pq_encode, pq_fit

    emb = _emb(spark)
    books = pq_fit(emb, m=4, n_codes=8, sample_size=200)
    st = ModelStore(str(tmp_path))
    st.save("pq", "pq_codebooks", books, {"m": 4, "n_codes": 8})
    loaded = st.load("pq", "pq_codebooks")["payload"]
    assert loaded == books
    a = sorted(map(str, pq_encode(emb.limit(40), books).collect()))
    b = sorted(map(str, pq_encode(emb.limit(40), loaded).collect()))
    assert a == b
