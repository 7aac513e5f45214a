"""Trained language ID (r7, VERDICT r6 #9): one-vs-rest LR over
hashed char-trigram features (ops/classifier.train_lang_classifier +
ops/text.lang_id(method='lr')). Bit-exact pure-Python replay of the
char-n-gram featureizer + integer-micro-unit training, separation on
a synthetic multilingual sample, determinism under repartition, and
ModelStore round-trip."""

from __future__ import annotations

import hashlib
import math
import random

import pyspark.sql.functions as F
import pytest

from brahmand_spark.models import ModelStore
from brahmand_spark.ops.classifier import (
    MICRO, char_ngram_features, train_lang_classifier,
)
from brahmand_spark.ops.text import lang_id

# small per-language vocabularies with distinctive orthography —
# generated in-test (public-domain by construction)
VOCAB = {
    "en": ["the", "quick", "brown", "fox", "jumps", "with", "these",
           "things", "that", "would", "through", "night", "knight"],
    "de": ["der", "schnelle", "braune", "fuchs", "springt", "durch",
           "die", "strasse", "nacht", "moechte", "zwischen", "schoen"],
    "fr": ["le", "renard", "brun", "rapide", "saute", "travers",
           "la", "rue", "nuit", "voudrais", "entre", "beaucoup"],
    "es": ["el", "zorro", "marron", "rapido", "salta", "traves",
           "la", "calle", "noche", "quisiera", "entre", "mucho"],
}


def _sentences(lang: str, n: int, seed: int, length: int = 9):
    rnd = random.Random(seed)
    return [" ".join(rnd.choices(VOCAB[lang], k=length))
            for _ in range(n)]


def _sample_df(spark, n_per_lang=12, seed=7):
    rows, did = [], 0
    for lang in sorted(VOCAB):
        for s in _sentences(lang, n_per_lang, seed + hash(lang) % 97):
            rows.append((did, s, lang))
            did += 1
    return spark.createDataFrame(rows, "doc_id long, text string, "
                                       "lang string")


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_char_feats(text: str, dim: int, n: int = 3) -> set[int]:
    t = text.lower()
    grams = {t[i:i + n] for i in range(len(t) - n + 1)} if len(t) >= n \
        else set()
    return {_h60(g) % dim for g in grams} | {dim}


def _fs(m: float) -> float:
    return 0.5 * (1.0 + m / (1.0 + abs(m)))


def _py_train_char(pos, neg, dim, epochs, lr, n=3):
    """Bit-exact replay of train_text_classifier with the char
    featureizer (mirrors tests/test_classifier._py_train)."""
    docs = [(f"p{i}", t, 1.0) for i, t in pos] \
        + [(f"n{i}", t, 0.0) for i, t in neg]
    feats = {k: _py_char_feats(t, dim, n) for k, t, _ in docs}
    scale = lr / len(docs)
    w = [0] * (dim + 1)
    for _ in range(epochs):
        grad = {}
        for k, _t, y in docs:
            m = sum(w[i] for i in feats[k]) / MICRO
            e = math.floor((_fs(m) - y) * MICRO)
            for i in feats[k]:
                grad[i] = grad.get(i, 0) + e
        for i, g in grad.items():
            w[i] -= int(math.floor(scale * g))
    return w


class TestCharFeatures:
    def test_matches_python_replay(self, spark):
        df = spark.createDataFrame(
            [(1, "The Quick"), (2, "ab"), (3, "")],
            "doc_id long, text string")
        got = {}
        for r in char_ngram_features(df, dim=64).collect():
            got.setdefault(r["doc_id"], set()).add(r["idx"])
        for i, t in [(1, "The Quick"), (2, "ab"), (3, "")]:
            assert got[i] == _py_char_feats(t, 64), (i, t)


class TestLangTraining:
    def test_weights_match_python_replay(self, spark):
        df = _sample_df(spark, n_per_lang=6)
        models = train_lang_classifier(df, dim=128, epochs=3)
        for lang in sorted(VOCAB):
            pos = [(r["doc_id"], r["text"]) for r in
                   df.filter(F.col("lang") == lang).collect()]
            neg = [(r["doc_id"], r["text"]) for r in
                   df.filter(F.col("lang") != lang).collect()]
            want = _py_train_char(pos, neg, 128, 3, 4.0)
            assert models[lang] == want, lang

    def test_deterministic_under_repartition(self, spark):
        df = _sample_df(spark, n_per_lang=6)
        a = train_lang_classifier(df, dim=128, epochs=2)
        b = train_lang_classifier(df.repartition(7), dim=128, epochs=2)
        assert a == b

    def test_needs_two_languages(self, spark):
        df = spark.createDataFrame(
            [(1, "hello", "en")], "doc_id long, text string, lang string")
        with pytest.raises(ValueError, match="2 languages"):
            train_lang_classifier(df)


class TestLangIdLr:
    def test_separates_held_out_sentences(self, spark):
        train = _sample_df(spark, n_per_lang=12, seed=7)
        models = train_lang_classifier(train, dim=512, epochs=6)
        rows, want = [], {}
        did = 1000
        for lang in sorted(VOCAB):
            for s in _sentences(lang, 5, seed=999 + hash(lang) % 31):
                rows.append((did, s))
                want[did] = lang
                did += 1
        test = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r["pred_lang"] for r in lang_id(
            test, method="lr", models=models).collect()}
        acc = sum(got[d] == want[d] for d in want) / len(want)
        assert acc >= 0.95, (acc, got)

    def test_beats_marker_heuristic_on_unmarked_text(self, spark):
        """Sentences with none of the marker words still classify
        under the trained model (the heuristic returns 'und')."""
        train = _sample_df(spark, n_per_lang=12)
        models = train_lang_classifier(train, dim=512, epochs=6)
        df = spark.createDataFrame(
            [(1, "schnelle braune fuchs springt strasse zwischen")],
            "doc_id long, text string")
        heur = lang_id(df).collect()[0]
        lr = lang_id(df, method="lr", models=models).collect()[0]
        assert lr["pred_lang"] == "de"
        assert heur["pred_lang"] in ("und", "de")

    def test_requires_models(self, spark):
        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="models="):
            lang_id(df, method="lr")
        with pytest.raises(ValueError, match="markers.*lr|lr.*markers"):
            lang_id(df, method="nope")

    def test_model_store_round_trip(self, spark, tmp_path):
        train = _sample_df(spark, n_per_lang=6)
        models = train_lang_classifier(train, dim=128, epochs=2)
        st = ModelStore(str(tmp_path))
        st.save_lang_lr("langid", models, dim=128, epochs=2)
        loaded = ModelStore(str(tmp_path)).load(
            "langid", "lang_lr")["payload"]
        assert loaded == models
        df = spark.createDataFrame(
            [(1, "the quick brown fox")], "doc_id long, text string")
        a = lang_id(df, method="lr", models=models).collect()
        b = lang_id(df, method="lr", models=loaded).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_markers_path_unchanged(self, spark):
        df = spark.createDataFrame(
            [(1, "the of and to in is it"), (2, "zzz qqq")],
            "doc_id long, text string")
        rows = {r["doc_id"]: r["pred_lang"]
                for r in lang_id(df).collect()}
        assert rows[1] == "en" and rows[2] == "und"


class TestCallSurface:
    def test_corpus_lang_id_via_call(self, spark, tmp_path):
        from brahmand_spark import GraphSession
        from brahmand_spark.ops.classifier import train_lang_classifier

        s = GraphSession(spark, models_path=str(tmp_path / "m"))
        s.execute("CREATE NODE TABLE Doc (doc_id Int64, text String, "
                  "NODE ID (doc_id))")
        s.execute("CREATE NODE TABLE Sample (doc_id Int64, text String, "
                  "lang String, NODE ID (doc_id))")
        sample = _sample_df(spark, n_per_lang=8)
        s.register_table("Sample", sample)
        docs = spark.createDataFrame(
            [(1, " ".join(VOCAB["de"][:8])),
             (2, " ".join(VOCAB["en"][:8]))],
            "doc_id long, text string")
        s.register_table("Doc", docs)
        got = {r["doc_id"]: r["pred_lang"] for r in s.execute(
            "CALL corpus.lang_id('Doc', 'lr', 'lid', 'Sample') "
            "YIELD doc_id, pred_lang").collect()}
        assert got == {1: "de", 2: "en"}
        assert s.model_store.exists("lid")
        # second call loads the saved model (no Sample needed)
        again = {r["doc_id"]: r["pred_lang"] for r in s.execute(
            "CALL corpus.lang_id('Doc', 'lr', 'lid') "
            "YIELD doc_id, pred_lang").collect()}
        assert again == got
        # markers path unchanged through the same procedure
        heur = s.execute("CALL corpus.lang_id('Doc') "
                         "YIELD doc_id, pred_lang").collect()
        assert len(heur) == 2

    def test_lr_without_model_or_sample_errors(self, spark, tmp_path):
        from brahmand_spark import GraphSession
        from brahmand_spark.errors import PlanError

        s = GraphSession(spark, models_path=str(tmp_path / "m2"))
        s.execute("CREATE NODE TABLE Doc (doc_id Int64, text String, "
                  "NODE ID (doc_id))")
        s.register_table("Doc", spark.createDataFrame(
            [(1, "x")], "doc_id long, text string"))
        with pytest.raises(PlanError, match="sample_label"):
            s.execute("CALL corpus.lang_id('Doc', 'lr')").collect()


def test_lang_model_n_mismatch_rejected(spark, tmp_path):
    """The char-n-gram width is part of the fit: loading a stored
    model under a different n must fail loudly, not mis-score (r7
    review)."""
    from brahmand_spark import GraphSession
    from brahmand_spark.errors import CatalogError, PlanError

    s = GraphSession(spark, models_path=str(tmp_path / "m"))
    s.execute("CREATE NODE TABLE Doc (doc_id Int64, text String, "
              "NODE ID (doc_id))")
    s.execute("CREATE NODE TABLE Sample (doc_id Int64, text String, "
              "lang String, NODE ID (doc_id))")
    s.register_table("Sample", _sample_df(spark, n_per_lang=4))
    s.register_table("Doc", spark.createDataFrame(
        [(1, "the quick fox")], "doc_id long, text string"))
    s.execute("CALL corpus.lang_id('Doc', 'lr', 'lw', 'Sample', "
              "'doc_id', 'text', 256, 2, 2)").collect()
    assert s.model_store.load("lw", "lang_lr")["params"]["n"] == 2
    with pytest.raises(CatalogError, match="n=2.*n=3"):
        s.execute("CALL corpus.lang_id('Doc', 'lr', 'lw', 'Sample', "
                  "'doc_id', 'text', 256, 2)").collect()
    with pytest.raises(PlanError, match="markers.*lr|lr"):
        s.execute("CALL corpus.lang_id('Doc', 'fasttext')").collect()
