"""Learned quality classifier: distributed logistic regression over
hashed bag-of-words features — the fastText-recipe quality filter of
the CCNet / GPT-3 / LLaMA data pipelines (Wenzek et al. 2020 trains a
linear model on reference-vs-crawl text; Brown et al. 2020 §A filters
Common Crawl with exactly this classifier shape), as a pure
DataFrame-native trainer.

Why not MLlib: the goal here is an ENGINE-REPLAYABLE trainer — every
arithmetic step is either an integer sum (order-independent, safe to
shuffle) or a basic IEEE-754 op (+,-,*,/,abs — bit-identical across
the JVM, DuckDB, and Python), so the trained weights and scores are a
pure function of the data, testable against a pure-Python and a
DuckDB chained-CTE replay. That rules out transcendental sigmoids
(Java/C libm differ in ulps); we use the algebraic "fast sigmoid"
``s(m) = 0.5 * (1 + m / (1 + |m|))`` — same monotone S-shape, exact
everywhere.

Spark shape, per epoch (``epochs`` is fixed — no convergence test, so
the computation is deterministic):

1. margins: the (doc, feature-index) pairs join the <= dim+1-row
   weight table (broadcast — it is kilobytes) and sum the integer
   micro-unit weights per doc: ONE map-side-combinable shuffle;
2. per-doc error ``floor((s(m) - y) * 1e6)`` — narrow row-local
   arithmetic;
3. gradient: errors join back onto the pairs and sum per feature
   index: the second shuffle, reduce side bounded by ``dim``;
4. the <= dim+1-row gradient lands on the driver and updates the
   weight vector — the ONLY driver state, exactly like k-means'
   centroid refresh.

Features are binary presence of md5-hashed lowercased whitespace
tokens (``idx = md5_60(token) % dim``) plus a constant bias index —
portable, so every replay derives identical indices. At 100 TB the
corpus-sized costs are the two shuffles per epoch; weights stay
broadcastable for any practical ``dim``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..io import local_frame
from .text import md5_hash60, tokens

MICRO = 1_000_000


def hashed_token_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    dim: int = 4096,
) -> DataFrame:
    """Distinct hashed-token feature indices per document (binary
    bag-of-words), plus the constant bias index ``dim``. Output:
    (id_col, idx). Narrow explode + per-doc distinct."""
    tok = df.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("_t"),
    ).select(
        id_col, (md5_hash60(F.col("_t")) % dim).cast("int").alias("idx")
    ).distinct()
    bias = df.select(id_col, F.lit(dim).cast("int").alias("idx"))
    return tok.unionByName(bias)


def char_ngram_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    dim: int = 4096, n: int = 3,
) -> DataFrame:
    """Distinct hashed character-n-gram feature indices per document
    (binary presence) plus the constant bias index ``dim`` — the
    fastText langid feature recipe (char n-grams beat word tokens for
    language ID because they capture orthography: 'sch', 'ção', 'the').
    Output: (id_col, idx); pure JVM (substring/transform/explode),
    portable hashing (md5_60 % dim) so replays derive identical
    indices. Texts shorter than ``n`` contribute only the bias."""
    txt = F.lower(F.col(text_col))
    grams = F.when(
        F.length(txt) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(txt) - (n - 1)),
            lambda i: txt.substr(i, F.lit(n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tok = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(grams)).alias("_g"),
    ).select(
        id_col, (md5_hash60(F.col("_g")) % dim).cast("int").alias("idx")
    ).distinct()
    bias = df.select(id_col, F.lit(dim).cast("int").alias("idx"))
    return tok.unionByName(bias)


def fast_sigmoid(m):
    """Algebraic squashing ``0.5 * (1 + m / (1 + |m|))`` — maps R to
    (0, 1), monotone, s(0)=0.5; only +,*,/,abs, so it is bit-identical
    on the JVM, DuckDB, and Python."""
    return 0.5 * (1.0 + m / (1.0 + F.abs(m))) if isinstance(m, Column) \
        else 0.5 * (1.0 + m / (1.0 + abs(m)))


def train_text_classifier(
    positive: DataFrame, negative: DataFrame, text_col: str = "text",
    id_col: str = "doc_id", dim: int = 4096, epochs: int = 8,
    lr: float = 4.0, feature_fn=None,
) -> list[int]:
    """Train the reference-vs-corpus quality model: ``positive`` is
    the high-quality reference sample (label 1), ``negative`` the
    corpus sample (label 0). Returns the weight vector as ``dim + 1``
    integer micro-units (last entry = bias), a pure deterministic
    function of the inputs. Gradient-descent step per epoch:
    ``w -= floor(lr/N * sum_docs(err_micro))`` with err in integer
    micro-units — the per-feature sum is the only cross-row float-free
    reduction, so partitioning never changes the result.

    ``feature_fn(df, text_col, id_col, dim) -> (id, idx)`` swaps the
    featureizer (default: hashed word tokens; pass
    :func:`char_ngram_features` for the language-ID recipe)."""
    if feature_fn is None:
        feature_fn = hashed_token_features
    spark = positive.sparkSession
    pos = positive.select(F.col(id_col), F.col(text_col)) \
        .withColumn("_y", F.lit(1.0))
    neg = negative.select(F.col(id_col), F.col(text_col)) \
        .withColumn("_y", F.lit(0.0))
    # disjoint doc keys across the two classes
    docs = pos.withColumn("_k", F.concat(F.lit("p"), F.col(id_col))) \
        .unionByName(
            neg.withColumn("_k", F.concat(F.lit("n"), F.col(id_col))))
    feats = feature_fn(
        docs, text_col, "_k", dim).localCheckpoint(eager=True)
    labels = docs.select("_k", "_y").localCheckpoint(eager=True)
    n_docs = labels.count()
    scale = lr / n_docs  # one double literal, shared with replays
    w = [0] * (dim + 1)
    for _ in range(epochs):
        wdf = local_frame(
            spark, [(i, wi) for i, wi in enumerate(w) if wi != 0] or [(0, 0)],
            "idx int, w bigint",
        )
        margins = (
            feats.join(F.broadcast(wdf), "idx", "left")
            .groupBy("_k")
            .agg((F.sum(F.coalesce("w", F.lit(0)))
                  / F.lit(float(MICRO))).alias("_m"))
        )
        err = labels.join(margins, "_k").select(
            "_k",
            F.floor((fast_sigmoid(F.col("_m")) - F.col("_y"))
                    * MICRO).cast("bigint").alias("_e"),
        )
        grad = (
            feats.join(err, "_k")
            .groupBy("idx").agg(F.sum("_e").alias("_g"))
            .collect()
        )
        for r in grad:
            w[r["idx"]] -= int(_floor(scale * r["_g"]))
    return w


def _floor(x: float) -> int:
    import math

    return int(math.floor(x))


def classifier_score(
    df: DataFrame, weights_micro: list[int], text_col: str = "text",
    id_col: str = "doc_id", feature_fn=None,
) -> DataFrame:
    """Score documents under a trained weight vector: (id_col, score)
    with score = fast_sigmoid(margin) in (0, 1) — higher means more
    reference-like. Weights ride as a broadcast <= dim+1-row table;
    docs with no tokens still score (bias only). Total over input
    ids. ``feature_fn`` must match what the weights were trained
    with."""
    if feature_fn is None:
        feature_fn = hashed_token_features
    dim = len(weights_micro) - 1
    spark = df.sparkSession
    wdf = local_frame(
        spark,
        [(i, wi) for i, wi in enumerate(weights_micro) if wi != 0]
        or [(0, 0)],
        "idx int, w bigint",
    )
    feats = feature_fn(df, text_col, id_col, dim)
    return (
        feats.join(F.broadcast(wdf), "idx", "left")
        .groupBy(id_col)
        .agg((F.sum(F.coalesce("w", F.lit(0)))
              / F.lit(float(MICRO))).alias("_m"))
        .select(
            id_col,
            F.round(fast_sigmoid(F.col("_m")), 6).alias("score"),
        )
    )


def train_lang_classifier(
    samples: DataFrame, text_col: str = "text",
    lang_col: str = "lang", id_col: str = "doc_id",
    dim: int = 1024, epochs: int = 6, lr: float = 4.0, n: int = 3,
) -> dict[str, list[int]]:
    """One-vs-rest language-ID model: for each language in
    ``samples`` (doc_id, text, lang), train the engine-replayable LR
    on char-``n``-gram features, that language's rows vs everyone
    else's. Returns ``{lang: dim+1 integer micro-unit weights}`` — a
    pure deterministic function of the sample, kilobytes total,
    persistable via ``ModelStore.save_lang_lr``. The training sample
    is driver-looped per language (train once, offline); applying the
    model (``ops.text.lang_id(method='lr')``) is one distributed
    scan."""
    langs = sorted(
        r[0] for r in samples.select(lang_col).distinct().collect())
    if len(langs) < 2:
        raise ValueError("need samples from at least 2 languages")

    def feats(df, text_col, id_col, d):
        return char_ngram_features(df, text_col, id_col, d, n=n)

    out = {}
    for lang in langs:
        pos = samples.filter(F.col(lang_col) == lang)
        neg = samples.filter(F.col(lang_col) != lang)
        out[lang] = train_text_classifier(
            pos, neg, text_col, id_col, dim, epochs, lr,
            feature_fn=feats)
    return out


def lang_scores_lr(
    df: DataFrame, models: dict[str, list[int]],
    text_col: str = "text", id_col: str = "doc_id", n: int = 3,
) -> DataFrame:
    """(id_col, pred_lang, score): argmax over the per-language OvR
    scores, deterministic tie-break by language code. One
    classifier_score scan per language unioned, then a single
    max-struct aggregate — every scan is the same narrow feature
    explode, and every per-language weight table is broadcast."""
    if not models:
        raise ValueError("models must map language -> weights")

    def feats(d, text_col, id_col, dm):
        return char_ngram_features(d, text_col, id_col, dm, n=n)

    scored = None
    for i, lang in enumerate(sorted(models)):
        s = classifier_score(
            df, models[lang], text_col, id_col, feature_fn=feats
        ).select(
            id_col, F.lit(lang).alias("_lang"),
            F.col("score"), F.lit(-i).alias("_prio"),
        )
        scored = s if scored is None else scored.unionByName(s)
    best = scored.groupBy(id_col).agg(
        F.max(F.struct("score", "_prio", "_lang")).alias("_b"))
    return best.select(
        id_col,
        F.col("_b._lang").alias("pred_lang"),
        F.col("_b.score").alias("score"),
    )


def quality_filter_lr(
    df: DataFrame, reference: DataFrame = None, min_score: float = 0.5,
    text_col: str = "text", id_col: str = "doc_id", dim: int = 4096,
    epochs: int = 8, lr: float = 4.0,
    weights: list[int] | None = None,
) -> DataFrame:
    """The CCNet-style learned quality stage in one call: train
    reference-vs-corpus, keep documents scoring >= min_score. Pass a
    persisted ``weights`` vector (the payload of a saved 'lr_weights'
    model, models.ModelStore.load) to skip training — fit once,
    filter for weeks."""
    if weights is None:
        if reference is None:
            raise ValueError(
                "quality_filter_lr needs either a reference corpus "
                "to train on or a precomputed weights vector")
        weights = train_text_classifier(reference, df, text_col,
                                        id_col, dim, epochs, lr)
    keep = classifier_score(df, weights, text_col, id_col) \
        .filter(F.col("score") >= min_score).select(id_col)
    return df.join(keep, id_col, "leftsemi")
