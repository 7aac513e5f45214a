"""Text-analysis operators for large-scale training-data pipelines.

Extensions beyond the reference surface (SURVEY.md §2.8): language-ID,
quality scoring, token counting, document fingerprinting. Every operator
is a pure ``DataFrame -> DataFrame`` transform built from JVM-side
``pyspark.sql.functions`` only — no Python UDFs — so they stay inside
whole-stage codegen and scale linearly with executors (narrow, per-row
transforms: no shuffle at all).

Each operator has an exact ANSI-SQL equivalent (see
``__spark_entry__.oracle_sql``) so results hash-match a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Deterministic stopword marker sets for the language-ID heuristic.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "fr": ["le", "la", "les", "et", "est"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "los", "las", "es", "y"],
}

EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by",
]


def tokens(col: Column) -> Column:
    """Whitespace tokenization with empty-string removal (matches DuckDB
    ``list_filter(string_split_regex(text,'\\s+'), x -> x <> '')``)."""
    return F.filter(F.split(col, r"\s+"), lambda x: x != F.lit(""))


def token_count(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count + BPE-ish subword estimate (a char-class
    regex count approximating byte-pair segmentation: runs of letters,
    digits, or single punctuation)."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.size(tokens(t)).alias("n_tokens"),
        F.regexp_count(t, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))
        .alias("n_subwords"),
        F.length(t).alias("n_chars_computed"),
    )


def quality_score(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Heuristic document-quality features + composite score:
    length, mean token length, punctuation ratio, stopword ratio,
    alpha ratio. Integer counts + rounded ratios -> engine-portable."""
    t = F.col(text_col)
    n_chars = F.length(t)
    toks = tokens(t)
    n_tokens = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    n_alpha = n_chars - F.length(F.regexp_replace(t, r"[A-Za-z]", ""))
    n_stop = F.size(F.filter(toks, lambda x: F.lower(x).isin(EN_STOPWORDS)))
    safe_tokens = F.greatest(n_tokens, F.lit(1))
    safe_chars = F.greatest(n_chars, F.lit(1))
    mean_tok_len = F.round(
        (n_chars - n_tokens + 1).cast("double") / safe_tokens, 4
    )
    punct_ratio = F.round(n_punct.cast("double") / safe_chars, 4)
    alpha_ratio = F.round(n_alpha.cast("double") / safe_chars, 4)
    stop_ratio = F.round(n_stop.cast("double") / safe_tokens, 4)
    score = F.round(
        F.when(n_tokens < 5, F.lit(0.0)).otherwise(
            0.4 * stop_ratio + 0.4 * alpha_ratio + 0.2
            * F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0))
        ), 4,
    )
    return df.select(
        F.col(id_col), n_chars.alias("n_chars_c"),
        n_tokens.alias("n_tokens"), mean_tok_len.alias("mean_token_len"),
        punct_ratio.alias("punct_ratio"), alpha_ratio.alias("alpha_ratio"),
        stop_ratio.alias("stopword_ratio"), score.alias("quality"),
    )


def lang_id(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id", method: str = "markers",
            models: dict | None = None, n: int = 3) -> DataFrame:
    """Language ID. ``method='markers'`` (default): count marker-word
    hits per language; argmax with deterministic tie-break (marker
    count desc, then language code asc); 'und' when nothing matches.
    Columns: (id, pred_lang, marker_hits).

    ``method='lr'`` (r7 upgrade): a TRAINED one-vs-rest logistic
    regression over hashed char-``n``-gram features — the
    fastText-langid recipe on the engine-replayable LR trainer. Pass
    ``models`` = ``{lang: weights}`` from
    ``ops.classifier.train_lang_classifier`` (persist/reload via
    ``ModelStore.save_lang_lr``); ``n`` MUST match the training
    n-gram width (persisted in the model's params — mismatched grams
    hash to different indices and score as noise). Columns:
    (id, pred_lang, score)."""
    if method == "lr":
        from .classifier import lang_scores_lr

        if models is None:
            raise ValueError(
                "lang_id(method='lr') needs models= from "
                "train_lang_classifier (or a saved 'lang_lr' model's "
                "ModelStore.load payload)")
        return lang_scores_lr(df, models, text_col, id_col, n=n)
    if method != "markers":
        raise ValueError("method must be 'markers' or 'lr'")
    toks = tokens(F.lower(F.col(text_col)))

    def marker_count(markers: list[str]) -> Column:
        # NB: the filter lambda must take exactly one parameter — PySpark
        # treats a second parameter (even defaulted) as the index arg.
        return F.size(F.filter(toks, lambda x: x.isin(markers)))

    counts = {
        lang: marker_count(markers)
        for lang, markers in LANG_MARKERS.items()
    }
    # struct-max trick: max over (count, reverse-alphabetic lang) structs
    pairs = F.array(*[
        F.struct(
            counts[lang].alias("n"),
            F.lit(-i).alias("prio"),  # earlier langs win ties
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(sorted(LANG_MARKERS))
    ])
    best = F.array_max(pairs)
    return df.select(
        F.col(id_col),
        F.when(best["n"] > 0, best["lang"]).otherwise(F.lit("und"))
        .alias("pred_lang"),
        best["n"].alias("marker_hits"),
    )


# (pattern, replacement) chain for PII scrubbing — deliberately simple,
# deterministic regexes (emails, phone-ish number runs, IPv4, SSN-like)
# so the transform is reproducible and expressible in any engine's
# regexp_replace. Order matters: emails before phone-ish digit runs.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
]


def redact_pii(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id",
               out_col: str = "text_redacted") -> DataFrame:
    """Scrub common PII shapes with a fixed regexp_replace chain — a
    narrow JVM projection (no shuffle, no UDFs) that runs at scan speed.
    Emits the redacted text plus a per-document replacement count (the
    audit signal a curation pipeline thresholds on)."""
    # count each pattern against the progressively-redacted text so an
    # overlapping shape (an IPv4 is also phone-ish) counts once, under
    # the pattern that actually redacted it
    redacted = F.col(text_col)
    n_hits = F.lit(0)
    for pat, rep in PII_PATTERNS:
        n_hits = n_hits + F.regexp_count(redacted, F.lit(pat))
        redacted = F.regexp_replace(redacted, pat, rep)
    return df.select(
        F.col(id_col), redacted.alias(out_col),
        n_hits.alias("n_pii_hits"),
    )


def md5_hash60(col: Column) -> Column:
    """Engine-portable 60-bit hash: the first 15 hex chars of md5 as a
    bigint. Fully codegen'd on Spark (one ``md5`` + ``conv`` per value);
    DuckDB replays it exactly via its own ``md5`` + a 15-step hex fold.
    This is the fast portable hash for the per-shingle/per-token hot
    paths: one native call per value, where a per-character polynomial
    fold runs O(len) interpreted JVM lambda steps (the minhash/simhash
    portable gates dropped ~4x in wall time when they switched)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def chunk_documents(df: DataFrame, chunk_size: int = 64,
                    stride: int = 48, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Fixed token-window chunking with overlap — the pre-tokenizer
    splitting step of a training-data pipeline (documents -> model-
    context-sized sequences, ``stride < chunk_size`` giving the usual
    sliding overlap so no boundary context is lost).

    One chunk starts at every ``stride``-th token position; the final
    chunk may be shorter. Zero-token documents produce no chunks.
    Columns: ``id_col, chunk_idx, n_chunk_tokens, chunk_text``.

    Scale posture: a narrow per-row explode (fan-out ~n_tokens/stride)
    with NO shuffle — at 100 TB this runs at scan speed and the output
    partitioning inherits the input's. Pure JVM higher-order functions
    (sequence/slice/posexplode), no Python in the row path.
    """
    if chunk_size < 1 or stride < 1:
        raise ValueError("chunk_size and stride must be >= 1")
    base = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") >= 1)
    )
    starts = base.select(
        id_col, "toks",
        F.posexplode(
            F.sequence(F.lit(1), F.col("n"), F.lit(stride))
        ).alias("chunk_idx", "start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start"), F.lit(chunk_size))
    return starts.select(
        F.col(id_col), F.col("chunk_idx"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def repetition_signals(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Gopher-style within-document repetition filters (Rae et al.
    2021, "Scaling Language Models" — the standard quality gates a
    large-scale training-data pipeline applies before dedup):

    - ``dup_line_frac``: fraction of lines occurring more than once.
    - ``dup_line_char_frac``: fraction of characters sitting in
      duplicated lines (long boilerplate weighs more than short).
    - ``top_bigram_char_frac``: fraction of characters covered by the
      single most frequent word 2-gram — catches "foo bar foo bar ..."
      repetition that line-level checks miss.

    Everything is per-row array arithmetic (split -> higher-order
    functions): ZERO shuffles and no Python — at 100 TB this is a
    narrow map over the corpus scan. Duplicate detection runs as a
    SORTED RUN-LENGTH aggregate (array_sort + one linear fold), so the
    per-doc cost is O(n log n) in lines/bigrams, not the naive O(n^2)
    occurrence count. Typical thresholds (Gopher): drop docs with
    dup_line_frac > 0.30, dup_line_char_frac > 0.20,
    top_bigram_char_frac > 0.18."""
    lines = F.filter(
        F.split(F.col(text_col), "\n"),
        lambda ln: F.length(F.trim(ln)) > 0,
    )
    n_lines = F.size(lines)
    n_chars = F.greatest(
        F.aggregate(lines, F.lit(0), lambda a, ln: a + F.length(ln)),
        F.lit(1),
    )

    # One linear fold over the sorted lines, tracking the current run:
    # a run of length r contributes r duplicated items (counted 2 at
    # run==2, then 1 per extension). prev='' can never match (empty
    # lines are filtered out above).
    def line_step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        add_n = (F.when(run == 2, F.lit(2))
                 .when(run > 2, F.lit(1)).otherwise(F.lit(0)))
        add_c = (F.when(run == 2, F.length(x) * 2)
                 .when(run > 2, F.length(x)).otherwise(F.lit(0)))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            (acc["dup_n"] + add_n).alias("dup_n"),
            (acc["dup_chars"] + add_c).alias("dup_chars"),
        )

    line_zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"),
        F.lit(0).alias("dup_n"), F.lit(0).alias("dup_chars"),
    )
    line_stats = F.aggregate(F.array_sort(lines), line_zero, line_step)

    dup_line_frac = F.when(n_lines <= 0, F.lit(0.0)).otherwise(
        line_stats["dup_n"] / n_lines.cast("double")
    )
    dup_line_char_frac = (
        line_stats["dup_chars"] / n_chars.cast("double")
    )

    toks = tokens(F.col(text_col))
    k = F.size(toks) - F.lit(1)
    bigrams = F.when(k >= 1, F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
    )).otherwise(F.array().cast("array<string>"))

    # chars covered by the most frequent bigram = max over runs of
    # run_length * len(bigram) (word chars incl. the joining space, an
    # upper bound on coverage for overlapping repeats)
    def bigram_step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run * F.length(x)).alias("best"),
        )

    bigram_zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )
    top_bigram_chars = F.aggregate(
        F.array_sort(bigrams), bigram_zero, bigram_step
    )["best"]
    top_bigram_char_frac = (
        top_bigram_chars
        / F.greatest(F.length(F.col(text_col)), F.lit(1)).cast("double")
    )

    return df.select(
        F.col(id_col),
        F.round(dup_line_frac, 6).alias("dup_line_frac"),
        F.round(dup_line_char_frac, 6).alias("dup_line_char_frac"),
        F.round(top_bigram_char_frac, 6).alias("top_bigram_char_frac"),
    )
