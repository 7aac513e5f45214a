"""Corpus keyword search: inverted-index term statistics and BM25
ranking (Robertson/Sparck Jones; the Lucene-style ``ln(1 + ...)`` idf).

Extension beyond the reference surface (SURVEY.md §2.8): a curation
pipeline over a 100 TB corpus needs cheap relevance scoring — seed-set
expansion ("find documents like these query terms"), quality probes,
eval-set retrieval — without an external search cluster.

Determinism across engines is engineered, not hoped for:

- every float constant is embedded from the same Python literal on
  both sides (Spark plan and DuckDB oracle SQL);
- the only per-row float steps (one ``ln``, two divisions, two
  multiplies) are written with identical association, so both engines
  produce bit-identical doubles;
- per-term scores are FLOORED TO MICRO-UNITS (``floor(s * 1e6)`` as
  bigint) before the per-document sum, making the aggregation
  integer — immune to float summation-order drift between partial
  aggregates — and the final ranking a pure integer sort.

Scale posture: the token explode is filtered to the query's terms
BEFORE the shuffle (per-doc hits only — a q-term query over N docs
shuffles O(matches), not O(tokens)); document-frequency and corpus
stats are tiny aggregates broadcast back; top-k compiles to
TakeOrderedAndProject (no global sort, no single-partition window
over the corpus). No UDFs, no driver collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens


def bm25_topk(df: DataFrame, query_terms: list[str], k: int = 20,
              k1: float = 1.2, b: float = 0.75,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Top-k documents for a bag-of-terms query under BM25.

    Per matched term: ``idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))``
    with ``idf(t) = ln(1 + (N - df_t + 0.5)/(df_t + 0.5))``; per-term
    scores are floored to micro-units and summed as integers (see
    module docstring). Ties rank by ascending id.

    Columns: ``id_col, bm25, n_terms_matched, rank``.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})
    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(F.col(id_col), toks.alias("toks")) \
             .withColumn("dl", F.size("toks"))
    # filter INSIDE the array before exploding: only query-term tokens
    # reach the (id, term) shuffle
    hits = base.select(
        id_col, "dl",
        F.explode(F.filter(F.col("toks"), lambda x: x.isin(terms)))
        .alias("term"),
    )
    tf = hits.groupBy(id_col, "term", "dl").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dft"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    joined = tf.join(F.broadcast(dfreq), "term") \
               .crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("dft") + F.lit(0.5))
        / (F.col("dft") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl
    )
    s_int = F.floor(
        idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom * F.lit(1e6)
    ).cast("bigint")
    per_doc = joined.groupBy(id_col).agg(
        F.sum(s_int).alias("score_int"),
        F.count(F.lit(1)).alias("n_terms_matched"),
    )
    topk = per_doc.orderBy(
        F.col("score_int").desc(), F.col(id_col).asc()
    ).limit(k)
    # rank window runs over the k surviving rows only — fine on one
    # partition; the corpus-wide ordering above is TakeOrderedAndProject
    w = Window.orderBy(F.col("score_int").desc(), F.col(id_col).asc())
    return topk.select(
        id_col,
        F.round(F.col("score_int") / F.lit(1e6), 4).alias("bm25"),
        "n_terms_matched",
        F.row_number().over(w).alias("rank"),
    )


def bm25_oracle_sql(query_terms: list[str], k: int = 20,
                    k1: float = 1.2, b: float = 0.75,
                    table: str = "documents", text_col: str = "text",
                    id_col: str = "doc_id") -> str:
    """DuckDB replay of :func:`bm25_topk` — same float literals
    (``repr``-embedded), same association, same integer micro-unit
    fold, so scores hash-match."""
    terms = sorted({t.lower() for t in query_terms})
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
        WITH sized AS (
            SELECT {id_col},
                   list_filter(string_split_regex(lower({text_col}),
                               '\\s+'), x -> x <> '') AS toks
            FROM {table}),
        based AS (SELECT {id_col}, toks, len(toks) AS dl FROM sized),
        stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM based),
        hits AS (
            SELECT {id_col}, dl,
                   unnest(list_filter(toks, x -> x IN ({in_list}))) AS term
            FROM based),
        tf AS (SELECT {id_col}, term, dl, count(*) AS tf
               FROM hits GROUP BY 1, 2, 3),
        dfreq AS (SELECT term, count(*) AS dft FROM tf GROUP BY 1),
        scored AS (
            SELECT {id_col},
                   floor(ln(1.0 + (n_docs - dft + 0.5) / (dft + 0.5))
                         * (tf * {k1 + 1.0!r})
                         / (tf + {k1!r} * ({1.0 - b!r}
                                           + {b!r} * dl
                                           / (sum_dl::DOUBLE / n_docs)))
                         * 1000000.0)::BIGINT AS s_int
            FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
        per_doc AS (
            SELECT {id_col}, sum(s_int) AS score_int,
                   count(*) AS n_terms_matched
            FROM scored GROUP BY 1),
        topk AS (SELECT * FROM per_doc
                 ORDER BY score_int DESC, {id_col} ASC LIMIT {k})
        SELECT {id_col}, round(score_int / 1000000.0, 4) AS bm25,
               n_terms_matched,
               row_number() OVER (ORDER BY score_int DESC, {id_col} ASC)
                   AS rank
        FROM topk"""
