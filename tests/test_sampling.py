"""Sampling / mixture / decontamination primitives: deterministic,
partition-independent, oracle-checked where SQL can express them."""

from __future__ import annotations

from pyspark.sql import functions as F

from .conftest import SF_SMOKE


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


class TestDeterministicSplit:
    def test_disjoint_exhaustive_and_stable(self, spark):
        from brahmand_spark.ops.sampling import deterministic_split

        docs = _docs(spark)
        out = deterministic_split(
            docs, {"train": 0.8, "val": 0.1, "test": 0.1})
        counts = {r["split"]: r["count"]
                  for r in out.groupBy("split").count().collect()}
        n = docs.count()
        assert sum(counts.values()) == n  # exhaustive, disjoint
        assert abs(counts["train"] / n - 0.8) < 0.06
        # repartitioning must not change any row's split
        again = deterministic_split(
            docs.repartition(7), {"train": 0.8, "val": 0.1, "test": 0.1})
        assert out.select("doc_id", "split").exceptAll(
            again.select("doc_id", "split")).count() == 0

    def test_membership_stable_under_corpus_growth(self, spark):
        from brahmand_spark.ops.sampling import deterministic_split

        docs = _docs(spark)
        half = docs.filter(F.col("doc_id") < 250)
        full = deterministic_split(docs, {"a": 0.5, "b": 0.5})
        part = deterministic_split(half, {"a": 0.5, "b": 0.5})
        joined = (full.select("doc_id", F.col("split").alias("s1"))
                  .join(part.select("doc_id", F.col("split").alias("s2")),
                        "doc_id"))
        assert joined.filter(F.col("s1") != F.col("s2")).count() == 0


class TestCrossCorpusOverlap:
    def test_flags_contaminated_pairs_vs_oracle(self, spark, duck):
        from brahmand_spark.ops.dedup import cross_corpus_overlap

        from .helpers import assert_same

        docs = _docs(spark)
        train = docs.filter(F.col("doc_id") < 400)
        evalb = docs.filter(F.col("doc_id") >= 400)
        got = cross_corpus_overlap(train, evalb, n=3, min_shared=2)
        assert_same(got, duck.sql(r"""
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\s+'),
                                   x -> x <> '') AS t
                FROM documents),
            sh AS (
                SELECT doc_id,
                       unnest(list_distinct(list_transform(
                           range(1, len(t) - 1),
                           i -> array_to_string(t[i:i+2], ' ')))) AS shingle
                FROM toks)
            SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
                   count(*) AS n_shared
            FROM sh a JOIN sh b ON a.shingle = b.shingle
            WHERE a.doc_id < 400 AND b.doc_id >= 400
            GROUP BY 1, 2 HAVING count(*) >= 2"""))


class TestDecontaminate:
    def test_verdict_table_vs_oracle(self, spark, duck):
        """decontaminate = cross_corpus_overlap folded to one verdict
        row per train doc (clean docs included, contaminated=false) —
        the GPT-3-style drop-list. Full DuckDB replay."""
        from brahmand_spark.ops.dedup import decontaminate

        from .helpers import assert_same

        docs = _docs(spark)
        train = docs.filter(F.col("doc_id") < 400)
        evalb = docs.filter(F.col("doc_id") >= 400)
        got = decontaminate(train, evalb, n=3, min_shared=2)
        assert_same(got, duck.sql(r"""
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\s+'),
                                   x -> x <> '') AS t
                FROM documents),
            sh AS (
                SELECT doc_id,
                       unnest(list_distinct(list_transform(
                           range(1, len(t) - 1),
                           i -> array_to_string(t[i:i+2], ' ')))) AS shingle
                FROM toks),
            overlap AS (
                SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
                       count(*) AS n_shared
                FROM sh a JOIN sh b ON a.shingle = b.shingle
                WHERE a.doc_id < 400 AND b.doc_id >= 400
                GROUP BY 1, 2 HAVING count(*) >= 2),
            per_doc AS (
                SELECT train_id, count(*) AS n_eval_docs,
                       max(n_shared) AS max_shared
                FROM overlap GROUP BY train_id)
            SELECT d.doc_id,
                   coalesce(p.n_eval_docs, 0)::BIGINT AS n_eval_docs,
                   coalesce(p.max_shared, 0)::BIGINT AS max_shared,
                   coalesce(p.n_eval_docs, 0) > 0 AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id < 400) d
            LEFT JOIN per_doc p ON p.train_id = d.doc_id"""))
        # both verdicts occur on the fixture
        kinds = {r["contaminated"] for r in got.collect()}
        assert kinds == {True, False}

    def test_call_surface(self, spark, duck, tmp_path):
        from brahmand_spark import GraphSession
        from brahmand_spark.ops.dedup import decontaminate

        docs = _docs(spark)
        s = GraphSession(spark, models_path=str(tmp_path / "m"))
        for lbl, df in (("Train", docs.filter(F.col("doc_id") < 400)),
                        ("Bench", docs.filter(F.col("doc_id") >= 400))):
            s.execute(f"CREATE NODE TABLE {lbl} (doc_id Int64, "
                      "text String, NODE ID (doc_id))")
            s.register_table(lbl, df)
        got = sorted(map(tuple, s.execute(
            "CALL corpus.decontaminate('Train', 'Bench', 3, 2) "
            "YIELD doc_id, n_eval_docs, max_shared, contaminated"
        ).collect()))
        want = sorted(map(tuple, decontaminate(
            docs.filter(F.col("doc_id") < 400),
            docs.filter(F.col("doc_id") >= 400),
            n=3, min_shared=2).collect()))
        assert got == want and len(got) > 0
