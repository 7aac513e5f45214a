"""BM25 ranking (ops/search): DuckDB-oracle parity and ranking sanity."""

from __future__ import annotations

import pytest

from brahmand_spark.ops.search import bm25_oracle_sql, bm25_topk

from .conftest import SF_SMOKE
from .helpers import assert_same


def test_bm25_gate_oracle_parity(spark, duck):
    import __spark_entry__ as entry

    fn = entry.queries()["text_bm25"]
    sql = entry.oracle_sql()["text_bm25"]
    assert_same(fn(spark, SF_SMOKE), duck.sql(sql))


def test_bm25_other_query_parity(spark, duck):
    """A different term set + k, straight through the public API."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    terms = ["hash", "scan", "merge", "window"]
    assert_same(
        bm25_topk(docs, terms, k=35),
        duck.sql(bm25_oracle_sql(terms, k=35)),
    )


def test_bm25_ranks_tf_and_brevity(spark):
    """A doc stuffed with the query term outranks a sparse one; among
    equal tf, the shorter document wins (length normalization)."""
    docs = spark.createDataFrame(
        [
            (1, "spark spark spark spark fast"),
            (2, "spark and a lot of other words about other things here"),
            (3, "spark fast"),
            (4, "nothing relevant at all"),
        ],
        "doc_id long, text string",
    )
    rows = bm25_topk(docs, ["spark"], k=10).collect()
    ranked = [r["doc_id"] for r in sorted(rows, key=lambda r: r["rank"])]
    assert 4 not in ranked  # no match, no row
    assert ranked[0] == 1  # highest tf
    assert ranked.index(3) < ranked.index(2)  # same tf, shorter doc


def test_bm25_tie_break_and_k(spark):
    docs = spark.createDataFrame(
        [(i, "same text here") for i in range(30)],
        "doc_id long, text string",
    )
    rows = bm25_topk(docs, ["same"], k=5).collect()
    assert [r["doc_id"] for r in sorted(rows, key=lambda r: r["rank"])] \
        == [0, 1, 2, 3, 4]


def test_bm25_rejects_empty_query(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        bm25_topk(docs, [])


def test_bm25_topk_plan_is_take_ordered(spark):
    """The corpus-wide top-k must compile to TakeOrderedAndProject —
    not a global sort or a single-partition window over all docs."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = bm25_topk(docs, ["spark"], k=20)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


class TestChunking:
    def test_gate_oracle_parity(self, spark, duck):
        import __spark_entry__ as entry

        fn = entry.queries()["text_chunking"]
        sql = entry.oracle_sql()["text_chunking"]
        assert_same(fn(spark, SF_SMOKE), duck.sql(sql))

    def test_overlap_and_tail(self, spark):
        """10 tokens, size 4, stride 3 -> starts 1,4,7,10; last two
        chunks short; consecutive chunks overlap by size - stride."""
        from brahmand_spark.ops.text import chunk_documents

        docs = spark.createDataFrame(
            [(1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")],
            "doc_id long, text string",
        )
        rows = sorted(
            map(tuple, chunk_documents(docs, 4, 3).collect()),
        )
        assert rows == [
            (1, 0, 4, "t0 t1 t2 t3"),
            (1, 1, 4, "t3 t4 t5 t6"),
            (1, 2, 4, "t6 t7 t8 t9"),
            (1, 3, 1, "t9"),
        ]

    def test_empty_doc_produces_no_chunks(self, spark):
        from brahmand_spark.ops.text import chunk_documents

        docs = spark.createDataFrame(
            [(1, "   "), (2, "one two")], "doc_id long, text string",
        )
        got = chunk_documents(docs, 4, 4).collect()
        assert len(got) == 1 and got[0]["doc_id"] == 2

    def test_no_shuffle_in_plan(self, spark):
        """Chunking must stay a narrow map — no Exchange."""
        from brahmand_spark.ops.text import chunk_documents

        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        plan = chunk_documents(docs)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan

    def test_rejects_bad_params(self, spark):
        from brahmand_spark.ops.text import chunk_documents

        docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError):
            chunk_documents(docs, 0, 4)
