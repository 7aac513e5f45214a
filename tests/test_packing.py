"""Sequence packing (ops/packing.py): greedy token-budget bin packing.

Checks the greedy dynamics exactly on a hand-built corpus, the
atomicity/oversize rules, and the determinism guarantee (output is a
pure function of the data — stable under input repartitioning)."""

import pyspark.sql.functions as F

from brahmand_spark.ops.packing import pack_sequences


def _counts(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, n_tokens bigint")


class TestPackSequences:
    def test_greedy_exact(self, spark):
        # one bucket (n_buckets=1): ids scan in order. budget 10:
        # 4+3 fit (seq0), +5 overflows -> seq1, 5+2 fit, +9 -> seq2
        rows = [(1, 4), (2, 3), (3, 5), (4, 2), (5, 9)]
        out = {
            r["doc_id"]: (r["seq_id"], r["seq_offset"])
            for r in pack_sequences(
                _counts(spark, rows), budget=10, n_buckets=1
            ).collect()
        }
        assert out == {1: (0, 0), 2: (0, 4), 3: (1, 0), 4: (1, 5),
                       5: (2, 0)}

    def test_oversized_doc_gets_own_sequence(self, spark):
        # doc 2 (25 tokens) exceeds budget 10: placed alone, never
        # split; the packer moves on to a fresh sequence after it
        rows = [(1, 6), (2, 25), (3, 6), (4, 3)]
        out = {
            r["doc_id"]: (r["seq_id"], r["seq_offset"])
            for r in pack_sequences(
                _counts(spark, rows), budget=10, n_buckets=1
            ).collect()
        }
        assert out == {1: (0, 0), 2: (1, 0), 3: (2, 0), 4: (2, 6)}

    def test_buckets_partition_ids(self, spark):
        rows = [(i, 5) for i in range(40)]
        out = pack_sequences(_counts(spark, rows), budget=100,
                             n_buckets=4)
        got = out.select(
            "doc_id", "bucket",
            (F.col("doc_id") % 4).cast("int").alias("want"),
        ).filter(F.col("bucket") != F.col("want"))
        assert got.count() == 0

    def test_deterministic_under_repartition(self, spark):
        rows = [(i, (i * 7) % 23 + 1) for i in range(200)]
        df = _counts(spark, rows)
        a = pack_sequences(df, budget=64, n_buckets=8) \
            .orderBy("doc_id").collect()
        b = pack_sequences(df.repartition(13), budget=64, n_buckets=8) \
            .orderBy("doc_id").collect()
        assert a == b

    def test_no_sequence_overflows_budget(self, spark):
        rows = [(i, (i * 13) % 40 + 1) for i in range(300)]
        packed = pack_sequences(_counts(spark, rows), budget=50,
                                n_buckets=4)
        fills = packed.groupBy("bucket", "seq_id").agg(
            F.sum("n_tokens").alias("fill"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        # a multi-doc sequence never exceeds the budget; only a
        # singleton oversized doc may
        bad = fills.filter(
            (F.col("fill") > 50) & (F.col("n_docs") > 1)
        )
        assert bad.count() == 0
