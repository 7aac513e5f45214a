"""Two-phase-agg equivalence tests (the skew utility must be
result-identical to its plain counterpart)."""

import pyspark.sql.functions as F


def _skewed_df(spark):
    # one hot key (0) with 5k rows, 50 cold keys with 10 each
    hot = spark.range(5000).select(
        F.lit(0).alias("k"), (F.col("id") % 97).alias("v")
    )
    cold = spark.range(500).select(
        (F.col("id") % 50 + 1).alias("k"), (F.col("id") % 31).alias("v")
    )
    return hot.unionByName(cold)


class TestSkew:
    def test_two_phase_agg_matches_plain(self, spark):
        df = _skewed_df(spark)
        plain = df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("sv"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        from brahmand_spark.ops.skew import two_phase_agg

        tp = two_phase_agg(
            df, ["k"],
            {"n": "count", "sv": "sum:v", "mn": "min:v", "mx": "max:v"},
            factor=4,
        )
        assert sorted(map(tuple, plain.collect())) == \
            sorted(map(tuple, tp.collect()))

    def test_two_phase_collect_set(self, spark):
        df = _skewed_df(spark)
        from brahmand_spark.ops.skew import two_phase_agg

        tp = two_phase_agg(df, ["k"], {"vals": "collect_set:v"}, factor=4)
        plain = df.groupBy("k").agg(F.collect_set("v").alias("vals"))
        tp_map = {r.k: sorted(r.vals) for r in tp.collect()}
        plain_map = {r.k: sorted(r.vals) for r in plain.collect()}
        assert tp_map == plain_map
