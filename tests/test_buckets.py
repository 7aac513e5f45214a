"""Bucketed co-located join: verify the join of two co-bucketed tables
plans without a shuffle Exchange and returns correct results."""

import pyspark.sql.functions as F
import pytest


@pytest.fixture(scope="module")
def bucketed(spark):
    # saveAsTable writes to the session's default warehouse dir
    # (spark-warehouse/ under cwd — gitignored); tables dropped on teardown.
    def write_bucketed(df, name):
        (df.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
         .saveAsTable(name))

    left = spark.range(10000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    right = spark.range(5000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("w")
    )
    write_bucketed(left, "bkt_left")
    write_bucketed(right, "bkt_right")
    yield spark
    spark.sql("DROP TABLE IF EXISTS bkt_left")
    spark.sql("DROP TABLE IF EXISTS bkt_right")


class TestBuckets:
    def test_join_has_no_exchange(self, bucketed):
        spark = bucketed
        # disable broadcast so the join would otherwise shuffle
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("bkt_left").join(
                spark.table("bkt_right"), "k"
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert joined.count() == 5000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_results_correct(self, bucketed):
        spark = bucketed
        joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
        row = joined.agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
        ).first()
        assert row.n == 5000
        assert row.sv == sum(2 * k for k in range(5000))
