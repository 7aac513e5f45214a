"""Corpus profiler (ops/profile.py): DuckDB parity for the exact
profile and the histogram, sketch error bound for the approx-distinct
default, and the one-job plan shape."""

import pyspark.sql.functions as F

from brahmand_spark.ops.profile import numeric_histogram, profile_corpus

from .conftest import SF_SMOKE
from .helpers import assert_same


class TestProfile:
    def test_exact_profile_matches_duckdb(self, spark, duck):
        ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet") \
            .select("event_id", "user_id", "event_type", "value")
        got = profile_corpus(ev, exact_distinct=True)
        want = duck.sql("""
            WITH m AS (
                SELECT 'event_id' AS column, 'bigint' AS dtype,
                       count(event_id) AS n,
                       count(*) - count(event_id) AS n_null,
                       count(DISTINCT event_id) AS n_distinct,
                       min(event_id)::VARCHAR AS min,
                       max(event_id)::VARCHAR AS max,
                       round(avg(event_id), 6) AS mean,
                       round(stddev_samp(event_id), 6) AS stddev,
                       NULL::DOUBLE AS avg_len
                FROM events
                UNION ALL
                SELECT 'user_id', 'bigint', count(user_id),
                       count(*) - count(user_id),
                       count(DISTINCT user_id),
                       min(user_id)::VARCHAR, max(user_id)::VARCHAR,
                       round(avg(user_id), 6),
                       round(stddev_samp(user_id), 6), NULL
                FROM events
                UNION ALL
                SELECT 'event_type', 'string', count(event_type),
                       count(*) - count(event_type),
                       count(DISTINCT event_type),
                       min(event_type), max(event_type),
                       NULL, NULL,
                       round(avg(length(event_type)), 6)
                FROM events
                UNION ALL
                SELECT 'value', 'double', count(value),
                       count(*) - count(value),
                       count(DISTINCT value),
                       min(value)::VARCHAR, max(value)::VARCHAR,
                       round(avg(value), 6),
                       round(stddev_samp(value), 6), NULL
                FROM events)
            SELECT * FROM m""")
        assert_same(got, want)

    def test_approx_distinct_within_sketch_error(self, spark):
        ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        prof = {r["column"]: r for r in profile_corpus(
            ev.select("event_id", "user_id")).collect()}
        exact = {r["column"]: r["n_distinct"] for r in profile_corpus(
            ev.select("event_id", "user_id"),
            exact_distinct=True).collect()}
        for c in ("event_id", "user_id"):
            got, want = prof[c]["n_distinct"], exact[c]
            assert abs(got - want) <= max(0.1 * want, 2), (c, got, want)

    def test_single_aggregate_job(self, spark):
        """The whole profile is one aggregation — exactly one Exchange
        (partial -> final hash aggregate), however many columns."""
        ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        plan = profile_corpus(ev.select("event_id", "value", "props")) \
            ._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan


class TestHistogram:
    def test_matches_duckdb(self, spark, duck):
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        got = numeric_histogram(li, "l_extendedprice", bins=10,
                                bounds=(900.0, 105000.0))
        w = (105000.0 - 900.0) / 10
        want = duck.sql(f"""
            SELECT bin, 900.0 + bin * {w} AS lo,
                   900.0 + (bin + 1) * {w} AS hi, count(*) AS n
            FROM (SELECT least(floor((l_extendedprice - 900.0) / {w})::INT,
                              9) AS bin
                  FROM lineitem WHERE l_extendedprice IS NOT NULL)
            GROUP BY bin""")
        assert_same(got, want)

    def test_counts_cover_all_rows(self, spark):
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        h = numeric_histogram(li, "l_quantity", bins=7)
        assert h.agg(F.sum("n")).first()[0] == li.count()
        assert h.count() <= 7


class TestHistogramEdgeCases:
    def test_all_null_column_yields_empty(self, spark):
        df = spark.createDataFrame([(None,), (None,)], "x int")
        assert numeric_histogram(df, "x", bins=4).count() == 0

    def test_narrow_caller_bounds_clamp_both_ends(self, spark):
        """Caller bounds narrower than the data: values below lo land
        in bin 0 (not a negative bin), values above hi in bins-1."""
        df = spark.createDataFrame([(v,) for v in range(-5, 15)],
                                   "x int")
        rows = {r["bin"]: r["n"] for r in numeric_histogram(
            df, "x", bins=4, bounds=(0.0, 8.0)).collect()}
        assert set(rows) <= {0, 1, 2, 3}
        assert min(rows) == 0 and max(rows) == 3
        assert sum(rows.values()) == 20
        assert rows[0] >= 5 + 2  # the 5 underflow values fold into bin 0
        assert rows[3] >= 6      # 9..14 fold into the last bin
