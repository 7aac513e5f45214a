"""HyperLogLog and count-min sketches (ops/sketches): DuckDB-oracle
parity, accuracy bounds, branch coverage (linear-counting vs raw
estimator), and the merge property an incremental corpus pipeline
relies on."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from brahmand_spark.ops.sketches import (
    cms_cell_rows,
    cms_estimate,
    hll_distinct,
    hll_distinct_with_exact,
    hll_estimate,
    hll_registers,
)

from .conftest import SF_SMOKE
from .helpers import assert_same


def test_hll_gate_oracle_parity(spark, duck):
    """The same comparison the driver runs at sf0.01, at sf0.001 —
    sf0.001 lineitem has ~1.5k distinct orderkeys per group, so this
    exercises the linear-counting branch (sf0.01 exercises raw)."""
    import __spark_entry__ as entry

    fn = entry.queries()["sketch_hll_distinct"]
    sql = entry.oracle_sql()["sketch_hll_distinct"]
    assert_same(fn(spark, SF_SMOKE), duck.sql(sql))


def test_hll_raw_branch_parity_and_accuracy(spark, duck):
    """50k distinct synthetic values force E_raw > 2.5m (raw branch,
    no linear counting) — replay in DuckDB over the same range and
    check the estimate lands within the ~3.25/sqrt(m) HLL error bound
    (3 sigma ~ 10% at m=1024)."""
    n = 50_000
    df = spark.range(n).select(F.col("id").alias("v"))
    est = hll_distinct(df, "v", p=10)
    import __spark_entry__ as entry

    h = entry._md5h60_sql("v::VARCHAR")
    numer = 0.7213 / (1.0 + 1.079 / 1024) * 1024 * 1024 * float(1 << 51)
    sql = f"""
        WITH hashed AS (
            SELECT {h} AS h FROM (SELECT unnest(range({n})) AS v)),
        rows_rho AS (
            SELECT h % 1024 AS bucket,
                   CASE WHEN (h >> 10) = 0 THEN 51
                        ELSE 50 - length(bin(h >> 10)) + 1 END AS rho
            FROM hashed),
        reg AS (SELECT bucket, max(rho) AS max_rho FROM rows_rho GROUP BY 1),
        agg AS (SELECT count(*) AS n_present,
                       sum(1::BIGINT << (51 - max_rho)) AS s_present
                FROM reg),
        est AS (SELECT n_present,
                       {numer!r} / (s_present
                           + (1024 - n_present) * {1 << 51})::DOUBLE AS e_raw,
                       1024 - n_present AS v FROM agg)
        SELECT n_present AS n_registers,
               round(CASE WHEN e_raw <= 2560.0 AND v > 0
                          THEN 1024.0 * ln(1024.0 / v)
                          ELSE e_raw END, 4) AS hll_estimate
        FROM est"""
    assert_same(est, duck.sql(sql))
    got = est.collect()[0]["hll_estimate"]
    assert abs(got - n) / n < 3.25 / math.sqrt(1024), got


def test_hll_small_range_branch_exact_ish(spark):
    """Tiny cardinalities hit linear counting, which is near-exact
    when n << m."""
    df = spark.range(100).select((F.col("id") * 7).alias("v"))
    got = hll_distinct(df, "v", p=10).collect()[0]["hll_estimate"]
    assert abs(got - 100) <= 8, got


def test_hll_registers_merge_across_increments(spark):
    """union + re-max of two increments' registers == registers of the
    whole corpus — the mergeability an incremental pipeline needs (and
    what Spark's opaque approx_count_distinct state can't give you)."""
    df = spark.range(20_000).select(F.col("id").alias("v"))
    half_a = df.filter(F.col("v") < 12_000)
    half_b = df.filter(F.col("v") >= 9_000)  # overlapping increments
    merged = (
        hll_registers(half_a, "v", p=10)
        .unionByName(hll_registers(half_b, "v", p=10))
        .groupBy("bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    whole = hll_registers(df, "v", p=10)
    a = hll_estimate(merged, p=10).collect()[0]
    b = hll_estimate(whole, p=10).collect()[0]
    assert a["n_registers"] == b["n_registers"]
    assert a["hll_estimate"] == b["hll_estimate"]


def test_hll_grouped_with_exact_rel_err(spark):
    """Grouped estimates stay within the error bound at m=1024 and the
    convenience join reports the matching exact counts."""
    df = spark.range(30_000).select(
        (F.col("id") % 3).alias("g"), (F.col("id")).alias("v")
    )
    rows = {
        r["g"]: r
        for r in hll_distinct_with_exact(df, "v", ["g"], p=10).collect()
    }
    assert set(rows) == {0, 1, 2}
    for g, r in rows.items():
        assert r["exact_distinct"] == 10_000
        assert r["rel_err"] < 3.25 / math.sqrt(1024)


def test_hll_rejects_bad_precision(spark):
    df = spark.range(10).select(F.col("id").alias("v"))
    with pytest.raises(ValueError):
        hll_registers(df, "v", p=2)


def _cms_cells(df, value_col, depth=4, width=1024, seed=42):
    """One count per non-empty (row, bucket) cell — the sketch table
    cms_estimate point-queries."""
    return (
        df.select(cms_cell_rows(value_col, depth, width, seed))
        .groupBy(F.col("rb.row").alias("row"),
                 F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


class TestCountMin:
    def test_gate_oracle_parity(self, spark, duck):
        import __spark_entry__ as entry

        fn = entry.queries()["sketch_cms_topk"]
        sql = entry.oracle_sql()["sketch_cms_topk"]
        assert_same(fn(spark, SF_SMOKE), duck.sql(sql))

    def test_never_underestimates_and_tight_when_wide(self, spark):
        from brahmand_spark.ops.sketches import cms_heavy_hitters

        vals = spark.createDataFrame(
            [(f"tok{i % 7}",) for i in range(700)], "v string"
        )
        narrow = {r["v"]: r for r in
                  cms_heavy_hitters(vals, "v", k=7, width=4).collect()}
        for v, r in narrow.items():
            assert r["cms_estimate"] >= r["exact_count"]
        wide = {r["v"]: r for r in
                cms_heavy_hitters(vals, "v", k=7, width=4096).collect()}
        assert all(r["cms_estimate"] == r["exact_count"] == 100
                   for r in wide.values())

    def test_sketch_merges_across_increments(self, spark):
        """union + re-sum of two increments' cells == whole-corpus
        sketch, so estimates agree — the incremental-pipeline
        contract."""
        rows = [(f"t{i % 13}",) for i in range(520)]
        df = spark.createDataFrame(rows, "v string")
        half_a = spark.createDataFrame(rows[:200], "v string")
        half_b = spark.createDataFrame(rows[200:], "v string")
        merged = (
            _cms_cells(half_a, "v").unionByName(_cms_cells(half_b, "v"))
            .groupBy("row", "bucket").agg(F.sum("c").alias("c"))
        )
        items = df.select("v").distinct()
        a = sorted(map(tuple, cms_estimate(merged, items, "v").collect()))
        b = sorted(map(tuple, cms_estimate(
            _cms_cells(df, "v"), items, "v").collect()))
        assert a == b

    def test_absent_value_estimates_zero_when_no_collision(self, spark):
        df = spark.createDataFrame([("a",), ("a",)], "v string")
        items = spark.createDataFrame([("zzz-absent",)], "v string")
        got = cms_estimate(_cms_cells(df, "v", width=4096), items,
                           "v", width=4096).collect()[0]
        assert got["cms_estimate"] == 0

    def test_rejects_bad_params(self):
        with pytest.raises(ValueError):
            cms_cell_rows("v", depth=0, width=1024, seed=42)
        with pytest.raises(ValueError):
            cms_cell_rows("v", depth=4, width=1, seed=42)


