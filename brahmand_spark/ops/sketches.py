"""Distributed sketch operators for corpus-scale statistics.

Extensions beyond the reference surface (SURVEY.md §2.8): a 100 TB
corpus wants cardinality answers ("how many distinct URLs / shingles /
users?") and frequency answers ("how often does this token appear?")
without full-width shuffles. Spark ships ``approx_count_distinct``
(HLL++) and ``count_min_sketch``, but their state is opaque JVM
binary — useless for an engine-portability gate and impossible to
merge with sketches produced outside Spark. This module implements a
DETERMINISTIC, seeded HyperLogLog (Flajolet et al. 2007) and a
count-min sketch (Cormode & Muthukrishnan 2005, :func:`cms_cell_rows`,
:func:`cms_estimate`) from first-class DataFrame ops. The HLL design:

- the value hash is the engine-portable ``md5_hash60`` (ops/text.py),
  so DuckDB replays the register contents bit-for-bit;
- registers are plain rows ``(group, bucket, max_rho)`` — mergeable
  across partitions, engines, and days (union + re-max), which is what
  an incremental corpus pipeline actually needs;
- the estimator folds registers with INTEGER weights
  (``2^(K - rho)`` summed as bigint) so the harmonic-mean sum is
  exact and order-independent — no float-association drift between
  engines — with a single double division at the end.

Scale posture: one map-side-combinable shuffle to
``(group, bucket)`` (at most ``m`` = 2^p rows per group survive the
partial aggregate), then a tiny per-group fold. No UDFs, no driver
collects; the register table for a million groups at p=10 is ~1e9
small rows — itself a DataFrame you can checkpoint and merge daily.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import md5_hash60

HASH_BITS = 60  # md5_hash60 yields a uniform value in [0, 2^60)


def _alpha(m: int) -> float:
    """Standard HLL bias-correction constant for m >= 128."""
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(df: DataFrame, value_col: str,
                  group_cols: list[str] | None = None,
                  p: int = 10) -> DataFrame:
    """Build the HLL register table: one row per (group, bucket) with
    the max rank (position of the first 1-bit, 1-based) observed.

    bucket = hash % 2^p (low p bits); the remaining ``Q = 60 - p`` bits
    feed the rank: ``rho = Q - bit_length(rem) + 1`` (``Q + 1`` when the
    remainder is all zeros). ``bit_length`` is ``length(bin(x))`` —
    pure string/int ops, identical in DuckDB.
    """
    group_cols = list(group_cols or [])
    bucket, rho = hll_bucket_rho(F.col(value_col), p)
    return (
        df.select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_bucket_rho(value: Column, p: int = 10) -> tuple[Column, Column]:
    """The per-row HLL decomposition ``(bucket, rho)`` of a value —
    exposed so other register builders (e.g. the windowed STREAMING
    aggregation in streaming/windows.py) share the exact arithmetic
    with the batch/oracle path."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    m = 1 << p
    q = HASH_BITS - p
    h = md5_hash60(value.cast("string"))
    bucket = h % F.lit(m)
    # bit shift, NOT floor(h / m): '/' on bigints is double division in
    # Spark and h spans 60 bits > the 53-bit double mantissa.
    rem = F.shiftright(h, p)
    rho = (
        F.when(rem == 0, F.lit(q + 1))
        .otherwise(F.lit(q) - F.length(F.bin(rem)) + 1)
    )
    return bucket, rho


def hll_estimate(registers: DataFrame,
                 group_cols: list[str] | None = None,
                 p: int = 10) -> DataFrame:
    """Fold a register table (from :func:`hll_registers` — possibly
    unioned across corpus increments and re-maxed) into per-group
    cardinality estimates.

    The harmonic-mean denominator ``sum(2^-rho)`` is computed in
    scaled INTEGER arithmetic: ``S = sum(2^(K - max_rho)) +
    (m - n_present) * 2^K`` with ``K = Q + 1`` the maximum possible
    rank, so the only floating-point steps are one division and (for
    the small-range branch) one ``ln`` — both bit-identical across
    engines on the same libm.

    Small-range (linear counting) correction per the HLL paper: when
    ``E_raw <= 2.5 m`` and empty registers exist,
    ``E = m * ln(m / V)`` with ``V`` the number of empty registers.
    """
    group_cols = list(group_cols or [])
    m = 1 << p
    k = HASH_BITS - p + 1  # max possible rho
    # alpha * m^2 * 2^K as ONE precomputed double literal: both engines
    # perform a single division by the exact integer S.
    numer = _alpha(m) * m * m * float(1 << k)
    agg = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.expr(f"shiftleft(1L, {k} - max_rho)")).alias("s_present"),
    )
    s_total = (
        F.col("s_present")
        + (F.lit(m) - F.col("n_present")) * F.lit(1 << k)
    )
    e_raw = F.lit(numer) / s_total.cast("double")
    v_empty = F.lit(m) - F.col("n_present")
    e = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v_empty > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v_empty.cast("double")),
    ).otherwise(e_raw)
    return agg.select(
        *group_cols,
        F.col("n_present").alias("n_registers"),
        F.round(e, 4).alias("hll_estimate"),
    )


def hll_distinct(df: DataFrame, value_col: str,
                 group_cols: list[str] | None = None,
                 p: int = 10) -> DataFrame:
    """Per-group approximate distinct count: registers + estimate in
    one call. Columns: ``group_cols..., n_registers, hll_estimate``."""
    return hll_estimate(
        hll_registers(df, value_col, group_cols, p), group_cols, p
    )


def cms_cell_rows(value_col: str, depth: int, width: int,
                  seed: int):
    """The per-row (row, bucket) cell fan-out shared by the batch
    (cms_heavy_hitters) and streaming
    (streaming/windows.windowed_cms_table) builders — ONE definition
    of the hash layout, so cell tables from either path stay
    point-queryable by cms_estimate."""
    if depth < 1 or width < 2:
        raise ValueError("depth must be >= 1 and width >= 2")
    v = F.col(value_col).cast("string")
    return F.explode(F.array(*[
        F.struct(
            F.lit(i).alias("row"),
            (md5_hash60(F.concat(F.lit(f"{seed + i}:"), v))
             % F.lit(width)).alias("bucket"),
        )
        for i in range(depth)
    ])).alias("rb")


def cms_estimate(sketch: DataFrame, items: DataFrame, value_col: str,
                 depth: int = 4, width: int = 1024,
                 seed: int = 42) -> DataFrame:
    """Point-query a CMS table for each distinct value in ``items``:
    the estimate is the MIN counter over the ``depth`` rows (never an
    underestimate; collisions only inflate). The sketch side is
    ``depth * width`` rows at most — broadcast, so the probe is a
    narrow fan-out + broadcast join + per-value min."""
    v = F.col(value_col).cast("string")
    probes = items.select(
        F.col(value_col),
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("row"),
                (md5_hash60(F.concat(F.lit(f"{seed + i}:"), v))
                 % F.lit(width)).alias("bucket"),
            )
            for i in range(depth)
        ])).alias("rb"),
    ).select(value_col, F.col("rb.row").alias("row"),
             F.col("rb.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(value_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0)))
             .alias("cms_estimate"))
    )


def cms_heavy_hitters(df: DataFrame, value_col: str, k: int = 20,
                      depth: int = 4, width: int = 1024,
                      seed: int = 42) -> DataFrame:
    """Top-``k`` most frequent values with exact counts AND their CMS
    estimates side by side — the small-scale validation harness for
    the sketch (at 100 TB the exact branch is the expensive full
    groupBy the sketch replaces for point queries). Ties rank by value
    ascending. Columns: ``value_col, exact_count, cms_estimate,
    rank``."""
    from pyspark.sql import Window

    exact = df.groupBy(value_col).agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    topk = exact.orderBy(
        F.col("exact_count").desc(), F.col(value_col).asc()
    ).limit(k)
    # The sketch is built FROM the exact counts (r15, guide §2.3 —
    # aggregate before you shuffle): a CMS cell's counter is the sum
    # of the exact counts of the values hashing to it, so folding the
    # already-aggregated (value, count) rows into cells is
    # bit-identical to counting one cell row per input row, while
    # scanning the corpus ONCE (this function already pays the exact
    # groupBy) and computing the depth md5 hashes per DISTINCT value
    # instead of per row.
    sketch = (
        exact.select(cms_cell_rows(value_col, depth, width, seed),
                     F.col("exact_count"))
        .groupBy(F.col("rb.row").alias("row"),
                 F.col("rb.bucket").alias("bucket"))
        .agg(F.sum("exact_count").alias("c"))
    )
    est = cms_estimate(
        sketch,
        topk.select(value_col), value_col, depth, width, seed,
    )
    w = Window.orderBy(F.col("exact_count").desc(), F.col(value_col).asc())
    return (
        topk.join(est, value_col)
        .select(
            value_col, "exact_count", "cms_estimate",
            F.row_number().over(w).alias("rank"),
        )
    )


def hll_distinct_with_exact(df: DataFrame, value_col: str,
                            group_cols: list[str] | None = None,
                            p: int = 10) -> DataFrame:
    """Estimate joined with the exact distinct count and relative
    error — the validation harness a pipeline runs at small scale
    before trusting the sketch at 100 TB (where the exact branch is
    the expensive distinct shuffle the sketch exists to avoid)."""
    group_cols = list(group_cols or [])
    est = hll_distinct(df, value_col, group_cols, p)
    exact = df.groupBy(*group_cols).agg(
        F.countDistinct(value_col).alias("exact_distinct")
    )
    joined = (
        est.join(exact, group_cols) if group_cols
        else est.crossJoin(exact)
    )
    return joined.select(
        *group_cols, "n_registers", "hll_estimate", "exact_distinct",
        F.round(
            F.abs(F.col("hll_estimate") - F.col("exact_distinct"))
            / F.greatest(F.col("exact_distinct"), F.lit(1)).cast("double"),
            4,
        ).alias("rel_err"),
    )
