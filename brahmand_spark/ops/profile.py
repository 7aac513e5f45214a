"""Corpus profiling — the data card a curation job computes before
touching anything: per-column completeness, cardinality, ranges, and
value distributions. The Spark analogue of ``ANALYZE TABLE ... COMPUTE
STATISTICS FOR COLUMNS`` with the output as a DataFrame you can store
next to the corpus snapshot.

Scale shape:

- ``profile_corpus`` is ONE aggregate job over the corpus — every
  metric (count / nulls / distinct / min / max / mean / stddev /
  string lengths) is an algebraic or sketch aggregate with map-side
  partial aggregation, and the result is |columns| rows. Distinct
  counts default to ``approx_count_distinct`` (HLL++, mergeable,
  bounded memory); ``exact_distinct=True`` swaps in exact
  ``count(DISTINCT)`` for oracle-checkable runs — at 100 TB keep the
  sketch.
- ``numeric_histogram`` is one map-side-combined count shuffle with at
  most ``bins`` surviving rows: fixed-width buckets from caller-given
  or probed (min, max) bounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_corpus(
    df: DataFrame, columns: list[str] | None = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """One-row-per-column profile: (column, dtype, n, n_null,
    n_distinct, min, max, mean, stddev, avg_len). min/max are rendered
    as strings so one tidy schema covers every input type; mean/stddev
    are NULL for non-numeric columns, avg_len for non-string ones."""
    dtypes = dict(df.dtypes)
    columns = columns or list(df.columns)
    numeric = {
        c for c in columns
        if dtypes[c] in ("tinyint", "smallint", "int", "bigint",
                         "float", "double") or dtypes[c].startswith("decimal")
    }
    aggs = []
    for c in columns:
        col = F.col(c)
        aggs += [
            F.count(col).alias(f"__n_{c}"),
            (F.count(F.lit(1)) - F.count(col)).alias(f"__null_{c}"),
            (F.count_distinct(col) if exact_distinct
             else F.approx_count_distinct(col)).alias(f"__d_{c}"),
            F.min(col).cast("string").alias(f"__min_{c}"),
            F.max(col).cast("string").alias(f"__max_{c}"),
            (F.avg(col) if c in numeric
             else F.lit(None).cast("double")).alias(f"__mean_{c}"),
            (F.stddev_samp(col) if c in numeric
             else F.lit(None).cast("double")).alias(f"__sd_{c}"),
            (F.avg(F.length(col)) if dtypes[c] == "string"
             else F.lit(None).cast("double")).alias(f"__len_{c}"),
        ]
    row = df.agg(*aggs)
    # pivot the single wide row into tidy per-column rows — a driver-
    # free transform: explode a literal-built array of structs
    per_col = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.lit(dtypes[c]).alias("dtype"),
            F.col(f"__n_{c}").cast("bigint").alias("n"),
            F.col(f"__null_{c}").cast("bigint").alias("n_null"),
            F.col(f"__d_{c}").cast("bigint").alias("n_distinct"),
            F.col(f"__min_{c}").alias("min"),
            F.col(f"__max_{c}").alias("max"),
            F.round(F.col(f"__mean_{c}"), 6).alias("mean"),
            F.round(F.col(f"__sd_{c}"), 6).alias("stddev"),
            F.round(F.col(f"__len_{c}"), 6).alias("avg_len"),
        )
        for c in columns
    ])
    return row.select(F.explode(per_col).alias("p")).select("p.*")


def numeric_histogram(
    df: DataFrame, col: str, bins: int = 20,
    bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """Fixed-width histogram: (bin, lo, hi, n) with ``bins`` rows.
    Bounds come from the caller or one min/max probe; values at the
    upper bound land in the last bin; NULLs are dropped."""
    if bounds is None:
        row = df.agg(
            F.min(F.col(col).cast("double")).alias("lo"),
            F.max(F.col(col).cast("double")).alias("hi"),
        ).first()
        # Entirely-NULL column: the NULL filter below drops every row
        # anyway — degenerate bounds keep the plan valid (empty result)
        # instead of crashing on float(None).
        bounds = (0.0, 0.0) if row["lo"] is None else (row["lo"], row["hi"])
    lo, hi = float(bounds[0]), float(bounds[1])
    width = (hi - lo) / bins if hi > lo else 1.0
    # Clamp BOTH ends: caller-supplied bounds narrower than the data
    # would otherwise yield negative bins (below lo) to mirror the
    # bins-1 cap for values above hi.
    b = F.greatest(
        F.least(
            F.floor(
                (F.col(col).cast("double") - F.lit(lo)) / F.lit(width))
            .cast("int"),
            F.lit(bins - 1),
        ),
        F.lit(0),
    )
    return (
        df.filter(F.col(col).isNotNull())
        .select(b.alias("bin"))
        .groupBy("bin").agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            (F.lit(lo) + F.col("bin") * F.lit(width)).alias("lo"),
            (F.lit(lo) + (F.col("bin") + 1) * F.lit(width)).alias("hi"),
            "n",
        )
    )
