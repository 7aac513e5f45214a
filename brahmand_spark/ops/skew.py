"""Skew handling for aggregations at scale.

AQE's skew-join splitting (enabled in io.configure) handles skewed
joins, the Cypher compiler's hop joins on a hot key included. This
module covers the pattern AQE can't fix:

- ``two_phase_agg``: count/sum-style aggregation over skewed keys —
  partial agg on (key, salt) first, then final agg on key, so no single
  task accumulates a hot key alone. (Spark's hash aggregate already does
  map-side partials; this helps when the *reduce* side is the problem,
  e.g. collect_set on a hot key.)

Salts use a deterministic per-row hash (pmod of xxhash64 over the row's
columns), not rand(), so retried tasks produce identical output
(required for exactly-once sinks and for reproducible tests).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def add_salt(df: DataFrame, factor: int,
             deterministic_cols: Optional[list[str]] = None) -> DataFrame:
    """Attach a salt column in [0, factor)."""
    if deterministic_cols:
        salt = F.pmod(F.xxhash64(*deterministic_cols), F.lit(factor))
    else:
        salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()),
                      F.lit(factor))
    return df.withColumn(SALT_COL, salt.cast("int"))


def two_phase_agg(
    df: DataFrame, keys: list[str], aggs: dict[str, str],
    factor: int = 16,
) -> DataFrame:
    """Skew-safe aggregation: phase 1 on (keys, salt), phase 2 on keys.
    ``aggs``: output_name -> 'count' | 'sum:<col>' | 'min:<col>' |
    'max:<col>' | 'collect_set:<col>'."""
    salted = add_salt(df, factor, deterministic_cols=keys and list(df.columns))

    partial_exprs = []
    final_exprs = []
    for name, spec in aggs.items():
        if spec == "count":
            partial_exprs.append(F.count(F.lit(1)).alias(f"__p_{name}"))
            final_exprs.append(F.sum(f"__p_{name}").alias(name))
            continue
        op, col = spec.split(":", 1)
        if op == "sum":
            partial_exprs.append(F.sum(col).alias(f"__p_{name}"))
            final_exprs.append(F.sum(f"__p_{name}").alias(name))
        elif op == "min":
            partial_exprs.append(F.min(col).alias(f"__p_{name}"))
            final_exprs.append(F.min(f"__p_{name}").alias(name))
        elif op == "max":
            partial_exprs.append(F.max(col).alias(f"__p_{name}"))
            final_exprs.append(F.max(f"__p_{name}").alias(name))
        elif op == "collect_set":
            partial_exprs.append(F.collect_set(col).alias(f"__p_{name}"))
            final_exprs.append(
                F.array_distinct(F.flatten(F.collect_list(f"__p_{name}")))
                .alias(name)
            )
        else:
            raise ValueError(f"unknown agg spec {spec!r}")
    partial = salted.groupBy(*keys, SALT_COL).agg(*partial_exprs)
    return partial.groupBy(*keys).agg(*final_exprs)
