"""Sampling primitives for training-data pipelines: deterministic
hash-threshold splits.

Everything here is HASH-threshold based (`xxhash64(id, salt)` folded to
a unit interval) rather than `rand()`/`sampleBy`: the decision for a row
depends only on its id and the seed, so results are reproducible across
runs, partitionings, cluster sizes, and retries — the property a 100 TB
pipeline actually needs (a re-run after a lost executor must not change
the split). All narrow per-row projections: no shuffle, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BUCKETS = 1_000_000


def _unit_hash(id_col: Column, seed: int) -> Column:
    """Deterministic uniform value in [0, 1) from a row id + seed."""
    return (
        F.pmod(F.xxhash64(id_col, F.lit(seed)), F.lit(_BUCKETS))
        / F.lit(float(_BUCKETS))
    )


def deterministic_split(
    df: DataFrame, weights: dict[str, float], id_col: str = "doc_id",
    seed: int = 42, split_col: str = "split",
) -> DataFrame:
    """Assign every row to exactly one named split (e.g. train/val/test)
    by hash threshold. Disjoint and exhaustive by construction; a row's
    split never changes when the corpus grows (only the hash of ITS id
    matters)."""
    total = sum(weights.values())
    u = _unit_hash(F.col(id_col), seed)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = u < F.lit(acc)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (F.lit(names[-1]) if expr is None
            else expr.otherwise(names[-1]))
    return df.withColumn(split_col, expr)
