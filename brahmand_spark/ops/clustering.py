"""Distributed k-means clustering over an embedding column.

Document clustering is a standard curation stage for large training
corpora (topic balancing, per-cluster quality review, diversity-aware
sampling). This is textbook distributed Lloyd's, shaped for 100 TB:

- the ONLY driver-side state is the k x dim centroid matrix (a few KB),
  refreshed once per iteration — the classic bounded driver touch, same
  contract as ops/similarity.train_ivf_centroids;
- per iteration, assignment is a narrow JVM projection (no shuffle):
  argmax over per-centroid scores computed with higher-order array
  functions against centroid literals (ops/similarity.ivf_cell);
- the centroid update is ONE shuffle of (cell, dim) partial sums:
  posexplode the vector, groupBy (cell, pos) with map-side partial
  aggregation — k * dim groups total, so the reduce side is tiny no
  matter the corpus size.

Determinism: init takes the k lowest-id vectors (a pure function of
the data — reproducible across runs, partitionings, and engines), and
every subsequent step is deterministic arithmetic, so a DuckDB oracle
replays the whole fit as chained CTEs (the ``cluster_kmeans`` gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _as_double, ivf_cell


def kmeans_fit(
    df: DataFrame, k: int = 8, iters: int = 3,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> list[list[float]]:
    """Fit centroids with distributed Lloyd's iterations: init = the
    ``k`` lowest-``id_col`` vectors, then ``iters`` rounds of
    (JVM-side nearest-centroid assignment -> one (cell, dim) partial-
    sum shuffle -> k x dim driver refresh). An emptied cell keeps its
    previous centroid. Returns the centroid list (k x dim floats)."""
    base = df.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    seed_rows = base.orderBy("id").limit(k).collect()
    centroids = [list(r["v"]) for r in seed_rows]
    for _ in range(iters):
        # Two selects, not one: mixing the generator (posexplode) with
        # the higher-order argmax in a single projection trips Spark's
        # generator rewrite, which renames the lambda-built struct
        # fields out from under the array_max accessor.
        assigned = base.select(
            ivf_cell(F.col("v"), centroids).alias("cell"), "v"
        ).select("cell", F.posexplode("v").alias("pos", "x"))
        # ONE aggregate, (cell, pos, mean) rows collected directly —
        # k x dim rows, assembled into the centroid matrix driver-side
        # (r14: the second per-cell collect_list aggregate bought
        # nothing over doing the k*dim-row pivot in Python).
        rows = assigned.groupBy("cell", "pos").agg(
            F.avg("x").alias("m")).collect()
        by_cell: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cell.setdefault(int(r["cell"]), {})[int(r["pos"])] = r["m"]
        # .get(p, c[p]): ragged inputs (a vector shorter than the
        # centroid dim) leave positions unvoted — keep the previous
        # coordinate instead of raising an uncontextualized KeyError
        centroids = [
            [by_cell[i].get(p, c[p]) for p in range(len(c))]
            if i in by_cell else c
            for i, c in enumerate(centroids)
        ]
    return centroids


def kmeans_assign(
    df: DataFrame, centroids: list[list[float]],
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid cluster id per vector — narrow, no shuffle.
    Output: (id_col, cluster)."""
    return df.select(
        F.col(id_col),
        ivf_cell(_as_double(F.col(vec_col)), centroids).alias("cluster"),
    )


def kmeans(
    df: DataFrame, k: int = 8, iters: int = 3,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Fit + assign in one call (see kmeans_fit). At scale, fit once,
    persist the centroids, and re-assign incrementally arriving data
    with kmeans_assign — assignment never reshuffles the corpus."""
    return kmeans_assign(df, kmeans_fit(df, k, iters, id_col, vec_col),
                         id_col, vec_col)
