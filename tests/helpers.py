"""Result-comparison helpers: canonicalize Spark and DuckDB results the
same way the driver does (column-name sort, row sort, normalized floats)."""

from __future__ import annotations

import math
import re

import pandas as pd


def canon(df: pd.DataFrame, float_places: int = 6) -> list[tuple]:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for row in df.itertuples(index=False):
        out = []
        for v in row:
            if isinstance(v, float):
                if math.isnan(v):
                    out.append("NaN")
                else:
                    out.append(round(v, float_places))
            elif hasattr(v, "isoformat"):
                out.append(v.isoformat())
            elif isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                out.append(tuple(v))
            else:
                out.append(v)
        rows.append(tuple(out))
    return sorted(rows, key=repr)


def assert_same(spark_df, duck_rel, float_places: int = 6):
    lp, rp = spark_df.toPandas(), duck_rel.df()
    # the driver checks schema too — a name mismatch must fail here
    # even when the sorted value columns happen to line up
    assert sorted(lp.columns) == sorted(rp.columns), (
        f"column mismatch: spark={sorted(lp.columns)} "
        f"duckdb={sorted(rp.columns)}"
    )
    left = canon(lp, float_places)
    right = canon(rp, float_places)
    assert len(left) == len(right), (
        f"row count mismatch: spark={len(left)} duckdb={len(right)}\n"
        f"spark head: {left[:5]}\nduck head: {right[:5]}"
    )
    for i, (l, r) in enumerate(zip(left, right)):
        assert l == r, f"row {i} mismatch:\n  spark={l}\n  duck ={r}"


def count_jobs(spark, fn):
    """``(fn(), number of Spark jobs it launched)``, counted through
    a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def initial_plan(df):
    """The JVM physical plan before any AQE re-optimization."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        return plan.initialPlan()
    return plan


def plan_nodes(plan):
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from plan_nodes(kids.apply(i))


def scan_columns(node) -> list[str] | None:
    """The output columns of a table scan leaf of either kind: a
    parquet file scan, or the RDD scan of a table held in Spark storage
    (brahmand_spark/resident.py); None for any other node."""
    if not node.nodeName().startswith("Scan ") or node.children().size():
        return None
    return re.findall(r"(\w+)#\d+", node.toString().split("]", 1)[0])


def scan_filters(df) -> list[tuple[list[str], str]]:
    """``(scan columns, condition)`` of each Filter that sits directly
    over a table scan, below every join, in df's initial physical plan.
    Expression ids are dropped from the condition."""
    out = []
    for node in plan_nodes(initial_plan(df)):
        if node.nodeName() != "Filter":
            continue
        child = node.child()
        while child.nodeName() in ("ColumnarToRow", "InputAdapter"):
            child = child.child()
        cols = scan_columns(child)
        if cols is not None:
            out.append((cols, re.sub(r"#\d+L?", "",
                                     node.condition().toString())))
    return out


def filtered_at_scan(df, column: str, predicate: str) -> bool:
    """Whether ``predicate`` (a plain comparison as Spark prints it,
    e.g. ``(o_totalprice > 300000.0)``) filters the scan of the table
    holding ``column`` directly, below every join."""
    return any(column in cols and predicate in cond
               for cols, cond in scan_filters(df))
