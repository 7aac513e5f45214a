"""Resident tables: each registered table is held in Spark storage.

The reference leaves storage to ClickHouse, whose tables stay resident
between queries; here a served read would otherwise open its parquet
files again and re-run derived frames (a semi-join, a window) on every
query. ``GraphSession`` keeps one ``Held`` entry per registered name:
the frame it was built from (``base``), the frame reads get
(``frame``), and the loop projections built from that frame (served
``graph.pagerank``'s prologue). An entry is current while
``session.tables[name]`` is still ``base``, so a commit, a rollback or
``register_table`` that installs another frame makes it stale by
identity, and the next read builds a new one.

``pin`` is the budget. A frame is checkpointed into storage memory
(``localCheckpoint``, level MEMORY_AND_DISK) only when its optimized
plan's size estimate fits in the storage memory that is free across
the executors; a frame that does not fit keeps its source scan, and a
streaming frame is never pinned. A frame whose plan is already one
in-memory leaf (driver rows, a checkpoint, a cache) is held as it is.
Spark's MemoryStore evicts least-recently-used blocks to disk, so the
store has no eviction of its own. The estimate of a parquet scan is
its files' compressed size, smaller than the rows it holds in memory,
so the rule keeps out only tables far larger than storage memory.

Reads pin; writes do not. A write reads a table it has no current
entry for as it is, since its commit replaces that table and
``writes._store`` holds the commit as its own entry.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

#: optimized-plan leaves whose rows are already held in memory
_IN_MEMORY = ("LocalRelation", "LogicalRDD", "InMemoryRelation")


class Held:
    """One registered frame's resident form and its projections."""

    __slots__ = ("base", "frame", "projections")

    def __init__(self, base: DataFrame, frame: DataFrame):
        self.base = base
        self.frame = frame
        self.projections: dict = {}

    def projection(self, key, build: Callable[[DataFrame], object]):
        """The projection ``key`` of this frame, built once by
        ``build(frame)``."""
        out = self.projections.get(key)
        if out is None:
            out = self.projections[key] = build(self.frame)
        return out


def _storage_free(sc) -> int:
    """Bytes of storage memory free across the executors."""
    it = sc._jsc.sc().getExecutorMemoryStatus().valuesIterator()
    free = 0
    while it.hasNext():
        free += it.next()._2()
    return free


def pin(df: DataFrame) -> DataFrame:
    """``df`` checkpointed into storage memory when it fits, else
    ``df`` itself (see the module docstring)."""
    if df.isStreaming:
        return df
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() in _IN_MEMORY:
        return df
    if int(plan.stats().sizeInBytes()) > _storage_free(
            df.sparkSession.sparkContext):
        return df
    return df.localCheckpoint(eager=True)
