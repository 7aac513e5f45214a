"""Shared tombstone-deletion machinery for the persisted indexes
(ops/dedup_index, ops/similarity's ANN index) — the LSM delete
pattern: removals append ids to a small deletes table (O(batch) per
call, the index is never rewritten), probes anti-join it, and a
compaction pass folds it in. One implementation so the two index
families cannot drift (r8 review: they had — the ANN copy grew an
empty-compact brick and a full-recount counter the dedup copy did
not)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import local_frame
from .fs import path_exists, replace_dir


def coerce_ids(spark, ids, key: str, like_path: str | None = None,
               ) -> DataFrame:
    """Normalize a removal batch to a one-column DataFrame named
    ``key``: accepts a DataFrame (FIRST column holds the ids — any
    type) or a Python list of all-int (bigint) or all-str (string)
    ids; anything else raises (string ids stay strings: a
    long-coerced tombstone would silently type-mismatch a
    string-keyed index's anti-join, r8 review). An EMPTY list has no
    type to infer: with ``like_path`` given, the key's type is taken
    from that live table's schema via a zero-row read (r9 review: a
    hardcoded `long` empty frame made a string-keyed index's joins
    compare bigint to string — an ANSI runtime cast hazard); without
    it, long. Deduplicated."""
    if isinstance(ids, (list, tuple)):
        if not ids:
            if like_path is not None:
                return spark.read.parquet(like_path) \
                    .select(key).limit(0)
            return local_frame(spark, [], f"{key} bigint")
        if all(isinstance(i, int) and not isinstance(i, bool)
               for i in ids):
            dtype = "bigint"
        elif all(isinstance(i, str) for i in ids):
            dtype = "string"
        else:
            raise TypeError(
                f"removal ids must be all int or all str, got "
                f"{sorted({type(i).__name__ for i in ids})}")
        ids_df = local_frame(spark, [(i,) for i in ids], f"{key} {dtype}")
    else:
        ids_df = ids.select(F.col(ids.columns[0]).alias(key))
    return ids_df.dropDuplicates([key])


def append_tombstones(
    spark, ids_df: DataFrame, key: str,
    live_path: str, deletes_path: str,
) -> int:
    """Tombstone the given ids: drop ones already tombstoned, keep
    only ids actually present in the live table (absent ids would
    just bloat every probe's anti-join side), pin the row set with a
    lineage-cutting localCheckpoint (the caller's ids frame may READ
    the index — writing would recache it, the dedup_index_add
    lesson), append, and return how many were newly tombstoned."""
    if path_exists(spark, deletes_path):
        ids_df = ids_df.join(spark.read.parquet(deletes_path),
                             key, "left_anti")
    live = ids_df.join(
        spark.read.parquet(live_path).select(key), key, "leftsemi")
    live = live.localCheckpoint()
    n = live.count()
    if n:
        live.write.mode("append").parquet(deletes_path)
    return n


def anti_tombstones(spark, df: DataFrame, key: str,
                    deletes_path: str) -> DataFrame:
    """Filter tombstoned ids out of an index read (no-op when no
    deletes table exists)."""
    if not path_exists(spark, deletes_path):
        return df
    dels = spark.read.parquet(deletes_path).select(key)
    return df.join(dels, key, "left_anti")


def reject_tombstoned(spark, ids_df: DataFrame, key: str,
                      deletes_path: str, index_name: str,
                      compact_fn: str) -> None:
    """Append-path guard: adding a row whose id is tombstoned would
    be silently suppressed by every later probe — fail loudly."""
    if not path_exists(spark, deletes_path):
        return
    clash = ids_df.join(spark.read.parquet(deletes_path).select(key),
                        key, "leftsemi").limit(1).count()
    if clash:
        raise ValueError(
            f"batch contains ids tombstoned in index "
            f"'{index_name}' — the tombstone would suppress the "
            f"re-added rows; run {compact_fn} first (or use fresh "
            f"ids)")


def compact_parquet(
    spark, table_path: str, deletes_path: str, key: str,
    partition_by: "str | list[str] | None" = None,
) -> None:
    """Rewrite one index table without its tombstoned rows:
    write-new-then-swap (never in-place — Spark cannot overwrite its
    own input). A PARTITIONED table refuses to compact down to ZERO
    rows: an empty partitionBy write emits no schema-bearing part
    files, so the swap would brick the table (r8 review) — an index
    whose every row is tombstoned should be deleted or rebuilt, not
    compacted. (Unpartitioned empty writes keep their schema and are
    allowed — e.g. a dedup buckets table whose remaining docs are all
    too short to sign.)"""
    kept = anti_tombstones(
        spark, spark.read.parquet(table_path), key, deletes_path)
    if partition_by and kept.isEmpty():
        raise ValueError(
            f"compaction would empty {table_path} (every row is "
            f"tombstoned) — delete or rebuild the index instead")
    tmp = table_path + ".compact"
    w = kept.write.mode("overwrite")
    if partition_by:
        cols = ([partition_by] if isinstance(partition_by, str)
                else list(partition_by))
        w = w.partitionBy(*cols)
    w.parquet(tmp)
    replace_dir(spark, tmp, table_path)


def compact_parquet_to_batch(
    spark, table_path: str, deletes_path: str, key: str,
    batch_col: str = "batch", batch_value: str = "base",
) -> None:
    """Compact a ``batch=``-partitioned index table (the r9 dedup
    index layout, where every add lands in its own replay-
    overwritable partition): drop tombstoned rows AND fold all batch
    partitions back into a single ``batch=<batch_value>`` directory —
    write-new-then-swap via :func:`~brahmand_spark.ops.fs.replace_dir`.
    The single-subdir write is unpartitioned from Spark's view, so
    compacting down to ZERO rows still emits a schema-bearing file
    (unlike a partitionBy write — the r8 empty-write brick)."""
    from .fs import delete_path

    kept = anti_tombstones(
        spark, spark.read.parquet(table_path), key, deletes_path)
    if batch_col in kept.columns:
        kept = kept.drop(batch_col)
    tmp = table_path + ".compact"
    delete_path(spark, tmp)
    kept.write.mode("overwrite").parquet(
        f"{tmp}/{batch_col}={batch_value}")
    replace_dir(spark, tmp, table_path)
