"""Parquet source loading, and the builder of driver-side frames.

The reference's only source is ClickHouse tables over HTTP
(server/clickhouse_client.rs:10-19); ours is Spark's native parquet
reader, which hands Catalyst predicate pushdown + column pruning +
partition pruning for free.

One wrinkle: Spark refuses parquet TIMESTAMP(NANOS) columns by default
(PARQUET_TYPE_ILLEGAL). Such a file is read with an explicit schema that
types those columns ``long``, and the value is rebuilt as TIMESTAMP_NTZ
with pure epoch arithmetic — timezone-free, so results hash-match engines
(DuckDB) that read nanos natively as naive timestamps. The schema is per
read, so no session setting changes.

Rows the driver computes itself (write counters, procedure acks,
catalog listings, small join tables) become DataFrames through
``local_frame`` only — a LocalRelation, never a Python-RDD scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .compile.scope import quote

def configure(spark: SparkSession) -> None:
    """Session tuning; safe to call repeatedly (used by entry points that
    receive an externally-built SparkSession)."""
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over driver-held ``rows`` (tuples in ``schema``
    order; ``schema`` a StructType or DDL string) with exactly that
    schema. The rows travel as one Arrow table, so the plan is a JVM
    ``LocalRelation``: collecting it runs no Spark job and starts no
    Python worker, where ``createDataFrame(rows, schema)`` builds a
    Python-RDD scan that does both (~300 ms for a one-row answer)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows, strict=True)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type)
         for c, f in zip(cols, arrow, strict=True)],
        schema=arrow)
    return spark.createDataFrame(table, schema)


def _nanos_schema(spark: SparkSession, path: str):
    """``(nanosecond columns, read schema typing them long)`` of a
    parquet file; ``([], None)`` when it has none (or is not a single
    readable file). Other columns map from the Arrow schema the way
    Spark infers them: naive timestamps become TIMESTAMP_NTZ while
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` holds."""
    try:
        import pyarrow.parquet as pq
        arrow = pq.read_schema(path)
    except Exception:
        return [], None
    nanos = [f.name for f in arrow if str(f.type) == "timestamp[ns]"]
    if not nanos:
        return [], None
    from pyspark.sql.pandas.types import from_arrow_type
    from pyspark.sql.types import LongType, StructField, StructType

    ntz = spark.conf.get(
        "spark.sql.parquet.inferTimestampNTZ.enabled", "true") == "true"
    return nanos, StructType([
        StructField(f.name, LongType() if f.name in nanos
                    else from_arrow_type(f.type, ntz), f.nullable)
        for f in arrow])


_EXT_FORMATS = {
    ".parquet": "parquet", ".csv": "csv", ".tsv": "csv", ".json": "json",
    ".jsonl": "json", ".ndjson": "json", ".orc": "orc",
}


def read_source(
    spark: SparkSession, source: str, fmt: str | None = None, **options
) -> DataFrame:
    """Load a table from any Spark-native file source (parquet / CSV /
    JSON-lines / ORC, dispatched by extension or explicit ``fmt``) or
    fall back to a registered Spark view/table name. Parquet goes
    through ``read_parquet`` for the nanos-timestamp handling; CSV
    defaults to header+inferSchema (pass options to override). All
    formats keep Catalyst's pushdown/pruning where the source supports
    it (parquet/ORC; CSV/JSON prune columns only)."""
    if fmt is None:
        for ext, f in _EXT_FORMATS.items():
            if source.endswith(ext):
                fmt = f
                break
    if fmt is None:
        import os

        if os.path.isdir(source):
            fmt = "parquet"  # directory datasets default to parquet
        else:
            return spark.table(source)
    if fmt == "parquet":
        return read_parquet(spark, source)
    reader = spark.read
    if fmt == "csv":
        opts = {"header": "true", "inferSchema": "true"}
        if source.endswith(".tsv"):
            opts["sep"] = "\t"
        opts.update(options)
        return reader.options(**opts).csv(source)
    opts = dict(options)
    if fmt == "json":
        return reader.options(**opts).json(source)
    if fmt == "orc":
        return reader.options(**opts).orc(source)
    return reader.format(fmt).options(**opts).load(source)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    nanos, schema = _nanos_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    for c in nanos:
        # long nanos -> TIMESTAMP_NTZ via epoch arithmetic (no timezone
        # interpretation anywhere, unlike timestamp_micros which yields LTZ).
        df = df.withColumn(
            c,
            F.expr(
                f"timestampadd(MICROSECOND, {quote(c)} div 1000, "
                f"TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    return df
