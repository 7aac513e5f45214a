"""DDL execution: CREATE NODE TABLE / CREATE REL TABLE -> catalog entries.

Validation parity with the reference generator
(clickhouse_query_generator/ddl_query.rs):
- exactly one NODE ID column (ddl_query.rs:79-81)
- node-id dtype must be Int64/UInt64-like (ddl_query.rs:90-92)
- rel tables physically store ``from_{FromLabel}``/``to_{ToLabel}`` id
  columns ahead of user columns (ddl_query.rs:259-261)
- rel endpoints must already exist (server/graph_catalog.rs:101-125)
- ``ADJ INDEX(true)`` flags the rel for grouped-adjacency
  materialization (the reference's bitmap tables, ddl_query.rs:290-311)

Instead of emitting ClickHouse SQL, we register an (initially empty)
DataFrame with the declared Spark schema; callers attach real data with
``GraphSession.register_table``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .catalog import (
    CLICKHOUSE_TO_SPARK_TYPE, NODE_ID_DTYPES, NodeSchema, RelationshipSchema,
)
from .errors import CatalogError
from .io import local_frame
from .parser import ast

_SPARK_TYPES = {
    "tinyint": T.ByteType(), "smallint": T.ShortType(), "int": T.IntegerType(),
    "bigint": T.LongType(), "float": T.FloatType(), "double": T.DoubleType(),
    "string": T.StringType(), "boolean": T.BooleanType(),
    "date": T.DateType(), "timestamp": T.TimestampType(),
    "binary": T.BinaryType(),
}


def spark_type(dtype: str) -> T.DataType:
    key = CLICKHOUSE_TO_SPARK_TYPE.get(dtype.lower())
    if key is None:
        raise CatalogError(f"unknown column dtype '{dtype}'")
    return _SPARK_TYPES[key]


def apply(session, stmt) -> DataFrame:
    if isinstance(stmt, ast.CreateNodeTable):
        return _create_node(session, stmt)
    return _create_rel(session, stmt)


def _create_node(session, stmt: ast.CreateNodeTable) -> DataFrame:
    if stmt.node_id is None:
        raise CatalogError("NODE ID is required (ddl_query.rs:79-81)")
    col_names = [c.name for c in stmt.columns]
    if stmt.node_id not in col_names:
        raise CatalogError(f"NODE ID column '{stmt.node_id}' not declared")
    id_dtype = next(c.dtype for c in stmt.columns if c.name == stmt.node_id)
    if id_dtype.lower() not in NODE_ID_DTYPES:
        raise CatalogError(
            f"NODE ID must be Int64/UInt64, got {id_dtype} "
            "(ddl_query.rs:90-92)"
        )
    fields = [T.StructField(c.name, spark_type(c.dtype)) for c in stmt.columns]
    empty = local_frame(session.spark, [], T.StructType(fields))
    session.tables.setdefault(stmt.name, empty)
    session.schema.add_node(NodeSchema(
        label=stmt.name, table_name=stmt.name, node_id=stmt.node_id,
        column_names=col_names, primary_keys=stmt.primary_keys or [stmt.node_id],
    ))
    session._persist_catalog()
    return _ack(session, "create_node_table", stmt.name)


def _create_rel(session, stmt: ast.CreateRelTable) -> DataFrame:
    for endpoint in (stmt.from_node, stmt.to_node):
        if endpoint not in session.schema.nodes:
            raise CatalogError(
                f"rel '{stmt.name}' references missing node table "
                f"'{endpoint}' (server/graph_catalog.rs:101-125)"
            )
    from_col = f"from_{stmt.from_node}"
    to_col = f"to_{stmt.to_node}"
    fields = [
        T.StructField(from_col, T.LongType()),
        T.StructField(to_col, T.LongType()),
    ] + [T.StructField(c.name, spark_type(c.dtype)) for c in stmt.columns]
    empty = local_frame(session.spark, [], T.StructType(fields))
    session.tables.setdefault(stmt.name, empty)
    session.schema.add_relationship(RelationshipSchema(
        type_name=stmt.name, table_name=stmt.name,
        from_node=stmt.from_node, to_node=stmt.to_node,
        from_column=from_col, to_column=to_col,
        column_names=[c.name for c in stmt.columns],
        adj_index=stmt.adj_index,
    ))
    session._persist_catalog()
    return _ack(session, "create_rel_table", stmt.name)


def _ack(session, op: str, name: str) -> DataFrame:
    return local_frame(
        session.spark,
        [(op, name, "ok")], "operation string, table string, status string"
    )
