"""Property-graph catalog: labels -> relational tables.

Mirrors the reference's graph catalog shapes
(/root/reference/brahmand/src/graph_catalog/graph_schema.rs:7-80):
``NodeSchema { table_name, column_names, primary_keys, node_id }``,
``RelationshipSchema { table_name, column_names, from_node, to_node, ... }``,
``GraphSchema { version, nodes, relationships, relationships_indexes }``.

Differences (Spark-first, by design):
- Tables are parquet paths or registered Spark temp views instead of
  ClickHouse MergeTree tables; the bitmap adjacency tables
  (graph_schema.rs:25-31) become optional *grouped adjacency*
  materializations (``groupBy(from).agg(collect_set(to))``) — see
  ``ops/adjacency.py``.
- Persistence is a JSON file (the reference stores one JSON blob in a
  ClickHouse ``graph_catalog`` table, server/graph_catalog.rs:59-64);
  the JSON payload shape and the integer ``version`` counter
  (graph_schema.rs:114-120) are kept for parity.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Optional

from .errors import CatalogError

# ClickHouse pass-through dtype names -> Spark SQL type names.
# The reference accepts any identifier as a dtype
# (open_cypher_parser/create_table_schema.rs:39-52) and only validates the
# node-id column (ddl_query.rs:90-92); we map the common names and reject
# unknowns at DDL time.
CLICKHOUSE_TO_SPARK_TYPE = {
    "uint8": "smallint",
    "uint16": "int",
    "uint32": "bigint",
    "uint64": "bigint",
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "float32": "float",
    "float64": "double",
    "string": "string",
    "bool": "boolean",
    "boolean": "boolean",
    "date": "date",
    "datetime": "timestamp",
    "datetime64": "timestamp",
    # Spark-native names pass through too.
    "tinyint": "tinyint",
    "smallint": "smallint",
    "int": "int",
    "bigint": "bigint",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "timestamp": "timestamp",
    # opaque multimodal payloads (images/audio/video) are binary
    # columns with typed metadata (SURVEY §multimodal; r7)
    "blob": "binary",
    "binary": "binary",
    "bytes": "binary",
}

# Node-id dtypes accepted by the reference (ddl_query.rs:90-92).
NODE_ID_DTYPES = {"int64", "uint64", "bigint", "long"}


@dataclass
class NodeSchema:
    """One node label -> one table. graph_schema.rs:7-13."""

    label: str
    table_name: str  # parquet path or Spark view name
    node_id: str  # designated id column (must be integral, exactly one)
    column_names: list[str] = field(default_factory=list)
    primary_keys: list[str] = field(default_factory=list)

    def to_json(self) -> dict:
        return {
            "label": self.label,
            "table_name": self.table_name,
            "node_id": self.node_id,
            "column_names": self.column_names,
            "primary_keys": self.primary_keys,
        }

    @staticmethod
    def from_json(d: dict) -> "NodeSchema":
        return NodeSchema(
            label=d["label"],
            table_name=d["table_name"],
            node_id=d["node_id"],
            column_names=list(d.get("column_names", [])),
            primary_keys=list(d.get("primary_keys", [])),
        )


@dataclass
class RelationshipSchema:
    """One relationship type -> one edge-list table. graph_schema.rs:15-23.

    ``from_column``/``to_column`` name the physical id columns; the reference
    always materializes them as ``from_{FromLabel}`` / ``to_{ToLabel}``
    (ddl_query.rs:259-261) but derived graphs (FK views over existing
    tables) may name them anything.
    """

    type_name: str
    table_name: str
    from_node: str  # node label
    to_node: str  # node label
    from_column: str
    to_column: str
    column_names: list[str] = field(default_factory=list)
    # Optional grouped-adjacency materialization (reference: bitmap adj
    # index tables, graph_schema.rs:25-31 + ddl_query.rs:290-311).
    adj_index: bool = False

    def to_json(self) -> dict:
        return {
            "type_name": self.type_name,
            "table_name": self.table_name,
            "from_node": self.from_node,
            "to_node": self.to_node,
            "from_column": self.from_column,
            "to_column": self.to_column,
            "column_names": self.column_names,
            "adj_index": self.adj_index,
        }

    @staticmethod
    def from_json(d: dict) -> "RelationshipSchema":
        return RelationshipSchema(
            type_name=d["type_name"],
            table_name=d["table_name"],
            from_node=d["from_node"],
            to_node=d["to_node"],
            from_column=d["from_column"],
            to_column=d["to_column"],
            column_names=list(d.get("column_names", [])),
            adj_index=bool(d.get("adj_index", False)),
        )


@dataclass
class GraphSchema:
    """graph_schema.rs:74-80 — three maps keyed by label + a version."""

    version: int = 0
    nodes: dict[str, NodeSchema] = field(default_factory=dict)
    relationships: dict[str, RelationshipSchema] = field(default_factory=dict)

    # -- mutation (DDL) ----------------------------------------------------
    def add_node(self, node: NodeSchema) -> None:
        if node.label in self.nodes:
            raise CatalogError(f"node table '{node.label}' already exists")
        self.nodes[node.label] = node
        self.version += 1

    def add_relationship(self, rel: RelationshipSchema) -> None:
        # The reference validates that both endpoint node tables exist
        # before accepting a rel table (server/graph_catalog.rs:101-125).
        if rel.type_name in self.relationships:
            raise CatalogError(f"rel table '{rel.type_name}' already exists")
        for endpoint in (rel.from_node, rel.to_node):
            if endpoint not in self.nodes:
                raise CatalogError(
                    f"rel '{rel.type_name}' references missing node table "
                    f"'{endpoint}'"
                )
        self.relationships[rel.type_name] = rel
        self.version += 1

    # -- lookup ------------------------------------------------------------
    def node(self, label: str) -> NodeSchema:
        try:
            return self.nodes[label]
        except KeyError:
            raise CatalogError(f"unknown node label '{label}'") from None

    def relationship(self, type_name: str) -> RelationshipSchema:
        try:
            return self.relationships[type_name]
        except KeyError:
            raise CatalogError(f"unknown relationship type '{type_name}'") from None

    def fk_side(self, rel: RelationshipSchema) -> Optional[str]:
        """Whether ``rel`` is FK-backed: its table is a node label's
        table and one endpoint column is that label's id, so each node
        row holds at most one such edge, in its other endpoint column
        (the foreign key). Returns the endpoint whose node rows hold
        the edges, ``"to"`` (checked first) or ``"from"``; None for an
        edge-list relationship."""
        for side, label, col in (("to", rel.to_node, rel.to_column),
                                 ("from", rel.from_node, rel.from_column)):
            node = self.nodes.get(label)
            if (node is not None and node.table_name == rel.table_name
                    and node.node_id == col):
                return side
        return None

    def edge_rows(self, rel: RelationshipSchema, df):
        """The rows of ``df``, ``rel``'s table, that are edges: every
        row of an edge list; of an FK-backed relationship's node table
        only the rows whose foreign key is set (DELETE clears it, and a
        NULL foreign key is no edge)."""
        side = self.fk_side(rel)
        if side is None:
            return df
        fk = rel.from_column if side == "to" else rel.to_column
        return df.filter(df[fk].isNotNull())

    # -- persistence -------------------------------------------------------
    def to_json(self) -> dict:
        return {
            "version": self.version,
            "nodes": {k: v.to_json() for k, v in self.nodes.items()},
            "relationships": {
                k: v.to_json() for k, v in self.relationships.items()
            },
        }

    @staticmethod
    def from_json(d: dict) -> "GraphSchema":
        return GraphSchema(
            version=int(d.get("version", 0)),
            nodes={
                k: NodeSchema.from_json(v) for k, v in d.get("nodes", {}).items()
            },
            relationships={
                k: RelationshipSchema.from_json(v)
                for k, v in d.get("relationships", {}).items()
            },
        )

    def save(self, path: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.to_json(), f, indent=2, sort_keys=True)
        os.replace(tmp, path)

    @staticmethod
    def load(path: str) -> "GraphSchema":
        with open(path) as f:
            return GraphSchema.from_json(json.load(f))
