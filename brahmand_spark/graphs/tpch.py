"""TPC-H-ish property graph over the driver-provided parquet tables.

Implements FIXTURES.md §B: node labels map 1:1 to the parquet tables;
relationship tables are *derived FK views* (select + rename) so no data is
modified. The derived edge views use the reference's physical naming
convention ``from_{FromLabel}`` / ``to_{ToLabel}`` (ddl_query.rs:259-261).

``Lineitem`` gets a synthetic node id ``li_id = l_orderkey * 10 +
l_linenumber`` (l_linenumber is 1..7 in TPC-H, so this is injective).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import GraphSchema, NodeSchema, RelationshipSchema
from ..io import configure, read_parquet
from ..session import GraphSession

NODE_TABLES = {
    # label: (parquet file, node id column)
    "Region": ("region", "r_regionkey"),
    "Nation": ("nation", "n_nationkey"),
    "Customer": ("customer", "c_custkey"),
    "Supplier": ("supplier", "s_suppkey"),
    "Part": ("part", "p_partkey"),
    "Order": ("orders", "o_orderkey"),
    "Lineitem": ("lineitem", "li_id"),
    "Event": ("events", "event_id"),
    "Document": ("documents", "doc_id"),
    "Embedding": ("embeddings", "vec_id"),
}

def lineitem_with_id(df: DataFrame) -> DataFrame:
    """Synthetic injective Lineitem node id.

    (l_orderkey, l_linenumber) is NOT unique in the driver-generated data,
    so we number rows within each order (total order over all columns for
    determinism) and pack: ``li_id = l_orderkey * 1000 + seq``. The window
    is partitioned by l_orderkey — a key-shuffle, not a global sort, so it
    scales (a global row_number would serialize on one partition).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("l_orderkey").orderBy(
        *[F.col(c) for c in df.columns if c != "l_orderkey"]
    )
    return df.withColumn(
        "li_id",
        (F.col("l_orderkey") * F.lit(1000) + F.row_number().over(w))
        .cast("bigint"),
    )


def _lineitem_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the id-stamped lineitem once per dataset (to a scratch dir)
    and read it back. Without this every query touching Lineitem re-runs
    the row_number window (shuffle + sort) once per pattern entity; with
    it, Lineitem scans are plain parquet with full filter/column
    pushdown. Falls back to on-the-fly derivation if scratch space is
    unavailable."""
    import hashlib
    import os
    import tempfile

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"brahmand_li_{key}.parquet")
    try:
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            df = lineitem_with_id(
                read_parquet(spark, f"{sf_dir}/lineitem.parquet")
            )
            df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)
    except Exception:
        return lineitem_with_id(
            read_parquet(spark, f"{sf_dir}/lineitem.parquet")
        )


def build_session(spark: SparkSession, sf_dir: str) -> GraphSession:
    configure(spark)
    schema = GraphSchema()
    dfs: dict[str, DataFrame] = {}
    for label, (fname, id_col) in NODE_TABLES.items():
        if label == "Lineitem":
            df = _lineitem_materialized(spark, sf_dir)
        else:
            df = read_parquet(spark, f"{sf_dir}/{fname}.parquet")
        dfs[label] = df
        schema.add_node(NodeSchema(
            label=label, table_name=label, node_id=id_col,
            column_names=list(df.columns), primary_keys=[id_col],
        ))

    li = dfs["Lineitem"]

    def edge(name, from_label, to_label, df, backing=None):
        """Declare a relationship. With ``backing=(node_label,
        from_col, to_col)`` the schema points at the NODE table that
        physically holds both endpoint columns (the FK) — the compiler
        then fuses eligible hops into a single join instead of
        edge-scan + node-scan + two joins. The derived (from_X, to_X)
        DataFrame is still registered under the rel name for direct
        ops/API use."""
        if backing is not None:
            node_label, from_col, to_col = backing
            prop_cols = [
                c for c in df.columns
                if c not in (f"from_{from_label}", f"to_{to_label}")
            ]
            schema.add_relationship(RelationshipSchema(
                type_name=name, table_name=node_label,
                from_node=from_label, to_node=to_label,
                from_column=from_col, to_column=to_col,
                column_names=prop_cols,
            ))
            return name, df
        from_col = f"from_{from_label}"
        to_col = f"to_{to_label}"
        prop_cols = [c for c in df.columns if c not in (from_col, to_col)]
        schema.add_relationship(RelationshipSchema(
            type_name=name, table_name=name,
            from_node=from_label, to_node=to_label,
            from_column=from_col, to_column=to_col,
            column_names=prop_cols,
        ))
        return name, df

    edges = dict([
        # FK-backed rels declare their backing node table so the
        # compiler fuses hops into single joins (the edge "table" is a
        # projection of the node table itself).
        edge("IN_REGION", "Nation", "Region", dfs["Nation"].select(
            F.col("n_nationkey").cast("bigint").alias("from_Nation"),
            F.col("n_regionkey").cast("bigint").alias("to_Region"),
        ), backing=("Nation", "n_nationkey", "n_regionkey")),
        edge("CUST_IN", "Customer", "Nation", dfs["Customer"].select(
            F.col("c_custkey").alias("from_Customer"),
            F.col("c_nationkey").cast("bigint").alias("to_Nation"),
        ), backing=("Customer", "c_custkey", "c_nationkey")),
        edge("SUPP_IN", "Supplier", "Nation", dfs["Supplier"].select(
            F.col("s_suppkey").alias("from_Supplier"),
            F.col("s_nationkey").cast("bigint").alias("to_Nation"),
        ), backing=("Supplier", "s_suppkey", "s_nationkey")),
        edge("PLACED", "Customer", "Order", dfs["Order"].select(
            F.col("o_custkey").alias("from_Customer"),
            F.col("o_orderkey").alias("to_Order"),
        ), backing=("Order", "o_custkey", "o_orderkey")),
        edge("HAS_LINE", "Order", "Lineitem", li.select(
            F.col("l_orderkey").alias("from_Order"),
            F.col("li_id").alias("to_Lineitem"),
            F.col("l_linenumber"),
        ), backing=("Lineitem", "l_orderkey", "li_id")),
        edge("OF_PART", "Lineitem", "Part", li.select(
            F.col("li_id").alias("from_Lineitem"),
            F.col("l_partkey").alias("to_Part"),
            F.col("l_quantity"), F.col("l_extendedprice"),
        ), backing=("Lineitem", "li_id", "l_partkey")),
        edge("SUPPLIED_BY", "Lineitem", "Supplier", li.select(
            F.col("li_id").alias("from_Lineitem"),
            F.col("l_suppkey").alias("to_Supplier"),
        ), backing=("Lineitem", "li_id", "l_suppkey")),
        # Self-relationship (Customer -> next Customer by key) so
        # same-label features — either-direction UNION DISTINCT and
        # variable-length paths — have a real exercise surface.
        # hop_w: deterministic per-edge weight (from-key mod), so
        # weighted var-length paths ([x IN relationships(p) | x.hop_w])
        # have a real property surface (r9)
        edge("NEXT_CUST", "Customer", "Customer", dfs["Customer"].select(
            F.col("c_custkey").alias("from_Customer"),
            (F.col("c_custkey") + F.lit(1)).alias("to_Customer"),
            (F.col("c_custkey") % F.lit(7) + F.lit(1))
            .cast("bigint").alias("hop_w"),
        ).join(
            dfs["Customer"].select(
                F.col("c_custkey").alias("to_Customer")),
            "to_Customer", "leftsemi",
        )),
        # Reverse chain — gives multi-type patterns (-[:NEXT_CUST|
        # PREV_CUST]->) a same-endpoints exercise surface; kept
        # PROP-LESS deliberately: per-arm access NULL-fills hop_w on
        # this arm (r9), and a same-label prop-less rel keeps the
        # adjacency 'both'-orientation fast path exercisable
        edge("PREV_CUST", "Customer", "Customer", dfs["Customer"].select(
            F.col("c_custkey").alias("from_Customer"),
            (F.col("c_custkey") - F.lit(1)).alias("to_Customer"),
        ).join(
            dfs["Customer"].select(
                F.col("c_custkey").alias("to_Customer")),
            "to_Customer", "leftsemi",
        )),
    ])

    # Every edge table above is a projection of the node tables
    # themselves (TPC-H FKs; NEXT_CUST/PREV_CUST leftsemi-filtered), so
    # referential integrity holds by construction -> unreferenced hop
    # endpoints skip their node-table join (FK-join elimination).
    session = GraphSession(
        spark, schema=schema, assume_referential_integrity=True,
    )
    for label, df in dfs.items():
        session.register_table(label, df)
    for name, df in edges.items():
        session.register_table(name, df)
    return session
