"""Catalog + DDL unit tests (reference semantics:
graph_schema.rs round-trip, endpoint validation graph_catalog.rs:101-125,
node-id validation ddl_query.rs:79-92)."""

import pytest

from brahmand_spark.catalog import GraphSchema, NodeSchema, RelationshipSchema
from brahmand_spark.errors import CatalogError


def sample_schema():
    g = GraphSchema()
    g.add_node(NodeSchema("Person", "person_tbl", "id", ["id", "name", "age"]))
    g.add_node(NodeSchema("Company", "company_tbl", "id", ["id", "name"]))
    g.add_relationship(RelationshipSchema(
        "WORKS_AT", "works_tbl", "Person", "Company",
        "from_Person", "to_Company", ["position"],
    ))
    return g


class TestCatalog:
    def test_roundtrip(self, tmp_path):
        g = sample_schema()
        p = str(tmp_path / "catalog.json")
        g.save(p)
        g2 = GraphSchema.load(p)
        assert g2.to_json() == g.to_json()
        assert g2.version == g.version

    def test_version_increments(self):
        g = GraphSchema()
        assert g.version == 0
        g.add_node(NodeSchema("A", "a", "id"))
        assert g.version == 1
        g.add_node(NodeSchema("B", "b", "id"))
        g.add_relationship(RelationshipSchema(
            "R", "r", "A", "B", "from_A", "to_B"))
        assert g.version == 3

    def test_missing_endpoint_rejected(self):
        g = GraphSchema()
        g.add_node(NodeSchema("A", "a", "id"))
        with pytest.raises(CatalogError, match="missing node table"):
            g.add_relationship(RelationshipSchema(
                "R", "r", "A", "Nope", "from_A", "to_Nope"))

    def test_duplicate_rejected(self):
        g = sample_schema()
        with pytest.raises(CatalogError):
            g.add_node(NodeSchema("Person", "x", "id"))


class TestDDLSession:
    def test_node_id_dtype_enforced(self, spark):
        from brahmand_spark import GraphSession

        s = GraphSession(spark)
        with pytest.raises(CatalogError, match="Int64/UInt64"):
            s.execute("CREATE NODE TABLE T (id String, NODE ID (id))")

    def test_node_id_required(self, spark):
        from brahmand_spark import GraphSession

        s = GraphSession(spark)
        with pytest.raises(CatalogError, match="NODE ID"):
            s.execute("CREATE NODE TABLE T (id Int64, PRIMARY KEY (id))")

    def test_rel_before_nodes_rejected(self, spark):
        from brahmand_spark import GraphSession

        s = GraphSession(spark)
        with pytest.raises(CatalogError, match="missing node table"):
            s.execute("CREATE REL TABLE R FROM A TO B (x Int64)")

    def test_ddl_then_query_empty_table(self, spark):
        from brahmand_spark import GraphSession

        s = GraphSession(spark)
        s.execute("CREATE NODE TABLE City (id Int64, name String, NODE ID (id))")
        out = s.execute("MATCH (c:City) RETURN c.name AS name")
        assert out.count() == 0
        assert out.columns == ["name"]


class TestFileSources:
    """Node/rel tables can bind to any Spark-native file source —
    the reference binds only ClickHouse tables; we dispatch by
    extension (parquet keeps nanos handling, CSV defaults to
    header+inferSchema, JSON-lines as-is)."""

    def test_cypher_over_csv_and_jsonl(self, spark, tmp_path):
        from brahmand_spark.catalog import (
            GraphSchema, NodeSchema, RelationshipSchema,
        )
        from brahmand_spark.session import GraphSession

        people = tmp_path / "people.csv"
        people.write_text("p_id,name\n1,ada\n2,bob\n3,cyd\n")
        knows = tmp_path / "knows.jsonl"
        knows.write_text(
            '{"from_Person": 1, "to_Person": 2}\n'
            '{"from_Person": 2, "to_Person": 3}\n'
        )
        schema = GraphSchema()
        schema.add_node(NodeSchema(
            label="Person", table_name=str(people), node_id="p_id",
            column_names=["p_id", "name"], primary_keys=["p_id"],
        ))
        schema.add_relationship(RelationshipSchema(
            type_name="KNOWS", table_name=str(knows),
            from_node="Person", to_node="Person",
            from_column="from_Person", to_column="to_Person",
        ))
        s = GraphSession(spark, schema=schema)
        rows = s.execute(
            "MATCH (a:Person)-[:KNOWS]->(b:Person) "
            "RETURN a.name AS src, b.name AS dst ORDER BY src"
        ).collect()
        assert [(r.src, r.dst) for r in rows] == [("ada", "bob"),
                                                  ("bob", "cyd")]


class TestEmptyRelAdjIndex:
    def test_build_adj_index_on_empty_edges(self, spark):
        """Building the index over an EMPTY relationship table must
        not crash."""
        from brahmand_spark.session import GraphSession

        s = GraphSession(spark, allow_writes=True)
        s.execute("CREATE NODE TABLE Person (id Int64, "
                  "PRIMARY KEY(id), NODE ID(id))")
        s.execute("CREATE REL TABLE KNOWS FROM Person TO Person ()")
        s.build_adj_index("KNOWS")  # no edges yet — must not raise
        assert s.schema.relationship("KNOWS").adj_index is True
