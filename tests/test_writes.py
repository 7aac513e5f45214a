"""Executable write path (extension; the reference rejects writes at
execution, ddl_query.rs:339-352). DDL-built in-memory graph mutated via
CREATE / SET / REMOVE / DELETE Cypher, verified by reading back."""

import pytest

from brahmand_spark.errors import PlanError, UnsupportedError
from brahmand_spark.session import GraphSession

from .helpers import count_jobs


@pytest.fixture()
def wsession(spark):
    s = GraphSession(spark, allow_writes=True)
    s.execute("""CREATE NODE TABLE Person (id Int64, name String,
                 age Int64, PRIMARY KEY(id), NODE ID(id))""")
    s.execute("""CREATE NODE TABLE City (id Int64, name String,
                 PRIMARY KEY(id), NODE ID(id))""")
    s.execute("CREATE REL TABLE LIVES_IN FROM Person TO City (since Int64)")
    s.execute("CREATE REL TABLE KNOWS FROM Person TO Person ()")
    return s


def rows(session, cypher):
    return {tuple(r) for r in session.execute(cypher).collect()}


class TestCreate:
    def test_create_node(self, wsession):
        out = wsession.execute(
            "CREATE (p:Person {id: 1, name: 'Ada', age: 36})"
        ).collect()[0]
        assert out["nodes_created"] == 1
        assert rows(wsession, "MATCH (p:Person) RETURN p.name AS n, p.age AS a") \
            == {("Ada", 36)}

    def test_create_path_with_rel(self, wsession):
        wsession.execute(
            """CREATE (p:Person {id: 1, name: 'Ada', age: 36})
               -[:LIVES_IN {since: 2020}]->(c:City {id: 10, name: 'London'})"""
        )
        assert rows(wsession, """MATCH (p:Person)-[r:LIVES_IN]->(c:City)
                                 RETURN p.name AS p, c.name AS c, r.since AS s""") \
            == {("Ada", "London", 2020)}

    def test_create_rel_between_matched(self, wsession):
        wsession.execute("CREATE (p:Person {id: 1, name: 'Ada', age: 36})")
        wsession.execute("CREATE (p:Person {id: 2, name: 'Bob', age: 30})")
        out = wsession.execute(
            """MATCH (a:Person {name: 'Ada'}) MATCH (b:Person {name: 'Bob'})
               CREATE (a)-[:KNOWS]->(b)"""
        ).collect()[0]
        assert out["relationships_created"] == 1
        assert rows(wsession, """MATCH (a:Person)-[:KNOWS]->(b:Person)
                                 RETURN a.name AS a, b.name AS b""") \
            == {("Ada", "Bob")}

    def test_create_per_match_row(self, wsession):
        for i in range(3):
            wsession.execute(
                f"CREATE (p:Person {{id: {i}, name: 'P{i}', age: {20 + i}}})"
            )
        # one City per matched Person, id derived from the match row
        out = wsession.execute(
            """MATCH (p:Person)
               CREATE (c:City {id: p.id + 100, name: 'home'})"""
        ).collect()[0]
        assert out["nodes_created"] == 3
        assert rows(wsession, "MATCH (c:City) RETURN c.id AS i") \
            == {(100,), (101,), (102,)}

    def test_create_incoming_direction(self, wsession):
        wsession.execute(
            """CREATE (c:City {id: 1, name: 'Rome'})
               <-[:LIVES_IN {since: 1999}]-(p:Person {id: 7, name: 'Eve', age: 20})"""
        )
        assert rows(wsession, """MATCH (p:Person)-[:LIVES_IN]->(c:City)
                                 RETURN p.name AS p, c.name AS c""") \
            == {("Eve", "Rome")}

    def test_create_wrong_endpoints_errors(self, wsession):
        with pytest.raises(PlanError, match="connects"):
            wsession.execute(
                """CREATE (c:City {id: 1, name: 'X'})
                   -[:LIVES_IN]->(p:Person {id: 2, name: 'Y', age: 1})"""
            )

    def test_create_requires_node_id(self, wsession):
        with pytest.raises(PlanError, match="node id"):
            wsession.execute("CREATE (p:Person {name: 'NoId'})")


class TestSetRemoveDelete:
    @pytest.fixture(autouse=True)
    def seed(self, wsession):
        for i, (name, age) in enumerate(
            [("Ada", 36), ("Bob", 30), ("Cam", 41)]
        ):
            wsession.execute(
                f"CREATE (p:Person {{id: {i}, name: '{name}', age: {age}}})"
            )
        wsession.execute("CREATE (c:City {id: 100, name: 'London'})")
        wsession.execute(
            """MATCH (p:Person) MATCH (c:City)
               WHERE p.name = 'Ada' AND c.id = 100
               CREATE (p)-[:LIVES_IN {since: 2020}]->(c)"""
        )

    def test_set_property(self, wsession):
        out = wsession.execute(
            "MATCH (p:Person) WHERE p.name = 'Bob' SET p.age = p.age + 1"
        ).collect()[0]
        assert out["properties_set"] == 1
        assert rows(wsession, "MATCH (p:Person) RETURN p.name AS n, p.age AS a") \
            == {("Ada", 36), ("Bob", 31), ("Cam", 41)}

    def test_set_new_column(self, wsession):
        wsession.execute("MATCH (p:Person) SET p.vip = true")
        assert rows(wsession, "MATCH (p:Person) RETURN p.name AS n, p.vip AS v") \
            == {("Ada", True), ("Bob", True), ("Cam", True)}

    def test_remove_property(self, wsession):
        wsession.execute("MATCH (p:Person) WHERE p.name = 'Cam' REMOVE p.age")
        assert rows(wsession, "MATCH (p:Person) RETURN p.name AS n, p.age AS a") \
            == {("Ada", 36), ("Bob", 30), ("Cam", None)}

    def test_delete_node(self, wsession):
        out = wsession.execute(
            "MATCH (p:Person) WHERE p.name = 'Bob' DELETE p"
        ).collect()[0]
        assert out["nodes_deleted"] == 1
        assert rows(wsession, "MATCH (p:Person) RETURN p.name AS n") \
            == {("Ada",), ("Cam",)}

    def test_detach_delete_removes_edges(self, wsession):
        out = wsession.execute(
            "MATCH (p:Person) WHERE p.name = 'Ada' DETACH DELETE p"
        ).collect()[0]
        assert out["nodes_deleted"] == 1
        assert out["relationships_deleted"] == 1
        assert wsession.execute(
            "MATCH (p:Person)-[:LIVES_IN]->(c:City) RETURN count(*) AS n"
        ).collect()[0]["n"] == 0

    def test_delete_relationship(self, wsession):
        out = wsession.execute(
            "MATCH (p:Person)-[r:LIVES_IN]->(c:City) DELETE r"
        ).collect()[0]
        assert out["relationships_deleted"] == 1
        # endpoints survive
        assert wsession.execute(
            "MATCH (p:Person) RETURN count(*) AS n"
        ).collect()[0]["n"] == 3

    def test_set_cross_alias_value_works(self, wsession):
        # supported since r12 (TestCrossAliasSet pins the semantics);
        # this pins that the old rejection is gone: the cartesian
        # (p, c) frame reduces to one value per p (max — here unique)
        wsession.execute("CREATE (p:Person {id: 1, name: 'x', age: 0})")
        wsession.execute("CREATE (c:City {id: 100, name: 'C'})")
        wsession.execute(
            """MATCH (p:Person) MATCH (c:City)
               WHERE c.id = 100 SET p.age = c.id"""
        )
        assert rows(wsession,
                    "MATCH (p:Person) RETURN p.age AS a") == {(100,)}


class TestWriteGating:
    def test_rejected_without_flag(self, spark):
        s = GraphSession(spark)
        s.execute("""CREATE NODE TABLE Person (id Int64, name String,
                     PRIMARY KEY(id), NODE ID(id))""")
        with pytest.raises(UnsupportedError, match="allow_writes"):
            s.execute("CREATE (p:Person {id: 1, name: 'X'})")

    def test_return_after_write_errors(self, wsession):
        with pytest.raises(UnsupportedError, match="RETURN after a write"):
            wsession.execute(
                "CREATE (p:Person {id: 9, name: 'Z', age: 1}) RETURN p.name"
            )


class TestMerge:
    @pytest.fixture(autouse=True)
    def seed(self, wsession):
        wsession.execute("CREATE (p:Person {id: 1, name: 'Ada', age: 36})")
        wsession.execute("CREATE (c:City {id: 100, name: 'London'})")

    def test_merge_existing_node_noop(self, wsession):
        out = wsession.execute(
            "MERGE (p:Person {id: 1, name: 'Ada', age: 36})"
        ).collect()[0]
        assert out["nodes_created"] == 0
        assert wsession.execute(
            "MATCH (p:Person) RETURN count(*) AS n").collect()[0]["n"] == 1

    def test_merge_creates_missing_node(self, wsession):
        out = wsession.execute(
            "MERGE (p:Person {id: 2, name: 'Bob', age: 30})"
        ).collect()[0]
        assert out["nodes_created"] == 1
        assert rows(wsession, "MATCH (p:Person) RETURN p.name AS n") \
            == {("Ada",), ("Bob",)}

    def test_merge_is_idempotent(self, wsession):
        for _ in range(3):
            wsession.execute("MERGE (p:Person {id: 5, name: 'Eve', age: 1})")
        assert wsession.execute(
            "MATCH (p:Person) WHERE p.name = 'Eve' RETURN count(*) AS n"
        ).collect()[0]["n"] == 1

    def test_merge_on_create_on_match(self, wsession):
        wsession.execute(
            """MERGE (p:Person {id: 9, name: 'New', age: 0})
               ON CREATE SET p.age = 99"""
        )
        assert rows(wsession,
                    "MATCH (p:Person) WHERE p.name = 'New' RETURN p.age AS a") \
            == {(99,)}
        wsession.execute(
            """MERGE (p:Person {id: 9, name: 'New', age: 99})
               ON CREATE SET p.age = 1 ON MATCH SET p.age = 50"""
        )
        assert rows(wsession,
                    "MATCH (p:Person) WHERE p.name = 'New' RETURN p.age AS a") \
            == {(50,)}

    def test_merge_relationship(self, wsession):
        merge = """MATCH (p:Person) MATCH (c:City)
                   WHERE p.id = 1 AND c.id = 100
                   MERGE (p)-[:LIVES_IN {since: 2020}]->(c)"""
        out1 = wsession.execute(merge).collect()[0]
        out2 = wsession.execute(merge).collect()[0]
        assert out1["relationships_created"] == 1
        assert out2["relationships_created"] == 0
        assert wsession.execute(
            "MATCH (p:Person)-[:LIVES_IN]->(c:City) RETURN count(*) AS n"
        ).collect()[0]["n"] == 1

    def test_merge_per_match_row(self, wsession):
        wsession.execute("CREATE (p:Person {id: 2, name: 'Bob', age: 30})")
        # one City per person id, merging twice creates once
        m = """MATCH (p:Person)
               MERGE (c:City {id: p.id + 200, name: 'gen'})"""
        out1 = wsession.execute(m).collect()[0]
        out2 = wsession.execute(m).collect()[0]
        assert out1["nodes_created"] == 2
        assert out2["nodes_created"] == 0

    def test_merge_unbound_rel_endpoint_errors(self, wsession):
        with pytest.raises(UnsupportedError, match="bound by MATCH"):
            wsession.execute(
                "MERGE (p:Person {id: 1})-[:LIVES_IN]->(c:City {id: 100})"
            )


class TestWriteInvalidatesAdjacency:
    def test_edge_write_drops_stale_index(self, spark):
        """A write to an indexed relationship must invalidate the
        grouped-adjacency tables — otherwise the planner would keep
        answering from a stale materialization."""
        from brahmand_spark.session import GraphSession

        s = GraphSession(spark, allow_writes=True)
        s.execute("CREATE NODE TABLE P (id Int64, NODE ID (id))")
        s.execute("CREATE REL TABLE F FROM P TO P (ADJ INDEX(true))")
        s.execute("CREATE (:P {id: 1}), (:P {id: 2}), (:P {id: 3})")
        s.execute(
            "MATCH (a:P {id: 1}) MATCH (b:P {id: 2}) CREATE (a)-[:F]->(b)")
        s.build_adj_index("F")
        q = "MATCH (a:P)-[:F]->(b:P) RETURN a.id AS src, b.id AS dst"
        assert [(r.src, r.dst) for r in s.execute(q).collect()] == [(1, 2)]
        # write a second edge: the indexed hop must see it immediately
        s.execute(
            "MATCH (a:P {id: 2}) MATCH (b:P {id: 3}) CREATE (a)-[:F]->(b)")
        got = sorted((r.src, r.dst) for r in s.execute(q).collect())
        assert got == [(1, 2), (2, 3)]
        assert "F_outgoing" not in s.tables  # stale tables dropped


class TestForeach:
    """FOREACH execution under allow_writes (r7, VERDICT r6 #6):
    nodes(path) marking, bound-alias SET with last-element-wins,
    empty-list no-op, per-element DELETE, and the guided rejections."""

    def _people(self, wsession, spark):
        wsession.register_table("Person", spark.createDataFrame(
            [(1, "a", 30), (2, "b", 40), (3, "c", 50), (4, "d", 60)],
            "id long, name string, age long"))
        wsession.register_table("KNOWS", spark.createDataFrame(
            [(1, 2), (2, 3)], "from_Person long, to_Person long"))

    def test_mark_nodes_on_path(self, wsession, spark):
        self._people(wsession, spark)
        wsession.execute(
            "MATCH p = (a:Person {id: 1})-[:KNOWS]->(b:Person) "
            "FOREACH (x IN nodes(p) | SET x.seen = 1)")
        got = rows(wsession,
                   "MATCH (n:Person) RETURN n.id AS i, n.seen AS s")
        assert got == {(1, 1), (2, 1), (3, None), (4, None)}

    def test_bound_alias_last_element_wins(self, wsession, spark):
        self._people(wsession, spark)
        wsession.execute(
            "MATCH (a:Person {id: 4}) "
            "FOREACH (x IN [10, 20, 30] | SET a.score = x)")
        assert rows(wsession, "MATCH (n:Person {id: 4}) "
                              "RETURN n.score AS s") == {(30,)}

    def test_value_mixes_loop_var_and_target(self, wsession, spark):
        self._people(wsession, spark)
        wsession.execute(
            "MATCH (a:Person {id: 4}) "
            "FOREACH (x IN [5] | SET a.age = a.age + x)")
        assert rows(wsession, "MATCH (n:Person {id: 4}) "
                              "RETURN n.age AS a") == {(65,)}

    def test_empty_list_is_noop(self, wsession, spark):
        self._people(wsession, spark)
        wsession.execute(
            "MATCH (a:Person {id: 1}) "
            "FOREACH (x IN [] | SET a.score = 999)")
        assert rows(wsession, "MATCH (n:Person {id: 1}) "
                              "RETURN n.score AS s") == {(None,)}

    def test_detach_delete_loop_var(self, wsession, spark):
        self._people(wsession, spark)
        wsession.execute(
            "MATCH p = (a:Person {id: 2})-[:KNOWS]->(b:Person) "
            "FOREACH (x IN nodes(p) | DETACH DELETE x)")
        assert rows(wsession, "MATCH (n:Person) RETURN n.id AS i") \
            == {(1,), (4,)}
        assert rows(wsession, "MATCH (:Person)-[:KNOWS]->(m:Person) "
                              "RETURN m.id AS i") == set()

    def test_gated_without_allow_writes(self, spark):
        s = GraphSession(spark)
        s.execute("CREATE NODE TABLE Q (id Int64, NODE ID (id))")
        s.register_table("Q", spark.createDataFrame([(1,)], "id long"))
        with pytest.raises(UnsupportedError, match="allow_writes"):
            s.execute("MATCH (q:Q) FOREACH (x IN [1] | SET q.v = x)")

    def test_unsupported_bodies_guided(self, wsession, spark):
        from brahmand_spark.errors import ParseError

        self._people(wsession, spark)
        with pytest.raises(ParseError, match="only SET and DELETE"):
            wsession.execute(
                "MATCH (a:Person) FOREACH (x IN [1] | "
                "CREATE (:Person {id: x}))")
        with pytest.raises(ParseError, match="FOREACH here"):
            wsession.execute("FOREACH (x IN [1] | SET x.v = 1)")
        with pytest.raises(UnsupportedError, match="single-label"):
            wsession.execute(
                "MATCH (a:Person {id: 1}) "
                "FOREACH (x IN [1, 2] | SET x.v = 1)")

    def test_scalar_list_requires_no_node_target(self, wsession, spark):
        self._people(wsession, spark)
        with pytest.raises(PlanError, match="shadows"):
            wsession.execute(
                "MATCH (a:Person {id: 1}) "
                "FOREACH (a IN [1] | SET a.v = 1)")

    def test_foreach_soft_keyword_still_identifier(self, wsession,
                                                   spark):
        self._people(wsession, spark)
        got = wsession.execute(
            "MATCH (n:Person {id: 1}) RETURN n.id AS foreach").collect()
        assert got[0]["foreach"] == 1


class TestRelPropertySet:
    """SET/REMOVE on relationship properties (r7 — previously a
    guided 'not yet'): matched (from, to) pairs update conditionally;
    parallel edges sharing the pair all update (edge-list model has
    no edge identity — same divergence as relationship DELETE)."""

    def _graph(self, wsession, spark):
        wsession.register_table("Person", spark.createDataFrame(
            [(1, "a", 30), (2, "b", 40), (3, "c", 50)],
            "id long, name string, age long"))
        wsession.register_table("City", spark.createDataFrame(
            [(100, "x"), (200, "y")], "id long, name string"))
        wsession.register_table("LIVES_IN", spark.createDataFrame(
            [(1, 100, 2019), (2, 100, 2020), (3, 200, 2021)],
            "from_Person long, to_City long, since long"))

    def test_set_rel_property(self, wsession, spark):
        self._graph(wsession, spark)
        wsession.execute(
            "MATCH (p:Person)-[r:LIVES_IN]->(c:City {id: 100}) "
            "SET r.since = r.since + 1")
        got = rows(wsession,
                   "MATCH (:Person)-[r:LIVES_IN]->(c:City) "
                   "RETURN c.id AS cid, r.since AS s")
        assert got == {(100, 2020), (100, 2021), (200, 2021)}

    def test_set_new_rel_property_and_remove(self, wsession, spark):
        self._graph(wsession, spark)
        wsession.execute(
            "MATCH (p:Person {id: 1})-[r:LIVES_IN]->(c:City) "
            "SET r.verified = 1")
        got = rows(wsession,
                   "MATCH (p:Person)-[r:LIVES_IN]->(:City) "
                   "RETURN p.id AS pid, r.verified AS v")
        assert got == {(1, 1), (2, None), (3, None)}
        wsession.execute(
            "MATCH (p:Person {id: 1})-[r:LIVES_IN]->(c:City) "
            "REMOVE r.verified")
        got = rows(wsession,
                   "MATCH (p:Person {id: 1})-[r:LIVES_IN]->(:City) "
                   "RETURN r.verified AS v")
        assert got == {(None,)}

    def test_value_from_other_alias_works(self, wsession, spark):
        # supported since r12: values referencing other bound
        # variables compute against the matched frame (max per
        # endpoint pair — TestCrossAliasSet pins the node side)
        self._graph(wsession, spark)
        wsession.execute(
            "MATCH (p:Person)-[r:LIVES_IN]->(c:City) "
            "SET r.since = p.age")
        got = rows(wsession,
                   "MATCH (p:Person)-[r:LIVES_IN]->(c:City) "
                   "RETURN p.age AS a, r.since AS s")
        assert got and all(a == s for a, s in got)

    def test_undirected_set_rewrites_each_edge_once(self, wsession,
                                                    spark):
        """An undirected match keys each edge from both ends; the edge
        row still meets one key, so the SET keeps it once (matching
        either orientation of every key pair duplicated it)."""
        self._graph(wsession, spark)
        wsession.register_table("KNOWS", spark.createDataFrame(
            [(1, 2), (2, 3)], "from_Person long, to_Person long"))
        out = wsession.execute(
            "MATCH (a:Person)-[r:KNOWS]-(b:Person) SET r.w = 7"
        ).collect()[0]
        assert out["properties_set"] == 2
        assert sorted(tuple(r) for r in wsession.execute(
            "MATCH (a:Person)-[r:KNOWS]->(b:Person) "
            "RETURN a.id, b.id, r.w").collect()) == [(1, 2, 7), (2, 3, 7)]

    def test_foreach_sets_rel_property(self, wsession, spark):
        self._graph(wsession, spark)
        wsession.execute(
            "MATCH (p:Person {id: 1})-[r:LIVES_IN]->(c:City) "
            "FOREACH (x IN [5, 6] | SET r.since = x)")
        got = rows(wsession,
                   "MATCH (p:Person)-[r:LIVES_IN]->(:City) "
                   "RETURN p.id AS pid, r.since AS s")
        assert got == {(1, 6), (2, 2020), (3, 2021)}


class TestKeyColumnGuards:
    """SET/REMOVE must not silently re-key a node or re-point an edge
    (r7 review): id and endpoint columns are rejected as targets."""

    def test_node_id_set_rejected(self, wsession, spark):
        wsession.register_table("Person", spark.createDataFrame(
            [(1, "a", 30)], "id long, name string, age long"))
        with pytest.raises(PlanError, match="re-key"):
            wsession.execute("MATCH (p:Person {id: 1}) SET p.id = 99")

    def test_foreach_node_id_set_rejected(self, wsession, spark):
        """FOREACH's SET runs the key guard of a plain SET (it re-keyed
        node 4 to 99 silently)."""
        wsession.register_table("Person", spark.createDataFrame(
            [(4, "d", 60)], "id long, name string, age long"))
        with pytest.raises(PlanError, match="re-key"):
            wsession.execute(
                "MATCH (a:Person {id: 4}) "
                "FOREACH (x IN [99] | SET a.id = x)")
        assert rows(wsession, "MATCH (p:Person) RETURN p.id AS i") \
            == {(4,)}

    def test_rel_endpoint_set_rejected(self, wsession, spark):
        wsession.register_table("Person", spark.createDataFrame(
            [(1, "a", 30)], "id long, name string, age long"))
        wsession.register_table("City", spark.createDataFrame(
            [(100, "x")], "id long, name string"))
        wsession.register_table("LIVES_IN", spark.createDataFrame(
            [(1, 100, 2019)], "from_Person long, to_City long, "
                              "since long"))
        with pytest.raises(PlanError, match="re-point"):
            wsession.execute(
                "MATCH (:Person)-[r:LIVES_IN]->(:City) "
                "SET r.from_Person = 0")
        with pytest.raises(PlanError, match="re-point"):
            wsession.execute(
                "MATCH (:Person)-[r:LIVES_IN]->(:City) "
                "REMOVE r.to_City")


class TestSetMapMerge:
    """SET n += {map} (r7): desugars at parse time into per-key
    property assignments — guards, snapshots, and replays all reuse
    the single-property path."""

    def test_plus_equals_sets_multiple(self, wsession, spark):
        wsession.register_table("Person", spark.createDataFrame(
            [(1, "a", 30), (2, "b", 40)],
            "id long, name string, age long"))
        wsession.execute(
            "MATCH (p:Person {id: 1}) "
            "SET p += {age: 31, vip: TRUE}")
        got = rows(wsession, "MATCH (p:Person) "
                             "RETURN p.id AS i, p.age AS a, p.vip AS v")
        assert got == {(1, 31, True), (2, 40, None)}

    def test_plus_equals_in_foreach(self, wsession, spark):
        wsession.register_table("Person", spark.createDataFrame(
            [(1, "a", 30)], "id long, name string, age long"))
        wsession.execute(
            "MATCH (p:Person {id: 1}) "
            "FOREACH (x IN [7] | SET p += {score: x, seen: 1})")
        got = rows(wsession, "MATCH (p:Person {id: 1}) "
                             "RETURN p.score AS s, p.seen AS e")
        assert got == {(7, 1)}

    def test_non_map_value_guided(self, wsession, spark):
        from brahmand_spark.errors import ParseError

        with pytest.raises(ParseError, match="map literal"):
            wsession.execute("MATCH (p:Person) SET p += 5")

    def test_id_key_still_guarded(self, wsession, spark):
        wsession.register_table("Person", spark.createDataFrame(
            [(1, "a", 30)], "id long, name string, age long"))
        with pytest.raises(PlanError, match="re-key"):
            wsession.execute(
                "MATCH (p:Person {id: 1}) SET p += {id: 9, age: 31}")


class TestRelWriteOrientation:
    """r7 review: a rev-matched relationship binds (to, from) in its
    pair columns — SET/DELETE must key the edge-table join off the
    binding's storage orientation, not assume forward."""

    def _graph(self, wsession, spark):
        wsession.register_table("Person", spark.createDataFrame(
            [(1, "a", 30)], "id long, name string, age long"))
        wsession.register_table("City", spark.createDataFrame(
            [(100, "x")], "id long, name string"))
        wsession.register_table("LIVES_IN", spark.createDataFrame(
            [(1, 100, 2019)],
            "from_Person long, to_City long, since long"))

    def test_reverse_matched_set_updates(self, wsession, spark):
        self._graph(wsession, spark)
        wsession.execute(
            "MATCH (c:City {id: 100})<-[r:LIVES_IN]-(p:Person {id: 1}) "
            "SET r.since = 9999")
        assert rows(wsession, "MATCH (:Person)-[r:LIVES_IN]->(:City) "
                              "RETURN r.since AS s") == {(9999,)}

    def test_reverse_matched_delete_removes(self, wsession, spark):
        self._graph(wsession, spark)
        wsession.execute(
            "MATCH (c:City {id: 100})<-[r:LIVES_IN]-(p:Person) "
            "DELETE r")
        assert rows(wsession, "MATCH (:Person)-[r:LIVES_IN]->(:City) "
                              "RETURN r.since AS s") == set()

    def test_forward_matched_still_works(self, wsession, spark):
        self._graph(wsession, spark)
        wsession.execute(
            "MATCH (p:Person)-[r:LIVES_IN]->(c:City) SET r.since = 1")
        assert rows(wsession, "MATCH (:Person)-[r:LIVES_IN]->(:City) "
                              "RETURN r.since AS s") == {(1,)}


class TestSetSnapshotSemantics:
    """r7 review: all assignments of ONE SET clause evaluate against
    the pre-clause state (openCypher) — `SET n.a = n.b, n.b = n.a`
    swaps, never sees mid-statement values."""

    def test_swap(self, wsession, spark):
        wsession.register_table("Person", spark.createDataFrame(
            [(1, "a", 30)], "id long, name string, age long"))
        wsession.execute("MATCH (p:Person {id: 1}) "
                         "SET p.age = 99, p.name = 'b'")
        wsession.execute(
            "MATCH (p:Person {id: 1}) SET p.age = p.id, p.id2 = p.age")
        got = rows(wsession, "MATCH (p:Person) "
                             "RETURN p.age AS a, p.id2 AS b")
        # p.id2 sees the PRE-clause age (99), not the new one (1)
        assert got == {(1, 99)}

    def test_plus_equals_self_reference(self, wsession, spark):
        wsession.register_table("Person", spark.createDataFrame(
            [(1, "a", 30)], "id long, name string, age long"))
        wsession.execute(
            "MATCH (p:Person {id: 1}) SET p += {x: p.age, age: 0}")
        got = rows(wsession, "MATCH (p:Person) "
                             "RETURN p.x AS x, p.age AS a")
        assert got == {(30, 0)}


class TestCallInTransactions:
    """CALL { WITH n <writes> } IN TRANSACTIONS [OF k ROWS] (r9 —
    openCypher's batched-commit device): id-range batches over the
    imported variable, one commit (table snapshot) per batch, exact
    parity with the one-shot write."""

    def _people(self, wsession, n=25):
        for i in range(n):
            wsession.execute(
                f"CREATE (p:Person {{id: {i}, name: 'P{i}', "
                f"age: {20 + i}}})")
        return wsession

    @staticmethod
    def _commits(monkeypatch):
        """Counter of the table snapshots ``writes._store`` commits."""
        import brahmand_spark.writes as W

        n = [0]
        store = W._store

        def counting(*args, **kw):
            n[0] += 1
            return store(*args, **kw)

        monkeypatch.setattr(W, "_store", counting)
        return n

    def test_batched_set_parity_and_commits(self, wsession, monkeypatch):
        commits = self._commits(monkeypatch)
        s = self._people(wsession)
        base = commits[0]
        out = s.execute(
            "MATCH (p:Person) WHERE p.id < 20 "
            "CALL { WITH p SET p.age = p.age + 100 } "
            "IN TRANSACTIONS OF 6 ROWS").collect()
        # 20 ids in batches of 6 -> 6,6,6,2
        assert [(r["batch"], r["properties_set"]) for r in out] == \
            [(0, 6), (1, 6), (2, 6), (3, 2)]
        # one table snapshot (commit) per batch
        assert commits[0] == base + 4
        got = rows(s, "MATCH (p:Person) RETURN p.id AS i, p.age AS a")
        assert got == {(i, 20 + i + (100 if i < 20 else 0))
                       for i in range(25)}

    def test_batched_delete_matches_one_shot(self, spark):
        def build():
            s = GraphSession(spark, allow_writes=True)
            s.execute("CREATE NODE TABLE Person (id Int64, age Int64, "
                      "PRIMARY KEY(id), NODE ID(id))")
            s.execute("CREATE REL TABLE KNOWS FROM Person TO Person ()")
            for i in range(12):
                s.execute(f"CREATE (p:Person {{id: {i}, age: {i}}})")
            s.execute("MATCH (a:Person) MATCH (b:Person) "
                      "WHERE b.id = a.id + 1 CREATE (a)-[:KNOWS]->(b)")
            return s

        s1 = build()
        out = s1.execute(
            "MATCH (p:Person) WHERE p.id % 2 = 0 "
            "CALL { WITH p DETACH DELETE p } "
            "IN TRANSACTIONS OF 3 ROWS").collect()
        assert len(out) == 2  # 6 ids / 3 per batch
        s2 = build()
        s2.execute("MATCH (p:Person) WHERE p.id % 2 = 0 "
                   "DETACH DELETE p")
        assert rows(s1, "MATCH (p:Person) RETURN p.id AS i") == \
            rows(s2, "MATCH (p:Person) RETURN p.id AS i")
        assert rows(s1, "MATCH (a:Person)-[:KNOWS]->(b:Person) "
                        "RETURN a.id AS x, b.id AS y") == \
            rows(s2, "MATCH (a:Person)-[:KNOWS]->(b:Person) "
                     "RETURN a.id AS x, b.id AS y")

    def test_default_batch_size_single_batch(self, wsession):
        s = self._people(wsession, n=5)
        out = s.execute(
            "MATCH (p:Person) "
            "CALL { WITH p SET p.age = 0 } IN TRANSACTIONS").collect()
        assert [r["batch"] for r in out] == [0]  # default 1000 rows
        assert rows(s, "MATCH (p:Person) RETURN DISTINCT p.age AS a") \
            == {(0,)}

    def test_of_k_rows_counts_rows_not_ids(self, spark, monkeypatch):
        """r10 (VERDICT r9 Missing #5): when one anchor id matches many
        outer rows, OF k ROWS batches by ROW count — person 0 alone
        carries 4 match rows, so 6 total rows with OF 4 split into
        {p0} (4 rows) + {p1, p2} (2 rows) instead of the old
        id-counting single batch of 3 ids."""
        s = GraphSession(spark, allow_writes=True)
        s.execute("CREATE NODE TABLE Person (id Int64, age Int64, "
                  "PRIMARY KEY(id), NODE ID(id))")
        s.execute("CREATE REL TABLE KNOWS FROM Person TO Person ()")
        for i in range(6):
            s.execute(f"CREATE (p:Person {{id: {i}, age: 0}})")
        for j in (1, 2, 3, 4):  # person 0 -> 4 rows in the outer match
            s.execute(f"MATCH (a:Person) MATCH (b:Person) WHERE a.id = 0 "
                      f"AND b.id = {j} CREATE (a)-[:KNOWS]->(b)")
        s.execute("MATCH (a:Person) MATCH (b:Person) WHERE a.id = 1 "
                  "AND b.id = 2 CREATE (a)-[:KNOWS]->(b)")
        s.execute("MATCH (a:Person) MATCH (b:Person) WHERE a.id = 2 "
                  "AND b.id = 3 CREATE (a)-[:KNOWS]->(b)")
        commits = self._commits(monkeypatch)
        base = commits[0]
        out = s.execute(
            "MATCH (a:Person)-[:KNOWS]->(b:Person) "
            "CALL { WITH a SET a.age = a.age + 1 } "
            "IN TRANSACTIONS OF 4 ROWS").collect()
        assert [(r["batch"], r["committed"]) for r in out] == \
            [(0, True), (1, True)]
        assert commits[0] == base + 2  # one commit per ROW batch
        got = rows(s, "MATCH (p:Person) RETURN p.id AS i, p.age AS a")
        # parity with the one-shot write: SET applies once per
        # DISTINCT matched anchor (openCypher identity semantics)
        assert got == {(0, 1), (1, 1), (2, 1), (3, 0), (4, 0), (5, 0)}

    def test_single_heavy_anchor_gets_own_batch(self, spark):
        """An anchor id alone heavier than k forms its own (oversized,
        documented) batch and the batch sequence stays dense."""
        s = GraphSession(spark, allow_writes=True)
        s.execute("CREATE NODE TABLE Person (id Int64, age Int64, "
                  "PRIMARY KEY(id), NODE ID(id))")
        s.execute("CREATE REL TABLE KNOWS FROM Person TO Person ()")
        for i in range(6):
            s.execute(f"CREATE (p:Person {{id: {i}, age: 0}})")
        for j in (1, 2, 3, 4):
            s.execute(f"MATCH (a:Person) MATCH (b:Person) WHERE a.id = 0 "
                      f"AND b.id = {j} CREATE (a)-[:KNOWS]->(b)")
        s.execute("MATCH (a:Person) MATCH (b:Person) WHERE a.id = 1 "
                  "AND b.id = 2 CREATE (a)-[:KNOWS]->(b)")
        s.execute("MATCH (a:Person) MATCH (b:Person) WHERE a.id = 2 "
                  "AND b.id = 3 CREATE (a)-[:KNOWS]->(b)")
        out = s.execute(
            "MATCH (a:Person)-[:KNOWS]->(b:Person) "
            "CALL { WITH a SET a.age = a.age + 1 } "
            "IN TRANSACTIONS OF 2 ROWS").collect()
        # p0 (4 rows) alone, then {p1, p2} (2 rows); batches renumber
        # densely even though floor(cum/k) skips a value
        assert [r["batch"] for r in out] == [0, 1]
        got = rows(s, "MATCH (p:Person) RETURN p.id AS i, p.age AS a")
        assert got == {(0, 1), (1, 1), (2, 1), (3, 0), (4, 0), (5, 0)}

    def test_rejected_without_allow_writes(self, spark):
        s = GraphSession(spark)
        s.execute("CREATE NODE TABLE Person (id Int64, "
                  "PRIMARY KEY(id), NODE ID(id))")
        with pytest.raises(UnsupportedError, match="allow_writes"):
            s.execute("MATCH (p:Person) "
                      "CALL { WITH p DELETE p } IN TRANSACTIONS")

    def test_parse_errors(self, wsession):
        from brahmand_spark.errors import ParseError

        with pytest.raises(ParseError, match="RETURN inside"):
            wsession.execute(
                "MATCH (p:Person) CALL { WITH p DELETE p "
                "RETURN p.id } IN TRANSACTIONS")
        with pytest.raises(ParseError, match="write clause"):
            wsession.execute(
                "MATCH (p:Person) CALL { WITH p } IN TRANSACTIONS")
        with pytest.raises(ParseError, match="n >= 1"):
            wsession.execute(
                "MATCH (p:Person) CALL { WITH p DELETE p } "
                "IN TRANSACTIONS OF 0 ROWS")
        # a typo'd marker routes to the read parser, which points
        # at the first write keyword inside the block
        with pytest.raises(ParseError, match="DELETE"):
            wsession.execute(
                "MATCH (p:Person) CALL { WITH p DELETE p } IN BATCHES")

    def test_transactions_identifier_stays_read(self, wsession):
        """r9 review: a column/alias/list variable named
        'transactions' must NOT reroute a read query into the write
        parser — only the `} IN TRANSACTIONS` tail does."""
        self._people(wsession, n=3)
        out = wsession.execute(
            "MATCH (p:Person) WITH p.id AS transactions "
            "RETURN transactions ORDER BY transactions").collect()
        assert [r["transactions"] for r in out] == [0, 1, 2]
        out2 = wsession.execute(
            "UNWIND [1, 2] AS x WITH collect(x) AS transactions "
            "RETURN 2 IN transactions AS hit").collect()
        assert out2[0]["hit"] is True

    def test_inner_where_and_match_respected(self, spark):
        """r9 review: the block body's own WHERE (and MATCH) must
        refine which rows the writes touch — previously they were
        silently dropped and the write hit every outer row."""
        s = GraphSession(spark, allow_writes=True)
        s.execute("CREATE NODE TABLE Person (id Int64, age Int64, "
                  "PRIMARY KEY(id), NODE ID(id))")
        for i in range(10):
            s.execute(f"CREATE (p:Person {{id: {i}, age: {20 + i}}})")
        s.execute(
            "MATCH (p:Person) "
            "CALL { WITH p WHERE p.age >= 25 SET p.age = 0 } "
            "IN TRANSACTIONS OF 3 ROWS").collect()
        got = rows(s, "MATCH (p:Person) RETURN p.id AS i, p.age AS a")
        assert got == {(i, 20 + i if 20 + i < 25 else 0)
                       for i in range(10)}

    def test_rel_anchored_batches(self, spark):
        """r9 review: a relationship import batches by its src
        endpoint and must not crash on the (id_pcol-less) RelBinding."""
        s = GraphSession(spark, allow_writes=True)
        s.execute("CREATE NODE TABLE Person (id Int64, "
                  "PRIMARY KEY(id), NODE ID(id))")
        s.execute("CREATE REL TABLE KNOWS FROM Person TO Person "
                  "(w Int64)")
        for i in range(8):
            s.execute(f"CREATE (p:Person {{id: {i}}})")
        s.execute("MATCH (a:Person) MATCH (b:Person) "
                  "WHERE b.id = a.id + 1 "
                  "CREATE (a)-[:KNOWS {w: 1}]->(b)")
        out = s.execute(
            "MATCH (a:Person)-[r:KNOWS]->(b:Person) "
            "CALL { WITH r SET r.w = 9 } "
            "IN TRANSACTIONS OF 3 ROWS").collect()
        assert len(out) == 3  # 7 src ids in batches of 3
        got = rows(s, "MATCH (a:Person)-[r:KNOWS]->(b:Person) "
                      "RETURN DISTINCT r.w AS w")
        assert got == {(9,)}

    def test_on_error_modes(self, spark):
        """ON ERROR CONTINUE skips failing batches (status rows say
        so), BREAK stops after the first failure, FAIL (default)
        re-raises — earlier batches stay committed either way."""
        def build():
            s = GraphSession(spark, allow_writes=True)
            s.execute("CREATE NODE TABLE Person (id Int64, age Int64, "
                      "PRIMARY KEY(id), NODE ID(id))")
            for i in range(6):
                s.execute(f"CREATE (p:Person {{id: {i}, age: {i}}})")
            return s

        # SET on the key column fails per batch (KeyColumnGuards)
        bad = ("MATCH (p:Person) CALL { WITH p SET p.id = 0 } "
               "IN TRANSACTIONS OF 2 ROWS")
        s = build()
        out = s.execute(bad + " ON ERROR CONTINUE").collect()
        assert len(out) == 3
        assert all(r["committed"] is False and r["error"]
                   for r in out)
        out2 = build().execute(bad + " ON ERROR BREAK").collect()
        assert len(out2) == 1 and out2[0]["committed"] is False
        with pytest.raises(Exception):
            build().execute(bad).collect()  # default FAIL
        # happy path carries the status columns too
        ok = build().execute(
            "MATCH (p:Person) CALL { WITH p SET p.age = 0 } "
            "IN TRANSACTIONS OF 4 ROWS ON ERROR CONTINUE").collect()
        assert [(r["batch"], r["committed"], r["error"],
                 r["properties_set"]) for r in ok] == \
            [(0, True, None, 4), (1, True, None, 2)]

    def test_failed_batch_rolls_back_partial_clauses(self, spark):
        """r9 review: a multi-clause body whose LATER clause fails
        must leave no trace of the earlier clauses — the session
        table registry snapshots per batch and restores on error, so
        the committed=false status row tells the truth."""
        s = GraphSession(spark, allow_writes=True)
        s.execute("CREATE NODE TABLE Person (id Int64, age Int64, "
                  "PRIMARY KEY(id), NODE ID(id))")
        s.execute("CREATE NODE TABLE Log (id Int64, "
                  "PRIMARY KEY(id), NODE ID(id))")
        for i in range(4):
            s.execute(f"CREATE (p:Person {{id: {i}, age: {i}}})")
        n_logs0 = s.execute(
            "MATCH (l:Log) RETURN count(*) AS n").collect()[0]["n"]
        out = s.execute(
            "MATCH (p:Person) "
            "CALL { WITH p CREATE (l:Log {id: p.id}) SET p.id = 0 } "
            "IN TRANSACTIONS OF 2 ROWS ON ERROR CONTINUE").collect()
        assert all(r["committed"] is False for r in out)
        # the CREATE that ran before the failing SET left nothing
        assert s.execute("MATCH (l:Log) RETURN count(*) AS n"
                         ).collect()[0]["n"] == n_logs0
        assert rows(s, "MATCH (p:Person) RETURN p.id AS i") == \
            {(i,) for i in range(4)}

    def test_rollback_restores_key_by_key(self, spark):
        """A failing batch puts back only the names it changed, one key
        at a time. ``clear()`` then ``update()`` would leave a read
        compiled in between with no table at all. The batch creates a
        Log node and a KNOWS edge, which drops KNOWS's adjacency
        tables, before its SET fails: no table the batch did not touch
        ever leaves the registry, and the registry ends equal to the
        pre-batch one."""

        class Recording(dict):
            def __init__(self, *args):
                super().__init__(*args)
                self.removed = []

            def __delitem__(self, k):
                self.removed.append(k)
                super().__delitem__(k)

            def pop(self, k, *default):
                if k in self:
                    self.removed.append(k)
                return super().pop(k, *default)

            def clear(self):
                self.removed.extend(self)
                super().clear()

        s = GraphSession(spark, allow_writes=True)
        s.execute("CREATE NODE TABLE Person (id Int64, age Int64, "
                  "PRIMARY KEY(id), NODE ID(id))")
        s.execute("CREATE NODE TABLE Log (id Int64, "
                  "PRIMARY KEY(id), NODE ID(id))")
        s.execute("CREATE REL TABLE KNOWS FROM Person TO Person ()")
        for i in range(4):
            s.execute(f"CREATE (p:Person {{id: {i}, age: {i}}})")
        s.execute("MATCH (a:Person) MATCH (b:Person) WHERE a.id = 0 "
                  "AND b.id = 1 CREATE (a)-[:KNOWS]->(b)")
        s.build_adj_index("KNOWS", persist=False)
        s.tables = Recording(s.tables)
        snapshot = dict(s.tables)
        out = s.execute(
            "MATCH (p:Person) CALL { WITH p CREATE (l:Log {id: p.id}), "
            "(p)-[:KNOWS]->(p) SET p.id = 0 } "
            "IN TRANSACTIONS OF 2 ROWS ON ERROR CONTINUE").collect()
        assert [r["committed"] for r in out] == [False, False]
        assert {"KNOWS_outgoing", "KNOWS_incoming"} <= set(s.tables.removed)
        assert set(s.tables.removed) <= {"KNOWS_outgoing",
                                         "KNOWS_incoming"}
        assert s.tables.keys() == snapshot.keys()
        assert all(s.tables[k] is v for k, v in snapshot.items())

    def test_rollback_restores_catalog_columns(self, spark, tmp_path):
        """A failing batch's SET of a new key appends it to the
        catalog's column list; the rollback takes it back with the
        table, so the catalog keeps describing the table and a read of
        the key fails as it did before the batch (the planner's
        unknown-property error), not on a column the catalog lists but
        the table lacks. The persisted catalog is rewritten too."""
        from brahmand_spark.catalog import GraphSchema

        cat = str(tmp_path / "catalog.json")
        s = GraphSession(spark, allow_writes=True, catalog_path=cat)
        s.execute("CREATE NODE TABLE Person (id Int64, age Int64, "
                  "PRIMARY KEY(id), NODE ID(id))")
        for i in range(4):
            s.execute(f"CREATE (p:Person {{id: {i}, age: {i}}})")
        read = "MATCH (p:Person) RETURN p.extra AS e"
        with pytest.raises(PlanError, match="unknown property 'extra'"):
            s.execute(read)
        out = s.execute(
            "MATCH (p:Person) CALL { WITH p SET p.extra = 1 REMOVE p.id } "
            "IN TRANSACTIONS OF 2 ROWS ON ERROR CONTINUE").collect()
        assert [r["committed"] for r in out] == [False, False]
        assert s.schema.node("Person").column_names == ["id", "age"]
        assert GraphSchema.load(cat).node("Person").column_names == [
            "id", "age"]
        with pytest.raises(PlanError, match="unknown property 'extra'"):
            s.execute(read)


class TestConcurrentTransactions:
    """IN [n] CONCURRENT TRANSACTIONS (openCypher 25) parses and runs
    as serial batches: batch order is one valid schedule of
    non-conflicting batches, and n bounds concurrency without
    promising it. Status rows, table contents, ON ERROR and RETRY
    match plain IN TRANSACTIONS."""

    def _people(self, wsession, n=30):
        for i in range(n):
            wsession.execute(
                f"CREATE (p:Person {{id: {i}, name: 'P{i}', "
                f"age: {20 + i}}})")
        return wsession

    def test_concurrent_set_equals_serial(self, spark):
        def build():
            s = GraphSession(spark, allow_writes=True)
            s.execute("CREATE NODE TABLE Person (id Int64, age Int64, "
                      "PRIMARY KEY(id), NODE ID(id))")
            for i in range(20):
                s.execute(f"CREATE (p:Person {{id: {i}, age: {i}}})")
            return s

        q = ("MATCH (p:Person) WHERE p.id < 16 "
             "CALL { WITH p SET p.age = p.age + 100 } "
             "IN @MODE@TRANSACTIONS OF 4 ROWS")
        s1 = build()
        ser = [(r["batch"], r["committed"], r["properties_set"])
               for r in s1.execute(q.replace("@MODE@", "")).collect()]
        s2 = build()
        con = [(r["batch"], r["committed"], r["properties_set"])
               for r in s2.execute(
                   q.replace("@MODE@", "4 CONCURRENT ")).collect()]
        assert ser == con  # status rows sorted by batch index
        assert rows(s1, "MATCH (p:Person) RETURN p.id AS i, p.age AS a") \
            == rows(s2, "MATCH (p:Person) RETURN p.id AS i, p.age AS a")

    def test_concurrent_create_merges_appends(self, wsession):
        s = self._people(wsession, n=12)
        out = s.execute(
            "MATCH (p:Person) WHERE p.id < 12 "
            "CALL { WITH p CREATE (c:City {id: p.id + 100, "
            "name: 'C'}) } IN 3 CONCURRENT TRANSACTIONS OF 4 ROWS"
        ).collect()
        assert [(r["batch"], r["nodes_created"]) for r in out] == \
            [(0, 4), (1, 4), (2, 4)]
        assert rows(s, "MATCH (c:City) RETURN c.id AS i") == \
            {(100 + i,) for i in range(12)}

    def test_concurrent_delete_merges_removals(self, wsession):
        s = self._people(wsession, n=12)
        s.execute("MATCH (p:Person) WHERE p.id % 2 = 0 "
                  "CALL { WITH p DELETE p } "
                  "IN 3 CONCURRENT TRANSACTIONS OF 2 ROWS")
        assert rows(s, "MATCH (p:Person) RETURN p.id AS i") == \
            {(i,) for i in range(12) if i % 2}

    def test_concurrent_on_error_continue(self, spark):
        def build():
            s = GraphSession(spark, allow_writes=True)
            s.execute("CREATE NODE TABLE Person (id Int64, age Int64, "
                      "PRIMARY KEY(id), NODE ID(id))")
            for i in range(6):
                s.execute(f"CREATE (p:Person {{id: {i}, age: {i}}})")
            return s

        # SET on the key column fails per batch (KeyColumnGuards)
        out = build().execute(
            "MATCH (p:Person) CALL { WITH p SET p.id = 0 } "
            "IN 2 CONCURRENT TRANSACTIONS OF 2 ROWS "
            "ON ERROR CONTINUE").collect()
        assert len(out) == 3
        assert all(r["committed"] is False and r["error"] for r in out)
        with pytest.raises(Exception):  # default FAIL still raises
            build().execute(
                "MATCH (p:Person) CALL { WITH p SET p.id = 0 } "
                "IN 2 CONCURRENT TRANSACTIONS OF 2 ROWS").collect()

    def test_parse_shapes(self, wsession):
        from brahmand_spark.errors import ParseError

        s = self._people(wsession, n=4)
        # bare CONCURRENT (no worker count)
        out = s.execute(
            "MATCH (p:Person) CALL { WITH p SET p.age = 1 } "
            "IN CONCURRENT TRANSACTIONS OF 2 ROWS").collect()
        assert [r["batch"] for r in out] == [0, 1]
        with pytest.raises(ParseError, match="CONCURRENT"):
            s.execute("MATCH (p:Person) CALL { WITH p SET p.age = 1 } "
                      "IN 3 TRANSACTIONS")

    def test_schema_drift_new_column_merges(self, spark):
        """A SET that introduces a column the table lacks, run in
        concurrent batches, fills it for every row as the serial
        statement does."""
        s = GraphSession(spark, allow_writes=True)
        s.execute("CREATE NODE TABLE City (id Int64, pop Int64, "
                  "PRIMARY KEY(id), NODE ID(id))")
        for i in range(8):
            s.execute(f"CREATE (c:City {{id: {i}, pop: {i * 10}}})")
        s.execute(
            "MATCH (c:City) CALL { WITH c SET c.flag = c.id + 1 } "
            "IN 2 CONCURRENT TRANSACTIONS OF 4 ROWS")
        assert rows(s, "MATCH (c:City) RETURN c.id AS i, c.flag AS f") \
            == {(i, i + 1) for i in range(8)}

    def test_detach_delete_taints_to_fallback(self, wsession):
        """DETACH DELETE in concurrent batches removes each batch's
        nodes and their incident edges, as the serial statement
        does."""
        for i in range(6):
            wsession.execute(
                f"CREATE (p:Person {{id: {i}, name: 'P{i}', age: 1}})"
                f"-[:LIVES_IN {{since: {i}}}]->"
                f"(c:City {{id: {100 + i}, name: 'C{i}'}})")
        wsession.execute(
            "MATCH (p:Person) WHERE p.id % 2 = 0 "
            "CALL { WITH p DETACH DELETE p } "
            "IN 3 CONCURRENT TRANSACTIONS OF 2 ROWS")
        assert rows(wsession, "MATCH (p:Person) RETURN p.id AS i") == \
            {(1,), (3,), (5,)}
        assert rows(wsession,
                    "MATCH (p:Person)-[r:LIVES_IN]->(c:City) "
                    "RETURN r.since AS s") == {(1,), (3,), (5,)}


class TestReportStatus:
    """REPORT STATUS AS <var> [RETURN <items>] (r10 — openCypher 9's
    post-CALL status consumption)."""

    def _seed(self, spark, n=7):
        s = GraphSession(spark, allow_writes=True)
        s.execute("CREATE NODE TABLE Person (id Int64, age Int64, "
                  "PRIMARY KEY(id), NODE ID(id))")
        for i in range(n):
            s.execute(f"CREATE (p:Person {{id: {i}, age: 0}})")
        return s

    def test_status_struct_column(self, spark):
        s = self._seed(spark)
        out = s.execute(
            "MATCH (p:Person) CALL { WITH p SET p.age = 1 } "
            "IN TRANSACTIONS OF 3 ROWS REPORT STATUS AS st").collect()
        assert [r["st"]["batch"] for r in out] == [0, 1, 2]
        assert all(r["st"]["committed"] for r in out)
        assert [r["st"]["properties_set"] for r in out] == [3, 3, 1]

    def test_status_projection(self, spark):
        s = self._seed(spark)
        out = s.execute(
            "MATCH (p:Person) CALL { WITH p SET p.age = 1 } "
            "IN TRANSACTIONS OF 4 ROWS REPORT STATUS AS st "
            "RETURN st.batch AS b, st.committed, "
            "st.properties_set + 0 AS nset").collect()
        assert sorted((r["b"], r["committed"], r["nset"]) for r in out) \
            == [(0, True, 4), (1, True, 3)]

    def test_on_error_continue_reports_failure(self, spark):
        s = self._seed(spark, n=4)
        out = s.execute(
            "MATCH (p:Person) "
            "CALL { WITH p SET p.age = 1 / (p.id - 1) } "
            "IN TRANSACTIONS OF 1 ROWS ON ERROR CONTINUE "
            "REPORT STATUS AS st "
            "RETURN st.batch AS b, st.committed AS ok, "
            "st.error AS err").collect()
        by_batch = {r["b"]: (r["ok"], r["err"]) for r in out}
        assert len(by_batch) == 4
        bad = [b for b, (ok, _) in by_batch.items() if not ok]
        assert len(bad) == 1  # the p.id = 1 batch divides by zero
        assert by_batch[bad[0]][1] is not None

    def test_star_and_unaliased_expr_rejected(self, spark):
        s = self._seed(spark, n=2)
        with pytest.raises(PlanError, match="named fields"):
            s.execute(
                "MATCH (p:Person) CALL { WITH p SET p.age = 1 } "
                "IN TRANSACTIONS REPORT STATUS AS st RETURN *")


class TestDurableWrites:
    """r12 (VERDICT r11 missing #6): GraphSession(write_path=...)
    mirrors every committed table snapshot to disk as a parquet
    overwrite (writes._durable_persist), and a NEW session with the
    same write_path reloads them — CALL { } IN TRANSACTIONS batches
    survive a restart; rolled-back batches leave no durable trace."""

    def _build(self, spark, tmp_path):
        wp = str(tmp_path / "wal")
        cat = str(tmp_path / "catalog.json")
        s = GraphSession(spark, allow_writes=True,
                         write_path=wp, catalog_path=cat)
        s.execute("CREATE NODE TABLE Person (id Int64, age Int64, "
                  "PRIMARY KEY(id), NODE ID(id))")
        return s, wp, cat

    def test_commits_survive_restart(self, spark, tmp_path):
        s, wp, cat = self._build(spark, tmp_path)
        for i in range(8):
            s.execute(f"CREATE (p:Person {{id: {i}, age: {i}}})")
        s.execute("MATCH (p:Person) "
                  "CALL { WITH p SET p.age = p.age + 100 } "
                  "IN TRANSACTIONS OF 3 ROWS")
        expect = rows(s, "MATCH (p:Person) RETURN p.id AS i, p.age AS a")
        assert expect == {(i, i + 100) for i in range(8)}
        # restart: a brand-new session on the same paths
        s2 = GraphSession(spark, allow_writes=True,
                          write_path=wp, catalog_path=cat)
        # the reloaded frame keeps its names and types, not just values
        assert s2.tables["Person"].dtypes == [
            ("id", "bigint"), ("age", "bigint")]
        assert rows(s2, "MATCH (p:Person) RETURN p.id AS i, p.age AS a") \
            == expect

    def test_concurrent_commits_survive_restart(self, spark, tmp_path):
        s, wp, cat = self._build(spark, tmp_path)
        for i in range(8):
            s.execute(f"CREATE (p:Person {{id: {i}, age: {i}}})")
        s.execute("MATCH (p:Person) "
                  "CALL { WITH p SET p.age = p.age + 100 } "
                  "IN 2 CONCURRENT TRANSACTIONS OF 4 ROWS")
        s2 = GraphSession(spark, allow_writes=True,
                          write_path=wp, catalog_path=cat)
        assert rows(s2, "MATCH (p:Person) RETURN p.id AS i, p.age AS a") \
            == {(i, i + 100) for i in range(8)}

    def test_rolled_back_batch_leaves_no_durable_trace(
            self, spark, tmp_path):
        """A failing batch restores the in-memory snapshot AND
        re-aligns the durable copies its earlier clauses already
        overwrote — including removing the directory of a table the
        batch CREATED."""
        s, wp, cat = self._build(spark, tmp_path)
        s.execute("CREATE NODE TABLE Log (id Int64, "
                  "PRIMARY KEY(id), NODE ID(id))")
        for i in range(4):
            s.execute(f"CREATE (p:Person {{id: {i}, age: {i}}})")
        out = s.execute(
            "MATCH (p:Person) "
            "CALL { WITH p CREATE (l:Log {id: p.id}) SET p.id = 0 } "
            "IN TRANSACTIONS OF 2 ROWS ON ERROR CONTINUE").collect()
        assert all(r["committed"] is False for r in out)
        s2 = GraphSession(spark, allow_writes=True,
                          write_path=wp, catalog_path=cat)
        assert rows(s2, "MATCH (p:Person) RETURN p.id AS i, p.age AS a") \
            == {(i, i) for i in range(4)}
        assert s2.execute("MATCH (l:Log) RETURN count(*) AS n"
                          ).collect()[0]["n"] == 0

    def test_no_write_path_stays_in_memory(self, spark, tmp_path):
        import os

        s = GraphSession(spark, allow_writes=True)
        s.execute("CREATE NODE TABLE Person (id Int64, "
                  "PRIMARY KEY(id), NODE ID(id))")
        s.execute("CREATE (p:Person {id: 1})")
        assert not os.path.exists(str(tmp_path / "wal"))


class TestCrossAliasSet:
    """r12 (rode the LOAD CSV work): SET values may reference OTHER
    bound variables — computed against the matched frame, one value
    per target id (max(), the FOREACH determinism divergence)."""

    def test_set_from_joined_node(self, wsession):
        for i in range(4):
            wsession.execute(
                f"CREATE (p:Person {{id: {i}, name: 'P{i}', "
                f"age: 0}})-[:LIVES_IN {{since: 2000}}]->"
                f"(c:City {{id: {100 + i}, name: 'C{i}'}})")
        wsession.execute(
            "MATCH (p:Person)-[:LIVES_IN]->(c:City) "
            "SET p.name = c.name")
        assert rows(wsession,
                    "MATCH (p:Person) RETURN p.id AS i, p.name AS n") \
            == {(i, f"C{i}") for i in range(4)}

    def test_swap_still_snapshot(self, wsession):
        wsession.execute("CREATE (p:Person {id: 1, name: 'x', age: 7})")
        wsession.execute(
            "MATCH (p:Person)-[r:KNOWS]->(q:Person) SET p.age = q.age")
        # no KNOWS rows: nothing matched, nothing changed
        assert rows(wsession,
                    "MATCH (p:Person) RETURN p.age AS a") == {(7,)}

    def test_mixed_self_and_external(self, wsession):
        wsession.execute(
            "CREATE (p:Person {id: 1, name: 'a', age: 10})"
            "-[:LIVES_IN {since: 3}]->(c:City {id: 9, name: 'C'})")
        wsession.execute(
            "MATCH (p:Person)-[r:LIVES_IN]->(c:City) "
            "SET p.age = p.age + r.since")
        assert rows(wsession,
                    "MATCH (p:Person) RETURN p.age AS a") == {(13,)}


class TestScopeClauseAndRetry:
    """openCypher 25 (r12): the CALL variable scope clause —
    `CALL (n) { ... }` desugars to the import WITH — and
    `ON ERROR RETRY [<n>] [THEN mode]`."""

    def _people(self, spark, n=8):
        s = GraphSession(spark, allow_writes=True)
        s.execute("CREATE NODE TABLE Person (id Int64, age Int64, "
                  "PRIMARY KEY(id), NODE ID(id))")
        for i in range(n):
            s.execute(f"CREATE (p:Person {{id: {i}, age: {i}}})")
        return s

    def test_scope_clause_in_transactions(self, spark):
        s = self._people(spark)
        out = s.execute(
            "MATCH (p:Person) CALL (p) { SET p.age = p.age + 100 } "
            "IN TRANSACTIONS OF 4 ROWS").collect()
        assert [r["committed"] for r in out] == [True, True]
        assert rows(s, "MATCH (p:Person) RETURN p.id AS i, p.age AS a") \
            == {(i, i + 100) for i in range(8)}

    def test_scope_clause_read_subquery(self, tpch):
        a = sorted(map(str, tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey < 10 "
            "CALL (c) { MATCH (c)-[:PLACED]->(o:Order) "
            "RETURN count(*) AS n } "
            "RETURN c.c_custkey AS ck, n ORDER BY ck").collect()))
        b = sorted(map(str, tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey < 10 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "RETURN count(*) AS n } "
            "RETURN c.c_custkey AS ck, n ORDER BY ck").collect()))
        assert a == b and len(a) > 0

    def test_scope_star_read_subquery(self, tpch):
        a = sorted(map(str, tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey < 10 "
            "CALL (*) { MATCH (c)-[:PLACED]->(o:Order) "
            "RETURN count(*) AS n } "
            "RETURN c.c_custkey AS ck, n ORDER BY ck").collect()))
        b = sorted(map(str, tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey < 10 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "RETURN count(*) AS n } "
            "RETURN c.c_custkey AS ck, n ORDER BY ck").collect()))
        assert a == b

    def test_empty_scope_is_uncorrelated(self, tpch):
        rows_ = tpch.execute(
            "MATCH (r:Region) "
            "CALL () { MATCH (n:Nation) RETURN count(*) AS nn } "
            "RETURN r.r_name AS rn, nn ORDER BY rn").collect()
        assert len(rows_) == 5 and all(r.nn == 25 for r in rows_)

    def test_retry_then_continue_counts_attempts(self, spark,
                                                 monkeypatch):
        import brahmand_spark.writes as W

        s = self._people(spark, n=4)
        attempts = {"n": 0}
        orig = W.apply_write

        def flaky(session, wq, params=None, **kw):
            attempts["n"] += 1
            raise RuntimeError("transient")

        monkeypatch.setattr(W, "apply_write", flaky)
        out = s.execute(
            "MATCH (p:Person) CALL (p) { SET p.age = 1 } "
            "IN TRANSACTIONS OF 2 ROWS "
            "ON ERROR RETRY 2 THEN CONTINUE").collect()
        monkeypatch.setattr(W, "apply_write", orig)
        assert [r["committed"] for r in out] == [False, False]
        assert attempts["n"] == 6  # 2 batches x (1 + 2 retries)
        # and the data is untouched
        assert rows(s, "MATCH (p:Person) RETURN p.age AS a") == \
            {(i,) for i in range(4)}

    def test_retry_succeeds_on_second_attempt(self, spark,
                                              monkeypatch):
        import brahmand_spark.writes as W

        s = self._people(spark, n=4)
        orig = W.apply_write
        failed_once = {"done": False}

        def flaky(session, wq, params=None, **kw):
            if not failed_once["done"]:
                failed_once["done"] = True
                raise RuntimeError("transient")
            return orig(session, wq, params, **kw)

        monkeypatch.setattr(W, "apply_write", flaky)
        out = s.execute(
            "MATCH (p:Person) CALL (p) { SET p.age = p.age + 10 } "
            "IN TRANSACTIONS OF 2 ROWS ON ERROR RETRY").collect()
        monkeypatch.setattr(W, "apply_write", orig)
        assert all(r["committed"] for r in out)
        assert rows(s, "MATCH (p:Person) RETURN p.id AS i, p.age AS a") \
            == {(i, i + 10) for i in range(4)}

    def test_retry_concurrent(self, spark, monkeypatch):
        import brahmand_spark.writes as W

        s = self._people(spark, n=4)
        orig = W.apply_write
        fails = {"n": 0}
        import threading
        lock = threading.Lock()

        def flaky(session, wq, params=None, **kw):
            with lock:
                if fails["n"] < 2:
                    fails["n"] += 1
                    raise RuntimeError("transient")
            return orig(session, wq, params, **kw)

        monkeypatch.setattr(W, "apply_write", flaky)
        out = s.execute(
            "MATCH (p:Person) CALL (p) { SET p.age = p.age + 10 } "
            "IN 2 CONCURRENT TRANSACTIONS OF 2 ROWS "
            "ON ERROR RETRY 3").collect()
        monkeypatch.setattr(W, "apply_write", orig)
        assert all(r["committed"] for r in out)
        assert rows(s, "MATCH (p:Person) RETURN p.id AS i, p.age AS a") \
            == {(i, i + 10) for i in range(4)}

    def test_parse_rejections(self, spark):
        from brahmand_spark.errors import ParseError

        s = self._people(spark, n=2)
        with pytest.raises(ParseError, match="ambiguous"):
            s.execute("MATCH (p:Person) CALL (*) { SET p.age = 1 } "
                      "IN TRANSACTIONS")
        with pytest.raises(ParseError, match="imports nothing"):
            s.execute("MATCH (p:Person) CALL () { SET p.age = 1 } "
                      "IN TRANSACTIONS")
        with pytest.raises(ParseError, match="RETRY"):
            s.execute("MATCH (p:Person) CALL (p) { SET p.age = 1 } "
                      "IN TRANSACTIONS ON ERROR RETRY 0")


class TestWriteCountersAndJobBudget:
    """A write runs its table rewrites and nothing else: the counters
    ride the checkpoint job as observed metrics and the stats row is
    a driver-local relation (no Python worker, no job to collect)."""

    @pytest.fixture(autouse=True)
    def seed(self, wsession):
        for i in range(4):
            wsession.execute(
                f"CREATE (p:Person {{id: {i}, name: 'P{i}', age: {20 + i}}})")

    def test_one_row_set_runs_only_its_checkpoint_jobs(self, wsession,
                                                       spark):
        """At most the checkpoint's jobs (broadcast build + rewrite).
        A separate count of the matched ids plus a Python-RDD stats
        row made it 8 jobs on this fixture (7 on the perfbench
        data)."""
        stats_df, n = count_jobs(spark, lambda: wsession.execute(
            "MATCH (p:Person {id: 1}) SET p.age = 99"))
        assert n <= 3
        assert stats_df._jdf.queryExecution().analyzed().getClass() \
            .getSimpleName() == "LocalRelation"
        out, n_collect = count_jobs(spark, lambda: stats_df.collect()[0])
        assert n_collect == 0
        assert out["properties_set"] == 1
        assert rows(wsession, "MATCH (p:Person) RETURN p.id AS i, "
                              "p.age AS a") \
            == {(0, 20), (1, 99), (2, 22), (3, 23)}

    def test_zero_match_set_reports_zero(self, wsession):
        """The metric rides the table side of the join: AQE drops an
        empty broadcast side's stage, and a metric observed there
        never arrives."""
        before = rows(wsession, "MATCH (p:Person) RETURN p.id, p.age")
        out = wsession.execute(
            "MATCH (p:Person {id: 77}) SET p.age = 5").collect()[0]
        assert out["properties_set"] == 0
        assert rows(wsession, "MATCH (p:Person) RETURN p.id, p.age") \
            == before

    def test_four_rows_two_keys_report_eight(self, wsession):
        out = wsession.execute(
            "MATCH (p:Person) SET p.age = 1, p.name = 'x'").collect()[0]
        assert out["properties_set"] == 8
        assert rows(wsession, "MATCH (p:Person) RETURN p.name, p.age") \
            == {("x", 1)}

    def test_duplicate_id_counts_rewritten_rows(self, wsession, spark):
        """properties_set counts the rows the SET rewrote: both rows
        holding id 1 (a distinct-id count reported 1)."""
        wsession.register_table("Person", spark.createDataFrame(
            [(1, "a", 1), (1, "b", 2), (2, "c", 3)],
            "id bigint, name string, age bigint"))
        out = wsession.execute(
            "MATCH (p:Person {id: 1}) SET p.age = 7").collect()[0]
        assert out["properties_set"] == 2
        assert sorted(tuple(r) for r in wsession.execute(
            "MATCH (p:Person) RETURN p.id, p.age").collect()) \
            == [(1, 7), (1, 7), (2, 3)]

    @staticmethod
    def _edges(wsession, spark):
        """Person 0 lives in city 100 twice (parallel edges), person 1
        once; KNOWS is a self-relationship 0 -> 1 -> 2."""
        wsession.register_table("City", spark.createDataFrame(
            [(100, "x")], "id long, name string"))
        wsession.register_table("LIVES_IN", spark.createDataFrame(
            [(0, 100, 1), (0, 100, 2), (1, 100, 3)],
            "from_Person long, to_City long, since long"))
        wsession.register_table("KNOWS", spark.createDataFrame(
            [(0, 1), (1, 2)], "from_Person long, to_Person long"))

    @staticmethod
    def _jobs(spark, monkeypatch, fn):
        """``(fn(), commits, jobs run outside them)``: each
        ``writes._store`` commit counts its jobs in a job group of its
        own, so the statement's group keeps only the jobs that ran
        outside every checkpoint."""
        import brahmand_spark.writes as W

        sc = spark.sparkContext
        store, commits = W._store, [0]

        def committing(*args, **kw):
            outer = sc.getLocalProperty("spark.jobGroup.id")
            commits[0] += 1
            try:
                return count_jobs(spark, lambda: store(*args, **kw))[0]
            finally:
                sc.setLocalProperty("spark.jobGroup.id", outer)

        monkeypatch.setattr(W, "_store", committing)
        out, outside = count_jobs(spark, fn)
        return out, commits[0], outside

    @pytest.mark.parametrize("cypher, rewrites", [
        ("MATCH (p:Person {id: 0})-[r:LIVES_IN]->(:City) "
         "SET r.since = 9", 1),
        ("MATCH (p:Person {id: 1}) "
         "FOREACH (x IN [5, 6] | SET p.age = x, p.name = 'f')", 1),
        ("MATCH (p:Person {id: 0})-[r:LIVES_IN]->(:City) DELETE r", 1),
        # Person, LIVES_IN and the self-relationship KNOWS, whose
        # from-side and to-side joins share one rewrite
        ("MATCH (p:Person {id: 1}) DETACH DELETE p", 3),
    ], ids=["rel_set", "foreach_two_keys", "delete_rel",
            "detach_delete"])
    def test_statement_runs_only_its_rewrite_checkpoints(
            self, wsession, spark, monkeypatch, cypher, rewrites):
        """One rewrite per clause and alias (DETACH: plus one per
        incident relationship table), and no job outside them: the
        counters ride the checkpoints. Separate counter count()s and a
        rewrite per FOREACH key made these 16, 14, 13 and 31 jobs."""
        self._edges(wsession, spark)
        out, commits, outside = self._jobs(
            spark, monkeypatch,
            lambda: wsession.execute(cypher).collect()[0])
        assert (commits, outside) == (rewrites, 0)

    def test_parallel_edges_count_rewritten_rows(self, wsession, spark):
        """A relationship SET counts the edge rows it rewrote, as a node
        SET does: both parallel edges (a matched-pair count said 1)."""
        self._edges(wsession, spark)
        out = wsession.execute(
            "MATCH (p:Person {id: 0})-[r:LIVES_IN]->(:City) "
            "SET r.since = 9").collect()[0]
        assert out["properties_set"] == 2
        assert rows(wsession, "MATCH (p:Person)-[r:LIVES_IN]->(:City) "
                              "RETURN p.id, r.since") == {(0, 9), (1, 3)}
        out = wsession.execute(
            "MATCH (p:Person {id: 0})-[r:LIVES_IN]->(:City) DELETE r"
        ).collect()[0]
        assert out["relationships_deleted"] == 2

    def test_matchless_create_runs_one_job(self, wsession, spark):
        """Only the table's checkpoint: a MATCH-less CREATE is one row
        per pattern, so nothing counts it."""
        out, n = count_jobs(spark, lambda: wsession.execute(
            "CREATE (p:Person {id: 9, name: 'Z', age: 50})").collect()[0])
        assert n == 1
        assert out["nodes_created"] == 1


class TestFkBackedDeletes:
    """An FK-backed relationship (``GraphSchema.fk_side``: graphs/tpch's
    PLACED is the ``o_custkey`` column of Order) is deleted by clearing
    its FK column; the node rows that hold it stay. Both statements
    used to delete customer 1's five orders (1,500 -> 1,495)."""

    @pytest.fixture()
    def fk(self, spark):
        from brahmand_spark.graphs.tpch import build_session

        from .conftest import SF_SMOKE

        s = build_session(spark, SF_SMOKE)
        s.allow_writes = True
        return s

    @staticmethod
    def _orders(s):
        return [tuple(r) for r in s.execute(
            "MATCH (o:Order) RETURN o.o_orderkey, o.o_custkey").collect()]

    def _check(self, s, before, out):
        after = self._orders(s)
        assert len(after) == len(before) == 1500
        assert len({k for k, _ in after}) == 1500
        mine = {k for k, c in before if c == 1}
        assert len(mine) == 5
        assert {k: c for k, c in after} == {
            k: (None if k in mine else c) for k, c in before}
        assert out["relationships_deleted"] >= 5
        assert s.execute(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "WHERE c.c_custkey = 1 RETURN count(*) AS n"
        ).collect()[0]["n"] == 0
        # a cleared FK is no edge on any read path: the fused
        # Order-only aggregate, the edge-list hop a bare `r` takes, a
        # variable-length walk, a grouped count and procedure edges
        for q in ("MATCH (c:Customer)-[:PLACED]->(o:Order) "
                  "RETURN count(*) AS n",
                  "MATCH (c:Customer)-[r:PLACED]->(o:Order) "
                  "RETURN count(*) AS n, count(r) AS m",
                  "MATCH (c:Customer)-[:PLACED*1..1]->(o:Order) "
                  "RETURN count(*) AS n"):
            assert s.execute(q).collect()[0]["n"] == 1495, q
        groups = s.execute(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "RETURN c.c_custkey AS k, count(*) AS n").collect()
        assert None not in {r["k"] for r in groups}
        assert sum(r["n"] for r in groups) == 1495
        from brahmand_spark.procedures import _edges

        edges = _edges(s, "PLACED")
        assert edges.count() == 1495
        assert edges.filter("src IS NULL OR dst IS NULL").count() == 0

    def test_delete_rel_clears_fk(self, fk):
        before = self._orders(fk)
        out = fk.execute(
            "MATCH (c:Customer {c_custkey: 1})-[r:PLACED]->(o:Order) "
            "DELETE r").collect()[0]
        assert (out["relationships_deleted"], out["nodes_deleted"]) == (5, 0)
        self._check(fk, before, out)
        assert fk.execute("MATCH (c:Customer) RETURN count(*) AS n") \
            .collect()[0]["n"] == 150

    def test_detach_delete_clears_referencing_fks(self, fk):
        before = self._orders(fk)
        out = fk.execute(
            "MATCH (c:Customer {c_custkey: 1}) DETACH DELETE c"
        ).collect()[0]
        assert out["nodes_deleted"] == 1
        self._check(fk, before, out)
        assert fk.execute("MATCH (c:Customer) RETURN count(*) AS n") \
            .collect()[0]["n"] == 149
