"""Plan-quality assertions: the compiled Cypher queries must produce
physical plans with filters and projections pushed down to the table
scans, broadcast joins for small dimensions, and no Python
(BatchEvalPython) stages in the Cypher path.

A served read pins each table in Spark storage on its first read
(brahmand_spark/resident.py), so a table's scan is either a parquet
file scan or, once held, the RDD scan of its checkpoint; the
assertions hold for both kinds."""

import re

from .helpers import filtered_at_scan, initial_plan, plan_nodes, scan_columns

#: TPC-H column prefix -> table, naming a held table's RDD scan, whose
#: leaf shows its columns rather than a file
TPCH_PREFIX = {"r": "region", "n": "nation", "c": "customer",
               "s": "supplier", "p": "part", "o": "orders",
               "l": "lineitem"}


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def scanned_table(leaf):
    """The table a scan leaf reads: a parquet file's stem, or the
    TPC-H table its first column names; None for any other node."""
    cols = scan_columns(leaf)
    if cols is None:
        return None
    m = re.search(r"/(\w+)\.parquet\]", leaf.toString())
    if m:
        return m.group(1)
    return TPCH_PREFIX.get(cols[0].split("_")[0]) if cols else None


def scanned_tables(df) -> list:
    """Every table scan of df's initial physical plan, by table."""
    return [t for t in map(scanned_table, plan_nodes(initial_plan(df)))
            if t]


def broadcast_built_tables(plan) -> set[str]:
    """Tables scanned under a BroadcastHashJoin build side."""
    built = set()
    for node in plan_nodes(plan):
        if node.nodeName() != "BroadcastHashJoin":
            continue
        side = (node.right() if node.buildSide().toString() == "BuildRight"
                else node.left())
        built |= {t for t in map(scanned_table, plan_nodes(side)) if t}
    return built


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


class TestPlanQuality:
    def test_filter_pushed_to_scan(self, tpch):
        df = tpch.execute("""
            MATCH (c:Customer)-[:PLACED]->(o:Order)
            WHERE o.o_totalprice > 300000 AND c.c_acctbal > 0
            RETURN c.c_name AS name, count(*) AS n""")
        assert filtered_at_scan(df, "o_totalprice",
                                "(o_totalprice > 300000.0)")
        assert filtered_at_scan(df, "c_acctbal", "(c_acctbal > 0.0)")

    def test_column_pruning(self, spark, tpch):
        from brahmand_spark.catalog import GraphSchema
        from brahmand_spark.session import GraphSession

        from .conftest import SF_SMOKE

        q = "MATCH (c:Customer) RETURN c.c_name AS name"
        # a table read from its file keeps a parquet scan, which must
        # read only the projected column
        schema = GraphSchema.from_json(tpch.schema.to_json())
        schema.nodes["Customer"].table_name = f"{SF_SMOKE}/customer.parquet"
        plan = formatted(GraphSession(spark, schema=schema).execute(q))
        assert "ReadSchema: struct<c_name:string>" in plan
        # a held table's scan feeds a Project of that column alone
        plan = tpch.execute(q)._jdf.queryExecution().optimizedPlan()
        assert re.fullmatch(r"Project \[c_name#\d+ AS name#\d+\]\n"
                            r"\+- LogicalRDD \[[^\n]*\n?",
                            plan.toString()), plan.toString()

    def test_broadcast_small_dimension(self, tpch):
        """Spark's static size estimate alone puts the small dimension
        tables on a BroadcastHashJoin build side in the initial
        (pre-AQE) plan — no hint, and no SortMergeJoin to undo."""
        region = tpch.execute("""
            MATCH (c:Customer)-[:CUST_IN]->(n:Nation)-[:IN_REGION]->(r:Region)
            WHERE r.r_name = 'ASIA'
            RETURN count(*) AS n""")
        supplier = tpch.execute("""
            MATCH (l:Lineitem)-[:SUPPLIED_BY]->(s:Supplier)
                  -[:SUPP_IN]->(n:Nation)
            RETURN n.n_name AS nation, count(*) AS n""")
        for df, tables in ((region, {"region"}),
                           (supplier, {"supplier", "nation"})):
            plan = initial_plan(df)
            assert "SortMergeJoin" not in plan.toString(), plan.toString()
            assert tables <= broadcast_built_tables(plan), plan.toString()

    def test_no_python_in_cypher_path(self, tpch):
        df = tpch.execute("""
            MATCH (c:Customer)-[:PLACED]->(o:Order)
            RETURN toUpper(c.c_mktsegment) AS seg,
                   round(avg(o.o_totalprice), 2) AS avg_price""")
        plan = physical_plan(df)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan

    def test_whole_stage_codegen_present(self, tpch):
        df = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_acctbal > 0 "
            "RETURN c.c_acctbal * 2 AS x"
        )
        plan = physical_plan(df)
        # '*(n)' prefixes mark whole-stage-codegen stages in toString form
        assert "*(1)" in plan


class TestCatalogRefresh:
    def test_refresh_picks_up_new_version(self, spark, tmp_path):
        from brahmand_spark import GraphSession

        path = str(tmp_path / "catalog.json")
        s1 = GraphSession(spark, catalog_path=path)
        s1.execute("CREATE NODE TABLE A (id Int64, NODE ID (id))")
        s2 = GraphSession(spark, catalog_path=path)
        assert "A" in s2.schema.nodes
        s1.execute("CREATE NODE TABLE B (id Int64, NODE ID (id))")
        assert "B" not in s2.schema.nodes
        assert s2.refresh_catalog() is True
        assert "B" in s2.schema.nodes
        assert s2.refresh_catalog() is False


class TestAdjacencyPlanner:
    """Planner-integrated grouped-adjacency traversal (the reference's
    bitmap-index path: query_validation.rs:103-124 eligibility +
    graph_traversal_planning.rs:678-807 expansion)."""

    QUERY = """MATCH (c:Customer)-[:PLACED]->(o:Order)
               WHERE c.c_custkey <= 100
               RETURN c.c_custkey AS src, o.o_orderkey AS dst"""

    def _fresh(self, spark):
        from brahmand_spark.graphs.tpch import build_session

        from .conftest import SF_SMOKE

        return build_session(spark, SF_SMOKE)

    def test_adjacency_hop_equals_edge_list(self, spark, tpch):
        expected = tpch.execute(self.QUERY)
        s = self._fresh(spark)
        s.build_adj_index("PLACED")
        got = s.execute(self.QUERY)
        assert physical_plan(got).count("Generate explode") == 1
        assert got.exceptAll(expected).count() == 0
        assert expected.exceptAll(got).count() == 0

    def test_materialized_parquet_scan_in_plan(self, spark):
        # NB: short scratch path — plan toString truncates Location
        # strings at spark.sql.maxMetadataStringLength (100 chars).
        import shutil
        import tempfile

        scratch = tempfile.mkdtemp(prefix="adj", dir="/tmp")
        try:
            s = self._fresh(spark)
            s.build_adj_index("PLACED", path_prefix=scratch)
            got = s.execute(self.QUERY)
            plan = physical_plan(got)
            assert "PLACED_outgoing.parquet" in plan
            assert "Generate explode" in plan
            # the frontier filter must reach the adjacency parquet scan
            assert "LessThanOrEqual(src,100)" in plan
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def test_incoming_direction_uses_incoming_table(self, spark, tpch):
        q = """MATCH (o:Order)<-[:PLACED]-(c:Customer)
               WHERE c.c_acctbal < 0
               RETURN c.c_name AS name, count(*) AS orders"""
        s = self._fresh(spark)
        s.build_adj_index("PLACED", path_prefix=None)
        got = s.execute(q)
        assert "Generate explode" in physical_plan(got)
        expected = tpch.execute(q)
        assert got.exceptAll(expected).count() == 0
        assert expected.exceptAll(got).count() == 0

    def test_either_direction_unions_both_tables(self, spark, tpch):
        # PREV_CUST: same-label AND prop-less — the only combination
        # where the 'both' orientation stays adjacency-eligible (a
        # prop-carrying rel like NEXT_CUST must dedup over props)
        q = """MATCH (a:Customer)-[:PREV_CUST]-(b:Customer)
               WHERE a.c_custkey <= 10
               RETURN a.c_custkey AS src, b.c_custkey AS dst"""
        s = self._fresh(spark)
        s.build_adj_index("PREV_CUST")
        got = s.execute(q)
        assert physical_plan(got).count("Generate explode") == 2
        expected = tpch.execute(q)
        assert got.exceptAll(expected).count() == 0
        assert expected.exceptAll(got).count() == 0

    def test_either_direction_with_props_stays_on_edge_list(
            self, spark, tpch):
        """A rel WITH property columns must NOT take the adjacency
        'both' path: the edge-list plan dedups over (src, dst,
        props) while the prop-less adjacency tables dedup over bare
        pairs — the cardinalities differ for reciprocal edges with
        distinct props (NEXT_CUST carries hop_w since r9)."""
        q = """MATCH (a:Customer)-[:NEXT_CUST]-(b:Customer)
               WHERE a.c_custkey <= 10
               RETURN a.c_custkey AS src, b.c_custkey AS dst"""
        s = self._fresh(spark)
        s.build_adj_index("NEXT_CUST")
        got = s.execute(q)
        assert physical_plan(got).count("Generate explode") == 0
        expected = tpch.execute(q)
        assert got.exceptAll(expected).count() == 0
        assert expected.exceptAll(got).count() == 0

    def test_rel_filter_falls_back_to_edge_list(self, spark):
        s = self._fresh(spark)
        s.build_adj_index("HAS_LINE")
        got = s.execute("""
            MATCH (o:Order)-[h:HAS_LINE]->(l:Lineitem)
            WHERE h.l_linenumber = 1 RETURN count(*) AS n""")
        assert "Generate explode" not in physical_plan(got)

    def test_rel_projection_falls_back_to_edge_list(self, spark):
        s = self._fresh(spark)
        s.build_adj_index("HAS_LINE")
        got = s.execute("""
            MATCH (o:Order)-[h:HAS_LINE]->(l:Lineitem)
            RETURN h.l_linenumber AS ln, count(*) AS n""")
        assert "Generate explode" not in physical_plan(got)

    def test_var_length_falls_back_to_edge_list(self, spark, tpch):
        q = """MATCH (a:Customer)-[:NEXT_CUST*2..3]->(b:Customer)
               WHERE a.c_custkey <= 100
               RETURN a.c_custkey AS src, b.c_custkey AS dst"""
        s = self._fresh(spark)
        s.build_adj_index("NEXT_CUST")
        got = s.execute(q)
        expected = tpch.execute(q)
        assert got.exceptAll(expected).count() == 0
        assert expected.exceptAll(got).count() == 0


class TestAdjacencyEquivalenceSweep:
    """With EVERY relationship's adjacency index materialized, the whole
    Cypher gate matrix must return identical results — the planner may
    only ever swap the physical hop, never the semantics. Queries that
    are ineligible (rel refs, var-length, paths) exercise the fallback
    branch of the same decision."""

    def test_all_cypher_gates_unchanged(self, spark, tpch):
        import __spark_entry__ as entry

        from brahmand_spark.graphs.tpch import build_session

        from .conftest import SF_SMOKE

        s = build_session(spark, SF_SMOKE)
        for rel in list(s.schema.relationships):
            s.build_adj_index(rel)
        mismatches = []
        for name, cypher in entry._CYPHER.items():
            expected = tpch.execute(cypher)
            got = s.execute(cypher)
            if (got.exceptAll(expected).count()
                    or expected.exceptAll(got).count()):
                mismatches.append(name)
        assert not mismatches, f"adjacency planner changed: {mismatches}"


class TestEndpointElision:
    """FK-join elimination: hop endpoints that contribute only their id
    bind straight from the edge column — no node-table scan, no join.
    Enabled for derived-FK graphs (graphs/tpch) where integrity holds
    by construction; plain GraphSession keeps the reference's
    dangling-edge-dropping inner joins."""

    def test_unreferenced_endpoints_drop_scans(self, tpch):
        df = tpch.execute(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) RETURN count(*) AS n")
        assert "customer" not in scanned_tables(df)
        assert physical_plan(df).count("Join") == 0  # pure edge-table aggregate

    def test_id_only_access_elides(self, tpch):
        df = tpch.execute("""
            MATCH (c:Customer)-[:PLACED]->(o:Order)
            WHERE c.c_custkey <= 100
            RETURN c.c_custkey AS src, count(*) AS n""")
        assert "customer" not in scanned_tables(df)
        # the id filter sits on the edge scan instead
        assert filtered_at_scan(df, "o_custkey", "(o_custkey <= 100)")

    def test_any_other_property_keeps_scan(self, tpch):
        df = tpch.execute("""
            MATCH (c:Customer)-[:PLACED]->(o:Order)
            RETURN c.c_name AS name, count(*) AS n""")
        assert "customer" in scanned_tables(df)

    def test_disabled_without_integrity_flag(self, spark, tpch):
        from brahmand_spark.session import GraphSession

        s = GraphSession(spark, schema=tpch.schema)
        s.tables = tpch.tables
        df = s.execute(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) RETURN count(*) AS n")
        assert "customer" in scanned_tables(df)
        # and results agree on clean data either way
        assert df.collect() == tpch.execute(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) RETURN count(*) AS n"
        ).collect()

    def test_elided_alias_still_joinable_downstream(self, tpch, duck):
        from .helpers import assert_same

        # o is id-only in expressions but structurally reused by a
        # second hop — the derived id column carries the join
        q = """MATCH (c:Customer)-[:PLACED]->(o:Order)
               MATCH (o)-[:HAS_LINE]->(l:Lineitem)
               RETURN count(*) AS n, count(DISTINCT o.o_orderkey) AS orders"""
        assert_same(tpch.execute(q), duck.sql(
            """SELECT count(*) AS n,
                      count(DISTINCT l_orderkey) AS orders
               FROM lineitem"""))


def test_adjacency_plus_elision_is_scan_and_explode_only(spark):
    """Composed fast path: adjacency index + id-only endpoints = the
    whole hop is one pre-grouped table scan + explode, no joins at
    all (the shape a 1000-executor traversal wants)."""
    from brahmand_spark.graphs.tpch import build_session

    from .conftest import SF_SMOKE

    s = build_session(spark, SF_SMOKE)
    s.build_adj_index("PLACED")
    df = s.execute("""
        MATCH (c:Customer)-[:PLACED]->(o:Order)
        WHERE c.c_custkey <= 100
        RETURN c.c_custkey AS src, o.o_orderkey AS dst""")
    plan = physical_plan(df)
    assert "Generate explode" in plan
    assert plan.count("Join") == 0
    # NB: the persisted adjacency's InMemoryRelation lineage still
    # PRINTS its build recipe (orders scan) — what matters is that no
    # node table participates in execution: no joins, no customer scan.
    assert "customer" not in scanned_tables(df)
    assert df.count() > 0


def test_shortest_path_uses_adjacency_when_available(spark, tpch):
    from brahmand_spark.graphs.tpch import build_session

    from .conftest import SF_SMOKE

    q = """MATCH p = shortestPath((a:Customer)-[:NEXT_CUST*..3]->(b:Customer))
           WHERE a.c_custkey <= 50
           RETURN a.c_custkey AS src, b.c_custkey AS dst, length(p) AS dist"""
    s = build_session(spark, SF_SMOKE)
    s.build_adj_index("NEXT_CUST")
    got = s.execute(q)
    expected = tpch.execute(q)
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


class TestFkFusion:
    """Node-table-backed relationships compile to single joins (edge
    'tables' that are FK projections of a node table never scan
    separately)."""

    def _scans_joins(self, df):
        import re

        p = physical_plan(df)
        return (len(re.findall(r"FileScan parquet|Scan ExistingRDD", p)),
                p.count("Join"))

    def test_three_hop_chain_is_relational_join_tree(self, tpch):
        df = tpch.execute("""
            MATCH (c:Customer)-[:PLACED]->(o:Order)-[:HAS_LINE]->(l:Lineitem)-[:OF_PART]->(p:Part)
            WHERE p.p_size > 40 AND o.o_orderstatus = 'O'
            RETURN c.c_name AS name, p.p_name AS part, l.l_quantity AS qty""")
        scans, joins = self._scans_joins(df)
        assert (scans, joins) == (4, 3)  # customer⋈orders⋈lineitem⋈part

    def test_rel_property_hop_single_scan(self, tpch):
        df = tpch.execute("""
            MATCH (o:Order)-[h:HAS_LINE]->(l:Lineitem)
            WHERE h.l_linenumber = 1 AND l.l_quantity > 45
            RETURN o.o_orderkey AS okey, l.l_extendedprice AS price""")
        scans, joins = self._scans_joins(df)
        assert (scans, joins) == (1, 0)  # lineitem only; o elided

    def test_bare_rel_reference_disables_fusion(self, tpch, duck):
        from .helpers import assert_same

        # RETURN h expands all rel property columns -> edge-list path
        df = tpch.execute("""
            MATCH (o:Order)-[h:HAS_LINE]->(l:Lineitem)
            WHERE l.l_quantity > 49 RETURN h ORDER BY h.l_linenumber""")
        assert_same(df, duck.sql("""
            SELECT l_linenumber AS "h.l_linenumber" FROM lineitem
            WHERE l_quantity > 49 ORDER BY 1"""))

    def test_ddl_rels_keep_edge_list(self, spark):
        from brahmand_spark.session import GraphSession

        s = GraphSession(spark, allow_writes=True)
        s.execute("CREATE NODE TABLE V (id Int64, NODE ID (id))")
        s.execute("CREATE REL TABLE E FROM V TO V ()")
        s.execute("CREATE (:V {id: 1}), (:V {id: 2})")
        s.execute("MATCH (a:V {id: 1}) MATCH (b:V {id: 2}) "
                  "CREATE (a)-[:E]->(b)")
        rows = s.execute(
            "MATCH (a:V)-[:E]->(b:V) RETURN a.id AS s, b.id AS d").collect()
        assert [(r.s, r.d) for r in rows] == [(1, 2)]


def test_profile_summarizes_plan(tpch):
    p = tpch.execute(
        "PROFILE MATCH (c:Customer)-[:PLACED]->(o:Order) "
        "RETURN count(*) AS n").collect()[0]
    assert p["joins"] == 0 and p["scans"] == 1  # fused + elided
    assert p["python_stages"] == 0
    assert p["final_plan"]  # counted on the AQE plan that ran
    p2 = tpch.execute("""PROFILE
        MATCH (c:Customer)-[:PLACED]->(o:Order)
        RETURN c.c_name AS name, round(avg(o.o_totalprice), 2) AS avg"""
                      ).collect()[0]
    assert p2["joins"] == 1 and p2["scans"] == 2


class TestAdjacencyMultigraph:
    """Round-4 fix: the adjacency tables store per-neighbor
    multiplicity (counts array) and traversal re-expands it, so an
    adj-indexed hop returns the SAME rows as the edge-list plan on a
    multigraph (the old collect_set silently dropped parallel edges —
    the reference's bitmap semantics, ref ddl_query.rs:290-311, which
    we deliberately do not copy)."""

    def _session(self, spark):
        from brahmand_spark.catalog import (
            GraphSchema, NodeSchema, RelationshipSchema,
        )
        from brahmand_spark.session import GraphSession

        g = GraphSchema()
        g.add_node(NodeSchema("Person", "person_tbl", "id", ["id", "name"]))
        g.add_relationship(RelationshipSchema(
            "KNOWS", "knows_tbl", "Person", "Person", "src", "dst",
            ["src", "dst"],
        ))
        s = GraphSession(spark, schema=g)
        s.register_table("person_tbl", spark.createDataFrame(
            [(i, f"p{i}") for i in range(1, 6)], "id long, name string"))
        # parallel edges: 1->2 three times, 2->3 twice, 3->4 once
        s.register_table("knows_tbl", spark.createDataFrame(
            [(1, 2), (1, 2), (1, 2), (2, 3), (2, 3), (3, 4)],
            "src long, dst long"))
        return s

    QUERY = ("MATCH (a:Person)-[:KNOWS]->(b:Person) "
             "RETURN a.id AS src, b.id AS dst")

    def test_adj_hop_preserves_parallel_edge_cardinality(self, spark):
        s = self._session(spark)
        expected = sorted(map(tuple, s.execute(self.QUERY).collect()))
        assert expected == [(1, 2)] * 3 + [(2, 3)] * 2 + [(3, 4)]
        s.build_adj_index("KNOWS")
        got_df = s.execute(self.QUERY)
        assert "Generate explode" in physical_plan(got_df)
        assert sorted(map(tuple, got_df.collect())) == expected

    def test_incoming_multiplicity(self, spark):
        s = self._session(spark)
        q = ("MATCH (b:Person)<-[:KNOWS]-(a:Person) "
             "RETURN a.id AS src, b.id AS dst")
        expected = sorted(map(tuple, s.execute(q).collect()))
        s.build_adj_index("KNOWS")
        got = sorted(map(tuple, s.execute(q).collect()))
        assert got == expected

    def test_degree_is_true_edge_count(self, spark):
        from brahmand_spark.ops.adjacency import build_adjacency

        edges = spark.createDataFrame(
            [(1, 2), (1, 2), (1, 3)], "src long, dst long")
        row = build_adjacency(edges, "src", "dst").collect()[0]
        assert row.degree == 3
        assert sorted(row.neighbors) == [2, 3]
        assert sorted(row.counts) == [1, 2]


class TestAqeSplitsSkewedHop:
    """The compiler plans no salting of its own: a hop join on a hot key
    is a plain equi-join, and AQE's skew-join optimization
    (``skewJoin.enabled`` in io.configure) splits the hot partition at
    runtime. Celebrity-vertex fixture: vertex 0 is followed by every
    other vertex, plus a short chain. The hop runs from the celebrity,
    so its first join is on the hot key. Broadcast is off, and the skew
    threshold and advisory size are lowered to the fixture's scale (the
    64 MB advisory default is larger than the whole hot partition, which
    leaves nothing to split).

    The forward pattern puts the hot key in the fold's second join,
    whose map side is the first join's output. AQE splits only at
    map-output boundaries, and with coalescing on the first join runs
    in too few tasks to leave any; with coalescing off it is split."""

    N_FANS = 5000
    CHAIN = 500
    Q = ("MATCH (b:User)<-[:FOLLOWS]-(a:User) "
         "RETURN a.id AS src, b.id AS dst")
    Q_FORWARD = ("MATCH (a:User)-[:FOLLOWS]->(b:User) "
                 "RETURN a.id AS src, b.id AS dst")

    def _session(self, spark):
        from brahmand_spark.catalog import (
            GraphSchema, NodeSchema, RelationshipSchema,
        )
        from brahmand_spark.session import GraphSession

        g = GraphSchema()
        g.add_node(NodeSchema("User", "user_tbl", "id", ["id"]))
        g.add_relationship(RelationshipSchema(
            "FOLLOWS", "follows_tbl", "User", "User", "src", "dst",
            ["src", "dst"],
        ))
        s = GraphSession(spark, schema=g)
        s.register_table("user_tbl", spark.range(self.N_FANS + 1))
        # 8 map partitions, so AQE can split the hot reducer partition
        # at map-output boundaries
        fans = spark.range(1, self.N_FANS + 1, numPartitions=8) \
            .selectExpr("id AS src", "0L AS dst")
        chain = spark.range(1, self.CHAIN, numPartitions=8) \
            .selectExpr("id AS src", "id + 1 AS dst")
        s.register_table("follows_tbl", fans.unionAll(chain))
        return s

    def _check_split(self, spark, query, **extra_confs):
        s = self._session(spark)
        want = sorted([(i, 0) for i in range(1, self.N_FANS + 1)]
                      + [(i, i + 1) for i in range(1, self.CHAIN)])
        confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin."
            "skewedPartitionThresholdInBytes": "1KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
            **extra_confs,
        }
        saved = {k: spark.conf.get(k) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            df = s.execute(query)
            got = sorted(map(tuple, df.collect()))
            plan = physical_plan(df)
            assert "isFinalPlan=true" in plan, plan
            assert "skew=true" in plan, plan
            assert got == want
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)

    def test_hot_key_hop_gets_runtime_skew_split(self, spark):
        self._check_split(spark, self.Q)

    def test_forward_hot_key_split_without_coalescing(self, spark):
        self._check_split(spark, self.Q_FORWARD, **{
            "spark.sql.adaptive.coalescePartitions.enabled": "false"})


class TestVarLengthOverAdjacency:
    """Var-length and shortestPath traversal bases re-expand from the
    multiplicity-exact adjacency tables when an index exists — same
    rows as the edge-list base, narrower scan."""

    def _session(self, spark):
        from brahmand_spark.catalog import (
            GraphSchema, NodeSchema, RelationshipSchema,
        )
        from brahmand_spark.session import GraphSession

        g = GraphSchema()
        g.add_node(NodeSchema("Person", "person_tbl", "id", ["id", "name"]))
        g.add_relationship(RelationshipSchema(
            "KNOWS", "knows_tbl", "Person", "Person", "src", "dst",
            ["src", "dst"],
        ))
        s = GraphSession(spark, schema=g)
        s.register_table("person_tbl", spark.createDataFrame(
            [(i, f"p{i}") for i in range(1, 6)], "id long, name string"))
        # multigraph: 1->2 twice — two distinct 2-hop walks 1->2->3
        s.register_table("knows_tbl", spark.createDataFrame(
            [(1, 2), (1, 2), (2, 3), (3, 4)], "src long, dst long"))
        return s

    Q_VAR = ("MATCH (a:Person)-[:KNOWS*1..2]->(b:Person) "
             "RETURN a.id AS src, b.id AS dst")
    Q_SP = ("MATCH p = shortestPath((a:Person)-[:KNOWS*..3]->(b:Person)) "
            "RETURN a.id AS src, b.id AS dst, length(p) AS hops")

    def test_var_length_multiplicity_preserved(self, spark):
        s = self._session(spark)
        expected = sorted(map(tuple, s.execute(self.Q_VAR).collect()))
        # parallel edge 1->2 appears twice at 1 hop AND doubles 1->3
        assert expected.count((1, 2)) == 2
        assert expected.count((1, 3)) == 2
        s.build_adj_index("KNOWS")
        got = sorted(map(tuple, s.execute(self.Q_VAR).collect()))
        assert got == expected

    def test_shortest_path_same_with_index(self, spark):
        s = self._session(spark)
        expected = sorted(map(tuple, s.execute(self.Q_SP).collect()))
        s.build_adj_index("KNOWS")
        got = sorted(map(tuple, s.execute(self.Q_SP).collect()))
        assert got == expected


class TestDropAdjIndex:
    def test_drop_releases_cache_and_restores_edge_plan(self, spark, tpch):
        from brahmand_spark.graphs.tpch import build_session

        from .conftest import SF_SMOKE

        q = ("MATCH (c:Customer)-[:PLACED]->(o:Order) "
             "WHERE c.c_custkey <= 50 "
             "RETURN c.c_custkey AS src, o.o_orderkey AS dst")
        s = build_session(spark, SF_SMOKE)
        s.build_adj_index("PLACED")
        after_build = spark.sparkContext._jsc.getPersistentRDDs().size()
        assert "Generate explode" in physical_plan(s.execute(q))
        assert s.schema.relationship("PLACED").adj_index
        s.drop_adj_index("PLACED")
        # the two direction tables' cached blocks are released (other
        # tests' RDDs may be context-cleaned concurrently, so compare
        # against the post-build count, not an absolute baseline)
        after_drop = spark.sparkContext._jsc.getPersistentRDDs().size()
        assert after_drop <= after_build - 2
        assert not s.schema.relationship("PLACED").adj_index
        assert "PLACED_outgoing" not in s.tables
        assert "PLACED_incoming" not in s.tables
        plan = physical_plan(s.execute(q))
        assert "Generate explode" not in plan  # back to edge-list hop
        expected = tpch.execute(q)
        got = s.execute(q)
        assert got.exceptAll(expected).count() == 0
        assert expected.exceptAll(got).count() == 0


class TestRuntimeFilterPrunesHops:
    """The compiler emits no per-hop prefilter of its own (the
    reference's hop-CTE ``WHERE from_id IN (SELECT id FROM prev_cte)``,
    graph_traversal_planning.rs:819-843): when a selective frontier
    meets an edge scan through a shuffle join, Catalyst's
    InjectRuntimeFilter puts a bloom-filter ``might_contain`` on that
    scan, built from the filtered frontier."""

    Q = ("MATCH (c:Customer)-[:PLACED]->(o:Order)-[:HAS_LINE]->"
         "(l:Lineitem) WHERE c.c_mktsegment = 'BUILDING' "
         "AND c.c_acctbal > 9000 "
         "RETURN c.c_name AS n, count(*) AS cnt ORDER BY cnt DESC, n")

    def test_selective_anchor_gets_bloom_filter(self, spark, tpch):
        want = tpch.execute(self.Q).collect()
        confs = {
            # no broadcast joins, and a runtime filter for any scan size
            # (the 10 GB default never fires on the fixture)
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold": "1",
        }
        saved = {k: spark.conf.get(k) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            df = tpch.execute(self.Q)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "might_contain(" in plan, plan
            assert df.collect() == want
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)


class TestVarLengthCarryVsAdjacency:
    """r9: prop-less var-length rels in a path variable carry per-hop
    structs (nodes()/relationships() work) UNLESS adjacency-indexed —
    there the grouped-table fast path wins and introspection rejects
    with guidance."""

    def test_propless_path_var_carries(self, tpch):
        rows = tpch.execute(
            "MATCH p = (a:Customer)-[:PREV_CUST*2..2]->(b:Customer) "
            "WHERE a.c_custkey = 5 "
            "RETURN nodes(p) AS ns, size(relationships(p)) AS nr"
        ).collect()
        assert [(list(r["ns"]), r["nr"]) for r in rows] == \
            [([5, 4, 3], 2)]

    def test_adjacency_indexed_propless_rejects_introspection(
            self, spark):
        from brahmand_spark.errors import PlanError
        from brahmand_spark.graphs.tpch import build_session

        from .conftest import SF_SMOKE

        s = build_session(spark, SF_SMOKE)
        s.build_adj_index("PREV_CUST")
        # the pair walk keeps the adjacency fast path...
        df = s.execute(
            "MATCH (a:Customer)-[:PREV_CUST*2..2]->(b:Customer) "
            "WHERE a.c_custkey = 5 RETURN b.c_custkey AS bk")
        assert [r["bk"] for r in df.collect()] == [3]
        # ...and path introspection points at the trade
        import pytest

        with pytest.raises(PlanError, match="adjacency-indexed"):
            s.execute(
                "MATCH p = (a:Customer)-[:PREV_CUST*2..2]->"
                "(b:Customer) WHERE a.c_custkey = 5 "
                "RETURN nodes(p) AS ns").collect()
