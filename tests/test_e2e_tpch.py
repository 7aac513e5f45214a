"""End-to-end: Cypher over the TPC-H property graph vs DuckDB oracle SQL
on the same parquet files (FIXTURES.md §B oracle protocol, checklist §A
re-expressed on graph B)."""

import pytest

from brahmand_spark.errors import PlanError

from .helpers import assert_same


def q(tpch, cypher, **params):
    return tpch.execute(cypher, params=params or None)


class TestSingleHop:
    def test_filter_projection(self, tpch, duck):
        # checklist #1: single hop, filter, projection
        assert_same(
            q(tpch, """MATCH (c:Customer)-[:PLACED]->(o:Order)
                       WHERE o.o_totalprice > 200000
                       RETURN c.c_name AS name, o.o_totalprice AS price"""),
            duck.sql("""SELECT c.c_name AS name, o.o_totalprice AS price
                        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
                        WHERE o.o_totalprice > 200000"""),
        )

    def test_inline_properties(self, tpch, duck):
        # checklist #2: inline {k: v} properties
        assert_same(
            q(tpch, """MATCH (c:Customer {c_mktsegment: 'BUILDING'})-[:PLACED]->(o:Order {o_orderstatus: 'F'})
                       RETURN c.c_name AS name, o.o_orderkey AS okey"""),
            duck.sql("""SELECT c.c_name AS name, o.o_orderkey AS okey
                        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
                        WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderstatus = 'F'"""),
        )

    def test_label_inference(self, tpch, duck):
        # checklist #3: unlabeled endpoint inferred from rel schema
        assert_same(
            q(tpch, "MATCH (n:Nation)-[:IN_REGION]->(b) RETURN b.r_name AS region, n.n_name AS nation"),
            duck.sql("""SELECT r.r_name AS region, n.n_name AS nation
                        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey"""),
        )

    def test_rel_property_access(self, tpch, duck):
        assert_same(
            q(tpch, """MATCH (o:Order)-[h:HAS_LINE]->(l:Lineitem)
                       WHERE h.l_linenumber = 1 AND l.l_quantity > 45
                       RETURN o.o_orderkey AS okey, l.l_extendedprice AS price"""),
            duck.sql("""SELECT l_orderkey AS okey, l_extendedprice AS price
                        FROM lineitem WHERE l_linenumber = 1 AND l_quantity > 45"""),
        )

    def test_fk_backed_rel_declares_only_its_properties(self, tpch):
        """A relationship backed by a node table (FK fusion) has only
        its declared properties: PLACED declares none, so Order's
        columns are not its properties; HAS_LINE keeps l_linenumber."""
        with pytest.raises(PlanError, match="unknown property"):
            tpch.execute("MATCH (c:Customer)-[r:PLACED]->(o:Order) "
                         "WHERE c.c_custkey = 1 RETURN r.o_totalprice")
        got = tpch.execute(
            "MATCH (o:Order)-[r:HAS_LINE]->(l:Lineitem) "
            "WHERE o.o_orderkey = 1 RETURN r.l_linenumber AS n").collect()
        assert got and all(r["n"] is not None for r in got)


class TestMultiHop:
    def test_two_hop(self, tpch, duck):
        # checklist #4: multi-hop with endpoint filter
        assert_same(
            q(tpch, """MATCH (c:Customer)-[:CUST_IN]->(n:Nation)-[:IN_REGION]->(r:Region)
                       WHERE r.r_name = 'ASIA'
                       RETURN n.n_name AS nation, count(*) AS customers"""),
            duck.sql("""SELECT n.n_name AS nation, count(*) AS customers
                        FROM customer c
                        JOIN nation n ON c.c_nationkey = n.n_nationkey
                        JOIN region r ON n.n_regionkey = r.r_regionkey
                        WHERE r.r_name = 'ASIA' GROUP BY n.n_name"""),
        )

    def test_three_hop(self, tpch, duck):
        assert_same(
            q(tpch, """MATCH (c:Customer)-[:PLACED]->(o:Order)-[:HAS_LINE]->(l:Lineitem)-[:OF_PART]->(p:Part)
                       WHERE p.p_size > 40 AND o.o_orderstatus = 'O'
                       RETURN c.c_name AS name, p.p_name AS part, l.l_quantity AS qty"""),
            duck.sql("""SELECT c.c_name AS name, p.p_name AS part, l.l_quantity AS qty
                        FROM customer c
                        JOIN orders o ON o.o_custkey = c.c_custkey
                        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                        JOIN part p ON p.p_partkey = l.l_partkey
                        WHERE p.p_size > 40 AND o.o_orderstatus = 'O'"""),
        )

    def test_shared_alias_cyclic(self, tpch, duck):
        # checklist #6: cyclic pattern — lineitems of an order supplied by
        # a supplier in the same nation as the ordering customer.
        assert_same(
            q(tpch, """MATCH (c:Customer)-[:CUST_IN]->(n:Nation), (s:Supplier)-[:SUPP_IN]->(n)
                       RETURN n.n_name AS nation, count(*) AS pairs"""),
            duck.sql("""SELECT n.n_name AS nation, count(*) AS pairs
                        FROM customer c
                        JOIN nation n ON c.c_nationkey = n.n_nationkey
                        JOIN supplier s ON s.s_nationkey = n.n_nationkey
                        GROUP BY n.n_name"""),
        )

    def test_incoming_direction(self, tpch, duck):
        assert_same(
            q(tpch, """MATCH (o:Order)<-[:PLACED]-(c:Customer)
                       WHERE c.c_acctbal < 0
                       RETURN c.c_name AS name, count(*) AS orders"""),
            duck.sql("""SELECT c.c_name AS name, count(*) AS orders
                        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                        WHERE c.c_acctbal < 0 GROUP BY c.c_name"""),
        )


class TestAggregates:
    def test_implicit_group_by(self, tpch, duck):
        # checklist #7: mixed agg/non-agg -> implicit GROUP BY
        assert_same(
            q(tpch, """MATCH (c:Customer)-[:PLACED]->(o:Order)
                       RETURN c.c_mktsegment AS seg, count(*) AS n,
                              round(avg(o.o_totalprice), 2) AS avg_price,
                              min(o.o_orderkey) AS first_order"""),
            duck.sql("""SELECT c.c_mktsegment AS seg, count(*) AS n,
                               round(avg(o.o_totalprice), 2) AS avg_price,
                               min(o.o_orderkey) AS first_order
                        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
                        GROUP BY c.c_mktsegment"""),
        )

    def test_global_aggregate(self, tpch, duck):
        # checklist #8
        assert_same(
            q(tpch, "MATCH (c:Customer) RETURN count(*) AS n"),
            duck.sql("SELECT count(*) AS n FROM customer"),
        )

    def test_count_distinct(self, tpch, duck):
        # checklist #9
        assert_same(
            q(tpch, """MATCH (c:Customer)-[:PLACED]->(o:Order)
                       RETURN count(DISTINCT c.c_custkey) AS buyers"""),
            duck.sql("""SELECT count(DISTINCT o_custkey) AS buyers FROM orders"""),
        )

    def test_sum_min_max(self, tpch, duck):
        assert_same(
            q(tpch, """MATCH (o:Order)-[:HAS_LINE]->(l:Lineitem)
                       RETURN o.o_orderstatus AS status,
                              round(sum(l.l_quantity), 1) AS total_qty,
                              max(l.l_extendedprice) AS max_price,
                              min(l.l_discount) AS min_disc"""),
            duck.sql("""SELECT o.o_orderstatus AS status,
                               round(sum(l.l_quantity), 1) AS total_qty,
                               max(l.l_extendedprice) AS max_price,
                               min(l.l_discount) AS min_disc
                        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                        GROUP BY o.o_orderstatus"""),
        )


class TestModifiers:
    def test_order_skip_limit(self, tpch, duck):
        # checklist #10 (unique sort keys -> deterministic pagination)
        assert_same(
            q(tpch, """MATCH (c:Customer) RETURN c.c_name AS name, c.c_acctbal AS bal
                       ORDER BY bal DESC, name ASC SKIP 5 LIMIT 10"""),
            duck.sql("""SELECT c_name AS name, c_acctbal AS bal FROM customer
                        ORDER BY bal DESC, name ASC LIMIT 10 OFFSET 5"""),
        )

    def test_where_operators(self, tpch, duck):
        # checklist #11: AND/OR/IN/comparison mix
        assert_same(
            q(tpch, """MATCH (c:Customer)
                       WHERE (c.c_acctbal >= 1000 AND c.c_acctbal <= 5000)
                          OR c.c_mktsegment IN ['MACHINERY', 'HOUSEHOLD']
                       RETURN c.c_name AS name"""),
            duck.sql("""SELECT c_name AS name FROM customer
                        WHERE (c_acctbal >= 1000 AND c_acctbal <= 5000)
                           OR c_mktsegment IN ('MACHINERY', 'HOUSEHOLD')"""),
        )

    def test_null_and_arith(self, tpch, duck):
        # checklist #12
        assert_same(
            q(tpch, """MATCH (c:Customer) WHERE c.c_name IS NOT NULL
                       RETURN c.c_acctbal + 1 AS bal1, c.c_acctbal * 2 - 10 AS bal2"""),
            duck.sql("""SELECT c_acctbal + 1 AS bal1, c_acctbal * 2 - 10 AS bal2
                        FROM customer WHERE c_name IS NOT NULL"""),
        )

    def test_return_star(self, tpch):
        # checklist #13: RETURN * expansion over all bound aliases
        df = q(tpch, "MATCH (r:Region)-[i:IN_REGION]-(n:Nation) RETURN * LIMIT 5")
        assert any(c.startswith("r.") for c in df.columns)
        assert any(c.startswith("n.") for c in df.columns)
        assert df.count() == 5

    def test_distinct_rows(self, tpch, duck):
        assert_same(
            q(tpch, """MATCH (c:Customer)-[:PLACED]->(o:Order)
                       RETURN DISTINCT c.c_mktsegment AS seg"""),
            duck.sql("""SELECT DISTINCT c_mktsegment AS seg
                        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey"""),
        )


class TestEdgeCases:
    def test_invalid_direction_empty(self, tpch):
        # checklist #14: schema-invalid pattern -> empty result, not error
        df = q(tpch, "MATCH (o:Order)-[:PLACED]->(c:Customer) RETURN c.c_name AS name")
        assert df.count() == 0
        assert df.columns == ["name"]

    def test_disconnected_comma_patterns_error(self, tpch):
        with pytest.raises(PlanError):
            q(tpch, "MATCH (a:Customer), (b:Supplier) RETURN a.c_name")

    def test_either_direction(self, tpch, duck):
        # undirected hop, distinct endpoint labels -> resolves to the only
        # valid orientation
        assert_same(
            q(tpch, """MATCH (n:Nation)-[:IN_REGION]-(r:Region)
                       RETURN r.r_name AS region, count(*) AS nations"""),
            duck.sql("""SELECT r.r_name AS region, count(*) AS nations
                        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
                        GROUP BY r.r_name"""),
        )

    def test_parameters(self, tpch, duck):
        assert_same(
            q(tpch, """MATCH (c:Customer) WHERE c.c_mktsegment = $seg
                       RETURN count(*) AS n""", seg="BUILDING"),
            duck.sql("""SELECT count(*) AS n FROM customer
                        WHERE c_mktsegment = 'BUILDING'"""),
        )

    def test_scalar_functions(self, tpch, duck):
        assert_same(
            q(tpch, """MATCH (c:Customer)
                       RETURN toUpper(c.c_mktsegment) AS seg_u,
                              substring(c.c_name, 0, 8) AS name8,
                              abs(c.c_acctbal) AS mag"""),
            duck.sql("""SELECT upper(c_mktsegment) AS seg_u,
                               substring(c_name, 1, 8) AS name8,
                               abs(c_acctbal) AS mag FROM customer"""),
        )


class TestWithPipeline:
    def test_with_filter(self, tpch, duck):
        # WITH as projection + HAVING-style filter (reference gap, M6)
        assert_same(
            q(tpch, """MATCH (c:Customer)-[:PLACED]->(o:Order)
                       WITH c.c_name AS name, count(*) AS n
                       WHERE n >= 12 RETURN name, n"""),
            duck.sql("""SELECT c.c_name AS name, count(*) AS n
                        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
                        GROUP BY c.c_name HAVING count(*) >= 12"""),
        )

    def test_with_rebind_match(self, tpch, duck):
        # WITH carries a node binding into a second MATCH
        assert_same(
            q(tpch, """MATCH (c:Customer)-[:PLACED]->(o:Order)
                       WHERE o.o_totalprice > 300000
                       WITH DISTINCT c
                       MATCH (c)-[:CUST_IN]->(n:Nation)
                       RETURN n.n_name AS nation, count(*) AS big_spenders"""),
            duck.sql("""SELECT n.n_name AS nation, count(*) AS big_spenders
                        FROM (SELECT DISTINCT c.* FROM customer c
                              JOIN orders o ON o.o_custkey = c.c_custkey
                              WHERE o.o_totalprice > 300000) c
                        JOIN nation n ON c.c_nationkey = n.n_nationkey
                        GROUP BY n.n_name"""),
        )

    def test_unwind(self, tpch, duck):
        assert_same(
            q(tpch, "UNWIND [1, 2, 3] AS x RETURN x * 10 AS y"),
            duck.sql("SELECT x * 10 AS y FROM (VALUES (1), (2), (3)) t(x)"),
        )

    def test_var_length(self, tpch, duck):
        # 1..2 hops Customer->Order is 1-hop only (no Order->Order edges);
        # sanity: same as direct.
        assert_same(
            q(tpch, """MATCH (c:Customer)-[:PLACED*1..1]->(o:Order)
                       RETURN count(*) AS n"""),
            duck.sql("SELECT count(*) AS n FROM orders"),
        )


class TestQuantifiedPathPatterns:
    """Quantified path patterns ((x)-[:R]->(y)){m,n} (r13, VERDICT
    r12 missing #4 — openCypher 25 / GQL): single-rel groups desugar
    at parse time to the var-length machinery (*m..n), inheriting
    per-hop property filtering, relationship-uniqueness and the cost
    guard; genuinely new shapes reject loudly (tests/test_parser.py
    TestQppParsing)."""

    def test_two_label_qpp_range(self, tpch, duck):
        assert_same(
            q(tpch, """MATCH (a:Customer) ((x)-[:NEXT_CUST]->(y)){1,3} (b:Customer)
                       WHERE a.c_custkey <= 100
                       RETURN a.c_custkey AS src, b.c_custkey AS dst"""),
            duck.sql("""SELECT a.c_custkey AS src, b.c_custkey AS dst
                        FROM customer a JOIN customer b
                          ON b.c_custkey - a.c_custkey IN (1, 2, 3)
                        WHERE a.c_custkey <= 100"""),
        )

    def test_exact_quantifier_and_plus(self, tpch, duck):
        assert_same(
            q(tpch, """MATCH (a:Customer) (()-[:NEXT_CUST]->()){2} (b:Customer)
                       WHERE a.c_custkey <= 50
                       RETURN a.c_custkey AS src, b.c_custkey AS dst"""),
            duck.sql("""SELECT a.c_custkey AS src, b.c_custkey AS dst
                        FROM customer a JOIN customer b
                          ON b.c_custkey - a.c_custkey = 2
                        WHERE a.c_custkey <= 50"""),
        )
        # + = 1..unbounded -> the session cost guard (default 6)
        plus = sorted(map(tuple, q(
            tpch, """MATCH (a:Customer) (()-[:NEXT_CUST]->())+ (b:Customer)
                     WHERE a.c_custkey <= 30
                     RETURN a.c_custkey AS src, b.c_custkey AS dst"""
        ).collect()))
        star = sorted(map(tuple, q(
            tpch, """MATCH (a:Customer)-[:NEXT_CUST*]->(b:Customer)
                     WHERE a.c_custkey <= 30
                     RETURN a.c_custkey AS src, b.c_custkey AS dst"""
        ).collect()))
        assert plus == star and len(plus) > 0

    def test_qpp_where_folds_per_hop(self, tpch, duck):
        """The group WHERE (rel property equality) applies to EVERY
        traversed hop — identical to the inline property map."""
        assert_same(
            q(tpch, """MATCH (o:Order) ((x)-[h:HAS_LINE]->(y) WHERE h.l_linenumber = 1){1} (l:Lineitem)
                       WHERE o.o_orderkey <= 1000
                       RETURN o.o_orderkey AS okey, l.l_partkey AS pkey"""),
            duck.sql("""SELECT l.l_orderkey AS okey, l.l_partkey AS pkey
                        FROM lineitem l
                        WHERE l.l_orderkey <= 1000
                          AND l.l_linenumber = 1"""),
        )

    def test_zero_length_walks(self, tpch, duck):
        """*0..n / QPP {0,n} (r13): zero-hop rows bind both endpoints
        to the SAME node (identity over the shared endpoint label);
        cross-label zero-length is unsatisfiable; length(p) = 0 and
        relationships(p) = [] on the zero rows."""
        assert_same(
            q(tpch, """MATCH (a:Customer)-[:NEXT_CUST*0..2]->(b:Customer)
                       WHERE a.c_custkey <= 100
                       RETURN a.c_custkey AS src, b.c_custkey AS dst"""),
            duck.sql("""SELECT a.c_custkey AS src, b.c_custkey AS dst
                        FROM customer a JOIN customer b
                          ON b.c_custkey - a.c_custkey IN (0, 1, 2)
                        WHERE a.c_custkey <= 100"""),
        )
        # QPP spelling is observationally identical
        assert_same(
            q(tpch, """MATCH (a:Customer) (()-[:NEXT_CUST]->()){,2} (b:Customer)
                       WHERE a.c_custkey <= 100
                       RETURN a.c_custkey AS src, b.c_custkey AS dst"""),
            duck.sql("""SELECT a.c_custkey AS src, b.c_custkey AS dst
                        FROM customer a JOIN customer b
                          ON b.c_custkey - a.c_custkey IN (0, 1, 2)
                        WHERE a.c_custkey <= 100"""),
        )
        # cross-label zero arm is empty: *0..1 == the plain 1-hop
        assert_same(
            q(tpch, """MATCH (c:Customer)-[:PLACED*0..1]->(o:Order)
                       WHERE c.c_custkey <= 50
                       RETURN c.c_custkey AS ck, o.o_orderkey AS ok"""),
            duck.sql("""SELECT o_custkey AS ck, o_orderkey AS ok
                        FROM orders WHERE o_custkey <= 50"""),
        )
        # a schema-invalid walk has no zero-length path either: no node
        # is both a Customer and an Order
        assert q(tpch, """MATCH (a:Customer)-[:NEXT_CUST*0..1]->(b:Order)
                          RETURN a.c_custkey AS ck""").count() == 0
        rows = q(tpch, """
            MATCH p = (a:Customer)-[:NEXT_CUST*0..1]->(b:Customer)
            WHERE a.c_custkey = 7
            RETURN length(p) AS l, size(relationships(p)) AS nr
            ORDER BY l""").collect()
        assert [(r["l"], r["nr"]) for r in rows] == [(0, 0), (1, 1)]

    def test_zero_length_multi_type(self, tpch, duck):
        """-[:A|B*0..1]-> (r14, ADVICE r13): zero-length identity rows
        derive from ALL arms' shared endpoint labels, not only the
        first arm's schema."""
        assert_same(
            q(tpch, """MATCH (a:Customer)
                             -[:NEXT_CUST|PREV_CUST*0..1]->(b:Customer)
                       WHERE a.c_custkey <= 20
                       RETURN a.c_custkey AS src, b.c_custkey AS dst"""),
            duck.sql("""SELECT a.c_custkey AS src, b.c_custkey AS dst
                        FROM customer a JOIN customer b
                          ON b.c_custkey - a.c_custkey IN (-1, 0, 1)
                        WHERE a.c_custkey <= 20"""),
        )

    def test_chained_qpp_groups(self, tpch, duck):
        """Consecutive quantified groups (r14, ADVICE r13): the joint
        node between two groups is anonymous; the chain composes the
        quantifier ranges with path-decomposition multiplicity
        (total length 3 = 1+2 or 2+1 -> two rows)."""
        assert_same(
            q(tpch, """MATCH (a:Customer) ((x)-[:NEXT_CUST]->(y)){1,2}
                             ((x2)-[:NEXT_CUST]->(y2)){1,2} (b:Customer)
                       WHERE a.c_custkey <= 20
                       RETURN a.c_custkey AS src, b.c_custkey AS dst"""),
            duck.sql("""SELECT a.c_custkey AS src, b.c_custkey AS dst
                        FROM customer a
                        JOIN (VALUES (2), (3), (3), (4)) d(diff) ON true
                        JOIN customer b
                          ON b.c_custkey - a.c_custkey = d.diff
                        WHERE a.c_custkey <= 20"""),
        )

    def test_zero_length_shortest_path(self, tpch):
        """shortestPath with *0..k includes the zero-length a==b
        path (previously excluded by the min>=1 contract)."""
        rows = q(tpch, """
            MATCH p = shortestPath((a:Customer)-[:NEXT_CUST*0..2]->(b:Customer))
            WHERE a.c_custkey <= 3
            RETURN a.c_custkey AS s, b.c_custkey AS d, length(p) AS l
            """).collect()
        got = {(r["s"], r["d"], r["l"]) for r in rows}
        assert {(s, s, 0) for s in range(4)} <= got
        assert {(s, s + 2, 2) for s in range(4)} <= got

    def test_leading_and_trailing_anonymous_endpoints(self, tpch, duck):
        assert_same(
            q(tpch, """MATCH ((x)-[:NEXT_CUST]->(y)){2} (b:Customer)
                       WHERE b.c_custkey <= 10
                       RETURN b.c_custkey AS dst"""),
            duck.sql("""SELECT b.c_custkey AS dst
                        FROM customer a JOIN customer b
                          ON b.c_custkey - a.c_custkey = 2
                        WHERE b.c_custkey <= 10"""),
        )


class TestPathVariables:
    """Path variables p = (...) + length/nodes/relationships
    (extension; SURVEY §2.1 lists them as unsupported in the
    reference)."""

    def test_fixed_path_length_and_nodes(self, tpch, duck):
        assert_same(
            q(tpch, """MATCH p = (c:Customer)-[:CUST_IN]->(n:Nation)-[:IN_REGION]->(r:Region)
                       WHERE r.r_name = 'ASIA'
                       RETURN c.c_custkey AS cust, length(p) AS hops,
                              size(nodes(p)) AS n_nodes"""),
            duck.sql("""SELECT c.c_custkey AS cust, 2::INT AS hops,
                               3::INT AS n_nodes
                        FROM customer c
                        JOIN nation n ON c.c_nationkey = n.n_nationkey
                        JOIN region r ON n.n_regionkey = r.r_regionkey
                        WHERE r.r_name = 'ASIA'"""),
        )

    def test_nodes_array_values(self, tpch, duck):
        assert_same(
            q(tpch, """MATCH p = (n:Nation)-[:IN_REGION]->(r:Region)
                       RETURN nodes(p) AS ids"""),
            duck.sql("""SELECT [n.n_nationkey, r.r_regionkey] AS ids
                        FROM nation n
                        JOIN region r ON n.n_regionkey = r.r_regionkey"""),
        )

    def test_var_length_path_hops(self, tpch, duck):
        assert_same(
            q(tpch, """MATCH p = (a:Customer)-[:NEXT_CUST*1..2]->(b:Customer)
                       WHERE a.c_custkey <= 100
                       RETURN a.c_custkey AS src, b.c_custkey AS dst,
                              length(p) AS hops"""),
            duck.sql("""SELECT a.c_custkey AS src, b.c_custkey AS dst,
                               (b.c_custkey - a.c_custkey)::INT AS hops
                        FROM customer a JOIN customer b
                          ON b.c_custkey - a.c_custkey IN (1, 2)
                        WHERE a.c_custkey <= 100"""),
        )

    def test_relationships_fixed_path(self, tpch, duck):
        assert_same(
            q(tpch, """MATCH p = (n:Nation)-[:IN_REGION]->(r:Region)
                       WHERE r.r_name = 'EUROPE'
                       RETURN n.n_name AS nation, size(relationships(p)) AS n_rels"""),
            duck.sql("""SELECT n.n_name AS nation, 1::INT AS n_rels
                        FROM nation n
                        JOIN region r ON n.n_regionkey = r.r_regionkey
                        WHERE r.r_name = 'EUROPE'"""),
        )

    def test_with_carries_path_as_array(self, tpch, duck):
        assert_same(
            q(tpch, """MATCH p = (n:Nation)-[:IN_REGION]->(r:Region)
                       WITH p, r.r_name AS region
                       RETURN region, size(p) AS n ORDER BY region"""),
            duck.sql("""SELECT r.r_name AS region, 2::INT AS n
                        FROM nation n
                        JOIN region r ON n.n_regionkey = r.r_regionkey
                        ORDER BY region"""),
        )

    def test_relationships_on_var_length_carries_props(self, tpch):
        """r9: a var-length segment whose type declares properties
        exposes per-hop (src, dst, props) structs via
        relationships(p)."""
        rows = q(tpch, """MATCH p = (a:Customer)-[:NEXT_CUST*2..2]->(b:Customer)
                   WHERE a.c_custkey = 1
                   RETURN relationships(p) AS rels""").collect()
        assert len(rows) == 1
        rels = rows[0]["rels"]
        assert [(r["src"], r["dst"], r["hop_w"]) for r in rels] == \
            [(1, 2, 2), (2, 3, 3)]

    def test_relationships_rejects_shortest_segment(self, tpch):
        """shortestPath materializes only the min distance, never the
        path's edges — per-hop access stays rejected."""
        with pytest.raises(PlanError, match="variable-length/shortest"):
            q(tpch, """MATCH p = shortestPath((a:Customer)-[:NEXT_CUST*..2]->(b:Customer))
                       RETURN relationships(p) AS rels""").collect()

    def test_path_var_collision_rejected(self, tpch):
        with pytest.raises(PlanError, match="collides"):
            q(tpch, """MATCH n = (n:Nation)-[:IN_REGION]->(r:Region)
                       RETURN length(n) AS hops""").collect()

    def test_path_var_on_optional_match_compiles(self, tpch):
        # supported since r12 (TestOptionalPathVariables pins the
        # NULL semantics; this pins that the old rejection is gone)
        n = q(tpch, """MATCH (c:Customer)
                       OPTIONAL MATCH p = (c)-[:PLACED]->(o:Order)
                       RETURN count(*) AS n""").collect()[0]["n"]
        assert n > 0


class TestShortestPath:
    """shortestPath()/allShortestPaths() via frontier BFS (extension).
    NEXT_CUST is the +1 chain on c_custkey, so directed shortest
    distance == key difference; either-direction == |difference|."""

    def test_directed_shortest(self, tpch, duck):
        assert_same(
            q(tpch, """MATCH p = shortestPath((a:Customer)-[:NEXT_CUST*..3]->(b:Customer))
                       WHERE a.c_custkey <= 50
                       RETURN a.c_custkey AS src, b.c_custkey AS dst,
                              length(p) AS dist"""),
            duck.sql("""SELECT a.c_custkey AS src, b.c_custkey AS dst,
                               (b.c_custkey - a.c_custkey)::INT AS dist
                        FROM customer a JOIN customer b
                          ON b.c_custkey - a.c_custkey IN (1, 2, 3)
                        WHERE a.c_custkey <= 50"""),
        )

    def test_either_direction_minimality(self, tpch, duck):
        """|b - a| is the shortest undirected distance on the chain —
        longer back-and-forth walks must not surface."""
        assert_same(
            q(tpch, """MATCH p = allShortestPaths((a:Customer)-[:NEXT_CUST*..3]-(b:Customer))
                       WHERE a.c_custkey = 20
                       RETURN b.c_custkey AS dst, length(p) AS dist"""),
            duck.sql("""SELECT b.c_custkey AS dst,
                               abs(b.c_custkey - 20)::INT AS dist
                        FROM customer b
                        WHERE abs(b.c_custkey - 20) BETWEEN 1 AND 3"""),
        )

    def test_shortest_multi_rel_rejected(self, tpch):
        with pytest.raises(PlanError, match="single-relationship"):
            q(tpch, """MATCH p = shortestPath((a:Customer)-[:PLACED]->(o:Order)-[:HAS_LINE]->(l:Lineitem))
                       RETURN count(*) AS n""").collect()

    def test_nodes_rejected_on_shortest(self, tpch):
        with pytest.raises(PlanError, match="variable-length"):
            q(tpch, """MATCH p = shortestPath((a:Customer)-[:NEXT_CUST*..2]->(b:Customer))
                       RETURN nodes(p) AS ids""").collect()


class TestPatternPredicates:
    """WHERE (a)-[:T]->(b) / exists(...) -> leftsemi; NOT -> leftanti
    (extension beyond the reference surface)."""

    def test_exists_bare(self, tpch, duck):
        assert_same(
            q(tpch, """MATCH (c:Customer)
                       WHERE (c)-[:PLACED]->({o_orderstatus: 'F'})
                             AND c.c_acctbal > 5000
                       RETURN c.c_name AS name"""),
            duck.sql("""SELECT c.c_name AS name FROM customer c
                        WHERE EXISTS (SELECT 1 FROM orders o
                                      WHERE o.o_custkey = c.c_custkey
                                        AND o.o_orderstatus = 'F')
                          AND c.c_acctbal > 5000"""),
        )

    def test_not_exists_fn(self, tpch, duck):
        assert_same(
            q(tpch, """MATCH (c:Customer)
                       WHERE NOT exists((c)-[:PLACED]->({o_orderstatus: 'F'}))
                       RETURN count(*) AS n"""),
            duck.sql("""SELECT count(*) AS n FROM customer c
                        WHERE NOT EXISTS (SELECT 1 FROM orders o
                                          WHERE o.o_custkey = c.c_custkey
                                            AND o.o_orderstatus = 'F')"""),
        )

    def test_two_anchors(self, tpch, duck):
        # both endpoints bound outside -> semi-join on both id keys
        assert_same(
            q(tpch, """MATCH (c:Customer) MATCH (n:Nation)
                       WHERE (c)-[:CUST_IN]->(n) AND n.n_nationkey < 5
                       RETURN c.c_name AS name, n.n_name AS nation"""),
            duck.sql("""SELECT c.c_name AS name, n.n_name AS nation
                        FROM customer c, nation n
                        WHERE c.c_nationkey = n.n_nationkey
                          AND n.n_nationkey < 5"""),
        )

    def test_multi_hop_predicate(self, tpch, duck):
        # the existential pattern may itself be a chain
        assert_same(
            q(tpch, """MATCH (c:Customer)
                       WHERE (c)-[:PLACED]->()-[:HAS_LINE]->({l_linenumber: 6})
                       RETURN count(*) AS n"""),
            duck.sql("""SELECT count(*) AS n FROM customer c
                        WHERE EXISTS (SELECT 1 FROM orders o
                                      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                                      WHERE o.o_custkey = c.c_custkey
                                        AND l.l_linenumber = 6)"""),
        )

    def test_predicate_does_not_multiply_rows(self, tpch, duck):
        # a customer with many 'F' orders still yields one row
        assert_same(
            q(tpch, """MATCH (c:Customer)
                       WHERE (c)-[:PLACED]->({o_orderstatus: 'F'})
                       RETURN count(*) AS n"""),
            duck.sql("""SELECT count(*) AS n FROM customer c
                        WHERE EXISTS (SELECT 1 FROM orders o
                                      WHERE o.o_custkey = c.c_custkey
                                        AND o.o_orderstatus = 'F')"""),
        )

    def test_unbound_predicate_errors(self, tpch):
        with pytest.raises(PlanError, match="bound"):
            q(tpch, """MATCH (c:Customer)
                       WHERE (x:Supplier)-[:SUPP_IN]->(y:Nation)
                       RETURN count(*) AS n""")

    def test_pattern_under_or_errors(self, tpch):
        with pytest.raises(PlanError, match="conjunct"):
            q(tpch, """MATCH (c:Customer)
                       WHERE (c)-[:PLACED]->() OR c.c_acctbal > 0
                       RETURN count(*) AS n""")

    def test_parenthesized_expr_still_works(self, tpch, duck):
        assert_same(
            q(tpch, """MATCH (c:Customer)
                       WHERE (c.c_acctbal + 100) > 9999
                       RETURN count(*) AS n"""),
            duck.sql("""SELECT count(*) AS n FROM customer
                        WHERE (c_acctbal + 100) > 9999"""),
        )


class TestListComprehensions:
    """[x IN l WHERE p | m], any/all/none/single, reduce — compiled to
    filter/transform/exists/forall/aggregate (extension)."""

    def test_comprehension_with_column_capture(self, tpch, duck):
        assert_same(
            q(tpch, """MATCH (c:Customer) WHERE c.c_custkey <= 50
                       RETURN c.c_custkey AS k,
                              [x IN [1,2,3,4] WHERE x % 2 = 0 | x * c.c_custkey] AS evens"""),
            duck.sql("""SELECT c_custkey AS k,
                               list_transform(list_filter([1,2,3,4], x -> x % 2 = 0),
                                              x -> x * c_custkey) AS evens
                        FROM customer WHERE c_custkey <= 50"""),
        )

    def test_reduce_over_collect(self, tpch, duck):
        assert_same(
            q(tpch, """MATCH (n:Nation)<-[:CUST_IN]-(c:Customer)
                       WITH n.n_name AS nation, collect(c.c_custkey) AS keys
                       RETURN nation,
                              reduce(acc = 0, k IN keys | acc + k) AS total"""),
            duck.sql("""SELECT n.n_name AS nation, sum(c.c_custkey) AS total
                        FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
                        GROUP BY n.n_name"""),
        )

    def test_quantifiers(self, tpch, duck):
        assert_same(
            q(tpch, """MATCH (n:Nation)<-[:CUST_IN]-(c:Customer)
                       WITH n.n_name AS nation, collect(c.c_acctbal) AS bals
                       RETURN nation,
                              any(b IN bals WHERE b < 0) AS has_neg,
                              all(b IN bals WHERE b > -1000) AS all_ok,
                              none(b IN bals WHERE b > 99999) AS none_huge"""),
            duck.sql("""SELECT n.n_name AS nation,
                               bool_or(c.c_acctbal < 0) AS has_neg,
                               bool_and(c.c_acctbal > -1000) AS all_ok,
                               NOT bool_or(c.c_acctbal > 99999) AS none_huge
                        FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
                        GROUP BY n.n_name"""),
        )

    def test_single_quantifier(self, tpch, duck):
        assert_same(
            q(tpch, """MATCH (c:Customer) WHERE c.c_custkey <= 20
                       RETURN c.c_custkey AS k,
                              single(x IN [1, 2, 3] WHERE x = c.c_custkey) AS uniq"""),
            duck.sql("""SELECT c_custkey AS k,
                               len(list_filter([1,2,3], x -> x = c_custkey)) = 1 AS uniq
                        FROM customer WHERE c_custkey <= 20"""),
        )

    def test_float_reduce(self, tpch, duck):
        assert_same(
            q(tpch, """MATCH (c:Customer) WHERE c.c_custkey <= 10
                       RETURN c.c_custkey AS k,
                              round(reduce(acc = 0.0, x IN [1.5, 2.5] | acc + x * c.c_acctbal), 2) AS s"""),
            duck.sql("""SELECT c_custkey AS k, round(4.0 * c_acctbal, 2) AS s
                        FROM customer WHERE c_custkey <= 10"""),
        )


class TestExplainStatement:
    def test_explain_returns_plan_row(self, tpch):
        rows = tpch.execute(
            "EXPLAIN MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "RETURN c.c_name AS n, count(*) AS cnt").collect()
        assert len(rows) == 1
        assert "Physical Plan" in rows[0]["plan"]
        assert "Scan" in rows[0]["plan"]

    def test_explain_cost_has_statistics(self, tpch):
        rows = tpch.execute(
            "EXPLAIN COST MATCH (r:Region) RETURN r.r_name AS n"
        ).collect()
        assert "Statistics" in rows[0]["plan"]

    def test_profile_runs_and_counts(self, tpch):
        row = tpch.execute(
            "PROFILE MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "RETURN c.c_name AS name, count(*) AS n").collect()[0]
        assert row["rows"] > 1
        assert row["joins"] >= 1
        assert row["python_stages"] == 0
        assert row["elapsed_s"] >= 0

    def test_explain_ddl_rejected(self, tpch):
        import pytest

        from brahmand_spark.errors import UnsupportedError

        with pytest.raises(UnsupportedError, match="EXPLAIN"):
            tpch.execute(
                "EXPLAIN CREATE NODE TABLE X (id INT, PRIMARY KEY(id))")


class TestSubqueryExpressions:
    """EXISTS { MATCH ... WHERE ... } and COUNT { ... } subquery
    expressions (extension): the block compiles as an independent
    assembly anchored on the shared aliases — EXISTS as a
    leftsemi/leftanti join, COUNT as a grouped count LEFT-joined back
    as a hidden scalar column (0 when no match)."""

    def test_exists_block_with_inner_where(self, tpch, duck):
        assert_same(
            tpch.execute(
                "MATCH (c:Customer) WHERE EXISTS { MATCH "
                "(c)-[:PLACED]->(o:Order) WHERE o.o_totalprice > "
                "300000 } RETURN c.c_name AS name"),
            duck.sql(
                "SELECT c_name AS name FROM customer WHERE EXISTS ("
                "SELECT 1 FROM orders WHERE o_custkey = c_custkey "
                "AND o_totalprice > 300000)"),
        )

    def test_not_exists_block(self, tpch, duck):
        assert_same(
            tpch.execute(
                "MATCH (c:Customer) WHERE NOT EXISTS { "
                "(c)-[:PLACED]->(o:Order) WHERE o.o_orderstatus = 'P' }"
                " RETURN count(*) AS n"),
            duck.sql(
                "SELECT count(*) AS n FROM customer WHERE NOT EXISTS ("
                "SELECT 1 FROM orders WHERE o_custkey = c_custkey "
                "AND o_orderstatus = 'P')"),
        )

    def test_count_block_in_where(self, tpch, duck):
        assert_same(
            tpch.execute(
                "MATCH (c:Customer) WHERE "
                "COUNT { (c)-[:PLACED]->(o:Order) } >= 15 "
                "RETURN c.c_name AS name"),
            duck.sql(
                "SELECT c_name AS name FROM customer WHERE ("
                "SELECT count(*) FROM orders WHERE o_custkey = "
                "c_custkey) >= 15"),
        )

    def test_count_block_in_return_and_order(self, tpch, duck):
        assert_same(
            tpch.execute(
                "MATCH (c:Customer) RETURN c.c_name AS name, "
                "COUNT { MATCH (c)-[:PLACED]->(o:Order) "
                "WHERE o.o_orderstatus = 'F' } AS nf "
                "ORDER BY nf DESC, name LIMIT 10"),
            duck.sql(
                "SELECT c_name AS name, (SELECT count(*) FROM orders "
                "WHERE o_custkey = c_custkey AND o_orderstatus = 'F') "
                "AS nf FROM customer ORDER BY nf DESC, name LIMIT 10"),
        )

    def test_count_block_zero_for_no_match(self, tpch):
        rows = tpch.execute(
            "MATCH (n:Nation) RETURN n.n_name AS name, "
            "COUNT { (n)-[:IN_REGION]->(r:Region) "
            "WHERE r.r_name = 'NOPE' } AS z LIMIT 3").collect()
        assert all(r["z"] == 0 for r in rows)

    def test_count_block_arithmetic(self, tpch, duck):
        assert_same(
            tpch.execute(
                "MATCH (c:Customer) WHERE c.c_custkey <= 20 "
                "RETURN c.c_custkey AS ck, "
                "COUNT { (c)-[:PLACED]->(o:Order) } * 2 + 1 AS x"),
            duck.sql(
                "SELECT c_custkey AS ck, (SELECT count(*) FROM orders "
                "WHERE o_custkey = c_custkey) * 2 + 1 AS x "
                "FROM customer WHERE c_custkey <= 20"),
        )

    def test_subquery_where_unbound_alias_errors(self, tpch):
        import pytest

        from brahmand_spark.errors import PlanError

        with pytest.raises(PlanError, match="not bound inside"):
            tpch.execute(
                "MATCH (c:Customer)"
                " WHERE EXISTS { (c)-[:PLACED]->(o:Order) "
                "WHERE zz.o_totalprice > 1 } "
                "RETURN count(*) AS n")


class TestCallSubquery:
    """CALL { <query> } composition (r6 extension — uncorrelated
    form): independent block compiled by a sibling compiler, RETURN
    columns joined into the pipeline with cartesian semantics.
    Oracle-checked variants live in tests/test_folded_gates.py
    FOLDED_CYPHER (call_subquery_agg/_rows/_standalone)."""

    def test_block_output_in_order_by_and_projection(self, tpch):
        rows = tpch.execute(
            "MATCH (r:Region) "
            "CALL { MATCH (n:Nation) RETURN count(*) AS total } "
            "RETURN r.r_name AS region, total "
            "ORDER BY total DESC, region LIMIT 2").collect()
        assert [(r["region"], r["total"]) for r in rows] == [
            ("AFRICA", 25), ("AMERICA", 25)]

    def test_union_inside_block(self, tpch):
        rows = tpch.execute(
            "CALL { MATCH (n:Nation) WHERE n.n_nationkey = 0 "
            "RETURN n.n_name AS nm "
            "UNION MATCH (n:Nation) WHERE n.n_nationkey = 1 "
            "RETURN n.n_name AS nm } "
            "RETURN nm ORDER BY nm").collect()
        assert [r["nm"] for r in rows] == ["NATION_0", "NATION_1"]

    def test_two_blocks_compose(self, tpch):
        rows = tpch.execute(
            "MATCH (r:Region) "
            "CALL { MATCH (n:Nation) RETURN count(*) AS nations } "
            "CALL { MATCH (c:Customer) RETURN count(*) AS customers } "
            "RETURN count(*) AS rows_out, min(nations) AS n, "
            "min(customers) AS c").collect()
        assert [(r["rows_out"], r["n"], r["c"]) for r in rows] == [
            (5, 25, 150)]

    def test_name_collision_rejected(self, tpch):
        with pytest.raises(PlanError, match="already bound"):
            tpch.execute(
                "MATCH (r:Region) "
                "CALL { MATCH (x:Nation) RETURN count(*) AS r } "
                "RETURN 1 AS one")

    def test_with_boundary_then_block(self, tpch):
        rows = tpch.execute(
            "MATCH (r:Region) WITH r.r_name AS region "
            "CALL { MATCH (n:Nation) RETURN count(*) AS total } "
            "RETURN region, total ORDER BY region LIMIT 1").collect()
        assert [(r["region"], r["total"]) for r in rows] == [
            ("AFRICA", 25)]


class TestCorrelatedCallSubquery:
    """Correlated CALL { WITH a ... } (r6): per-row aggregates as
    anchor-grouped aggregation, per-invocation ORDER BY/LIMIT as
    per-anchor windows, openCypher row semantics (all-aggregate block
    left-joins with count->0; row blocks drop match-less outer rows).
    Oracle-checked variants in FOLDED_CYPHER (call_subquery_correlated_
    agg/topn/rows)."""

    def test_all_aggregate_block_keeps_matchless_rows(self, tpch):
        rows = tpch.execute(
            "MATCH (c:Customer) "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "WHERE o.o_totalprice > 99999999 RETURN count(*) AS big } "
            "RETURN count(*) AS n, sum(big) AS total").collect()
        assert [(r["n"], r["total"]) for r in rows] == [(150, 0)]

    def test_top_n_per_group_window(self, tpch):
        rows = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 3 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "RETURN o.o_totalprice AS price ORDER BY price DESC "
            "LIMIT 2 } "
            "RETURN c.c_custkey AS ck, count(*) AS n "
            "ORDER BY ck").collect()
        assert all(r["n"] == 2 for r in rows)

    def test_skip_inside_block(self, tpch):
        full = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey = 1 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "RETURN o.o_totalprice AS price ORDER BY price DESC } "
            "RETURN price ORDER BY price DESC").collect()
        skipped = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey = 1 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "RETURN o.o_totalprice AS price ORDER BY price DESC "
            "SKIP 1 } "
            "RETURN price ORDER BY price DESC").collect()
        assert [r["price"] for r in skipped] \
            == [r["price"] for r in full][1:]

    def test_non_imported_alias_is_fresh(self, tpch):
        """A block alias matching an outer name but NOT imported is a
        fresh variable, per openCypher visibility."""
        rows = tpch.execute(
            "MATCH (n:Nation) WHERE n.n_nationkey = 0 "
            "CALL { WITH n MATCH (c:Customer)-[:CUST_IN]->(n) "
            "RETURN count(*) AS in_nation } "
            "RETURN n.n_name AS nation, in_nation").collect()
        assert len(rows) == 1 and rows[0]["in_nation"] > 0

    def test_unsupported_forms_error(self, tpch):
        from brahmand_spark.errors import UnsupportedError

        with pytest.raises(UnsupportedError, match="bound node"):
            tpch.execute(
                "MATCH (c:Customer) WITH c.c_name AS nm "
                "CALL { WITH nm MATCH (x:Order) RETURN count(*) AS n }"
                " RETURN n LIMIT 1")
        # UNION arms are supported since r8 — but each arm must
        # re-state the import WITH (openCypher importing-WITH rule)
        with pytest.raises(UnsupportedError, match="re-state"):
            tpch.execute(
                "MATCH (c:Customer) "
                "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
                "RETURN o.o_orderkey AS k "
                "UNION MATCH (x:Customer)-[:PLACED]->(p:Order) "
                "RETURN p.o_orderkey AS k } RETURN k LIMIT 1")
        with pytest.raises(PlanError, match="output aliases"):
            tpch.execute(
                "MATCH (c:Customer) "
                "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
                "WITH o.o_orderkey AS k ORDER BY o.o_totalprice "
                "LIMIT 2 RETURN count(*) AS n } RETURN n LIMIT 1")
        # nested correlated CALL compiles since r10 (one recursion
        # into the same machinery) — see test_nested_correlated_call
        # and the folded gate call_nested_correlated for correctness;
        # entity outputs from UNION arms are allowed since r10 when
        # every arm returns the SAME shape — MISMATCHED shapes (Order
        # arm vs Nation arm) still reject with a clear error
        with pytest.raises(UnsupportedError, match="different shapes"):
            tpch.execute(
                "MATCH (c:Customer) "
                "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
                "RETURN o AS x "
                "UNION ALL "
                "WITH c MATCH (c)-[:CUST_IN]->(n:Nation) "
                "RETURN n AS x } RETURN c.c_custkey AS k LIMIT 1")

    def test_nested_correlated_call(self, tpch):
        """r10: correlated CALL inside correlated CALL — the inner
        block anchors on a block-local node; result equals the flat
        two-join aggregate."""
        got = sorted(map(tuple, tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 5 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "CALL { WITH o MATCH (o)-[:HAS_LINE]->(l:Lineitem) "
            "RETURN count(*) AS nl } "
            "RETURN sum(nl) AS total } "
            "RETURN c.c_custkey AS ck, total ORDER BY ck").collect()))
        want = sorted(map(tuple, tpch.execute(
            "MATCH (c:Customer)-[:PLACED]->(o:Order)"
            "-[:HAS_LINE]->(l:Lineitem) WHERE c.c_custkey <= 5 "
            "RETURN c.c_custkey AS ck, count(*) AS total "
            "ORDER BY ck").collect()))
        assert got == want and len(got) > 0

    def test_nested_uncorrelated_and_return_star(self, tpch):
        """r9 residuals: one level of nested uncorrelated CALL cross-
        joins inside the block; RETURN * expands to block-local
        variables and node outputs carry their whole binding out."""
        rows = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 3 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "CALL { MATCH (n:Nation) RETURN count(*) AS nn } "
            "WITH c, count(*) AS cnt, max(nn) AS nn2 "
            "RETURN cnt, nn2 } "
            "RETURN c.c_custkey AS ck, cnt, nn2 ORDER BY ck").collect()
        want = tpch.execute(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "WHERE c.c_custkey <= 3 "
            "RETURN c.c_custkey AS ck, count(*) AS cnt "
            "ORDER BY ck").collect()
        assert [(r["ck"], r["cnt"]) for r in rows] == \
            [(r["ck"], r["cnt"]) for r in want]
        assert all(r["nn2"] == 25 for r in rows)
        star = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 3 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "WHERE o.o_totalprice > 100000 RETURN * } "
            "RETURN c.c_custkey AS ck, o.o_orderkey AS k "
            "ORDER BY ck, k").collect()
        direct = tpch.execute(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "WHERE c.c_custkey <= 3 AND o.o_totalprice > 100000 "
            "RETURN c.c_custkey AS ck, o.o_orderkey AS k "
            "ORDER BY ck, k").collect()
        assert [tuple(r) for r in star] == \
            [tuple(r) for r in direct] and len(star) > 0
        # rel variables carry too (derived FK edges have the id
        # endpoint columns; the carried binding must survive)
        rel = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 2 "
            "CALL { WITH c MATCH (c)-[r:PLACED]->(o:Order) "
            "RETURN * } "
            "RETURN c.c_custkey AS ck, o.o_orderkey AS k "
            "ORDER BY ck, k").collect()
        assert len(rel) == tpch.execute(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "WHERE c.c_custkey <= 2 RETURN o").count()


class TestCorrelatedCallUnion:
    """UNION [ALL] arms inside a correlated CALL { } (r8 — the last
    v2 wall): arms compile independently and union per invocation.
    Oracle-checked in FOLDED_CYPHER (call_correlated_union_*)."""

    def test_union_all_is_bag_union_per_invocation(self, tpch):
        rows = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 5 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "WHERE o.o_orderstatus = 'O' RETURN o.o_orderkey AS k "
            "UNION ALL "
            "WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "WHERE o.o_orderstatus = 'O' RETURN o.o_orderkey AS k } "
            "RETURN c.c_custkey AS ck, k").collect()
        single = tpch.execute(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "WHERE c.c_custkey <= 5 AND o.o_orderstatus = 'O' "
            "RETURN c.c_custkey AS ck, o.o_orderkey AS k").collect()
        # identical arms under UNION ALL = exactly 2x the plain rows
        assert sorted(map(tuple, rows)) == sorted(
            map(tuple, single + single))

    def test_union_distinct_dedups_across_arms(self, tpch):
        rows = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 5 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "WHERE o.o_orderstatus = 'O' RETURN o.o_orderkey AS k "
            "UNION "
            "WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "WHERE o.o_orderstatus = 'O' RETURN o.o_orderkey AS k } "
            "RETURN c.c_custkey AS ck, k").collect()
        single = tpch.execute(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "WHERE c.c_custkey <= 5 AND o.o_orderstatus = 'O' "
            "RETURN c.c_custkey AS ck, o.o_orderkey AS k").collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, single))

    def test_agg_arm_fills_zero_before_union(self, tpch):
        from collections import Counter

        rows = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 3 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "WHERE o.o_totalprice > 999999999 RETURN count(*) AS n "
            "UNION ALL "
            "WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "RETURN count(*) AS n } "
            "RETURN c.c_custkey AS ck, n").collect()
        cnt = Counter(r["ck"] for r in rows)
        assert set(cnt) == {0, 1, 2, 3} and all(
            v == 2 for v in cnt.values())
        assert all(any(r["n"] == 0 and r["ck"] == ck for r in rows)
                   for ck in cnt)

    def test_three_arm_chain_flattens(self, tpch):
        """`a UNION ALL b UNION ALL c` parses as a nested chain —
        all three arms must contribute."""
        rows = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey = 1 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "RETURN count(*) AS n UNION ALL "
            "WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "RETURN count(*) AS n UNION ALL "
            "WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "RETURN count(*) AS n } "
            "RETURN c.c_custkey AS ck, n").collect()
        assert len(rows) == 3
        assert len({r["n"] for r in rows}) == 1

    def test_mismatched_columns_and_mixed_flags_error(self, tpch):
        from brahmand_spark.errors import PlanError

        with pytest.raises(PlanError, match="same column"):
            tpch.execute(
                "MATCH (c:Customer) WHERE c.c_custkey <= 3 "
                "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
                "RETURN o.o_orderkey AS k UNION "
                "WITH c MATCH (c)-[:PLACED]->(o:Order) "
                "RETURN o.o_orderkey AS j } RETURN k LIMIT 1")
        with pytest.raises(PlanError, match="mix UNION"):
            tpch.execute(
                "MATCH (c:Customer) WHERE c.c_custkey <= 3 "
                "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
                "RETURN o.o_orderkey AS k UNION "
                "WITH c MATCH (c)-[:PLACED]->(o:Order) "
                "RETURN o.o_orderkey AS k UNION ALL "
                "WITH c MATCH (c)-[:PLACED]->(o:Order) "
                "RETURN o.o_orderkey AS k } RETURN k LIMIT 1")


class TestCorrelatedCallV2:
    """Round-7 generalization (VERDICT r6 #2): chained WITH, UNWIND,
    OPTIONAL MATCH, intermediate aggregating/DISTINCT WITHs, rebind
    MATCH after WITH, and RETURN DISTINCT inside a correlated block.
    Oracle-checked variants live in FOLDED_CYPHER
    (call_correlated_*); these pin the e2e row semantics."""

    def test_chained_with_keeps_matchless_rows(self, tpch):
        """All-aggregate final RETURN left-joins back even through an
        intermediate WITH: every outer row survives with n >= 0."""
        rows = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 5 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "WITH o WHERE o.o_totalprice > 99999999 "
            "RETURN count(*) AS n } "
            "RETURN c.c_custkey AS ck, n ORDER BY ck").collect()
        assert len(rows) == 6
        assert all(r["n"] == 0 for r in rows)

    def test_rebind_match_after_with(self, tpch):
        """WITH o MATCH (o)-[:HAS_LINE]->(l) — the block's second
        segment joins onto the carried binding, and the anchor rides
        implicitly through the intermediate projection."""
        rows = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 2 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "WITH o MATCH (o)-[:HAS_LINE]->(l:Lineitem) "
            "RETURN count(*) AS items } "
            "RETURN c.c_custkey AS ck, items ORDER BY ck").collect()
        want = {r["ck"]: r["items"] for r in tpch.execute(
            "MATCH (c:Customer)-[:PLACED]->(:Order)"
            "-[:HAS_LINE]->(l:Lineitem) WHERE c.c_custkey <= 2 "
            "RETURN c.c_custkey AS ck, count(*) AS items").collect()}
        assert {r["ck"]: r["items"] for r in rows} == want

    def test_distinct_with_mid_block(self, tpch):
        """WITH DISTINCT dedups per invocation: the distinct set
        implicitly includes the anchor keys."""
        rows = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 3 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "WITH DISTINCT o.o_orderstatus AS st "
            "RETURN count(*) AS k } "
            "RETURN c.c_custkey AS ck, k ORDER BY ck").collect()
        want = {r["ck"]: r["k"] for r in tpch.execute(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "WHERE c.c_custkey <= 3 "
            "RETURN c.c_custkey AS ck, "
            "count(DISTINCT o.o_orderstatus) AS k").collect()}
        assert {r["ck"]: r["k"] for r in rows} == want

    def test_anchor_property_readable_after_chained_with(self, tpch):
        """The block can read anchor properties in its final RETURN
        even after intermediate projections (no id-only elision in
        multipart blocks)."""
        rows = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 2 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "WITH o "
            "RETURN substring(c.c_name, 0, 8) AS nm, "
            "count(*) AS n } "
            "RETURN c.c_custkey AS ck, nm, n ORDER BY ck").collect()
        assert all(r["nm"].startswith("Customer") for r in rows)

    def test_intermediate_with_limit_is_per_anchor(self, tpch):
        """SKIP/LIMIT on a mid-block WITH ranks WITHIN each
        invocation (per-anchor window), never globally: counting
        after a per-customer top-2 gives 2 per customer."""
        rows = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 3 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "WITH o ORDER BY o.o_totalprice DESC LIMIT 2 "
            "RETURN count(*) AS n } "
            "RETURN c.c_custkey AS ck, n ORDER BY ck").collect()
        assert all(r["n"] == 2 for r in rows) and len(rows) == 4
        # and the kept rows are the true per-customer top-2: sum of
        # kept prices == sum of the top-2 from the unlimited block
        kept = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 3 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "WITH o ORDER BY o.o_totalprice DESC LIMIT 2 "
            "RETURN sum(o.o_totalprice) AS s } "
            "RETURN c.c_custkey AS ck, s ORDER BY ck").collect()
        want = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 3 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "RETURN o.o_totalprice AS price "
            "ORDER BY price DESC LIMIT 2 } "
            "RETURN c.c_custkey AS ck, sum(price) AS s "
            "ORDER BY ck").collect()
        assert [(r["ck"], r["s"]) for r in kept] \
            == [(r["ck"], r["s"]) for r in want]

    def test_intermediate_with_skip(self, tpch):
        full = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey = 1 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "WITH o ORDER BY o.o_totalprice DESC "
            "RETURN count(*) AS n } RETURN n").collect()[0]["n"]
        skipped = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey = 1 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "WITH o ORDER BY o.o_totalprice DESC SKIP 1 "
            "RETURN count(*) AS n } RETURN n").collect()[0]["n"]
        assert skipped == full - 1

    def test_unwind_scalar_rebinding(self, tpch):
        """UNWIND of a collected list inside the block, then a
        per-invocation aggregate over the exploded values."""
        rows = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 3 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "WITH collect(o.o_totalprice) AS prices "
            "UNWIND prices AS p "
            "RETURN sum(p) AS total } "
            "RETURN c.c_custkey AS ck, total ORDER BY ck").collect()
        want = {r["ck"]: r["total"] for r in tpch.execute(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "WHERE c.c_custkey <= 3 "
            "RETURN c.c_custkey AS ck, "
            "sum(o.o_totalprice) AS total").collect()}
        got = {r["ck"]: r["total"] for r in rows}
        assert set(got) == set(want)
        for k in got:
            assert abs(got[k] - want[k]) < 1e-6

    def test_order_by_requires_block_alias(self, tpch):
        with pytest.raises(PlanError, match="RETURN aliases"):
            tpch.execute(
                "MATCH (c:Customer) WHERE c.c_custkey <= 2 "
                "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
                "RETURN o.o_totalprice AS price "
                "ORDER BY o.o_orderdate LIMIT 1 } "
                "RETURN price")


class TestCorrelatedCallReviewFindings:
    """Round-6 self-review regressions: FK-join elimination must not
    elide block-local nodes, and all-aggregate blocks fill sum/collect
    on empty input per openCypher."""

    def test_block_props_survive_fk_elision(self, spark):
        """Under assume_referential_integrity=True with a plain
        edge-list relationship, a property referenced ONLY inside the
        block must keep its node scan (r6 review finding #1)."""
        from brahmand_spark import GraphSession

        s = GraphSession(spark, assume_referential_integrity=True)
        s.execute("CREATE NODE TABLE Person (p_id Int64, name String, "
                  "age Int64, NODE ID (p_id))")
        s.execute("CREATE REL TABLE KNOWS FROM Person TO Person ()")
        s.register_table("Person", spark.createDataFrame(
            [(1, "a", 30), (2, "b", 40), (3, "c", 50)],
            "p_id long, name string, age long"))
        s.register_table("KNOWS", spark.createDataFrame(
            [(1, 2), (1, 3), (2, 3)],
            "from_Person long, to_Person long"))
        rows = s.execute(
            "MATCH (a:Person) "
            "CALL { WITH a MATCH (a)-[:KNOWS]->(b:Person) "
            "RETURN max(b.age) AS oldest } "
            "RETURN a.name AS name, oldest ORDER BY name").collect()
        assert [(r["name"], r["oldest"]) for r in rows] == [
            ("a", 50), ("b", 50), ("c", None)]

    def test_sum_and_collect_fill_on_empty(self, tpch):
        rows = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 2 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "WHERE o.o_totalprice > 99999999 "
            "RETURN sum(o.o_totalprice) AS s, count(*) AS n, "
            "collect(o.o_orderkey) AS ks, max(o.o_totalprice) AS mx } "
            "RETURN c.c_custkey AS ck, s, n, ks, mx ORDER BY ck"
        ).collect()
        assert len(rows) == 3  # custkeys 0..2 all kept
        for r in rows:
            assert r["s"] == 0       # sum over empty -> 0
            assert r["n"] == 0
            assert list(r["ks"]) == []  # collect over empty -> []
            assert r["mx"] is None   # max over empty -> null


class TestPatternComprehension:
    """[ (a)-[:T]->(b) WHERE p | expr ] (r7, VERDICT r6 #3): rides the
    COUNT { } rewrite machinery as a grouped collect_list. Lists are
    sorted (deterministic; openCypher leaves the order unspecified).
    Oracle-checked in FOLDED_CYPHER (pattern_comprehension*)."""

    def test_empty_match_yields_empty_list(self, tpch):
        rows = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 2 "
            "RETURN c.c_custkey AS ck, "
            "[ (c)-[:PLACED]->(o:Order) "
            "WHERE o.o_totalprice > 99999999 | o.o_orderkey ] AS ks "
            "ORDER BY ck").collect()
        assert len(rows) == 3
        assert all(list(r["ks"]) == [] for r in rows)

    def test_matches_collect_equivalent(self, tpch):
        got = {r["ck"]: list(r["ks"]) for r in tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 5 "
            "RETURN c.c_custkey AS ck, "
            "[ (c)-[:PLACED]->(o:Order) | o.o_orderkey ] AS ks"
        ).collect()}
        want = {r["ck"]: sorted(r["ks"]) for r in tpch.execute(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "WHERE c.c_custkey <= 5 "
            "RETURN c.c_custkey AS ck, collect(o.o_orderkey) AS ks"
        ).collect()}
        # comprehension keeps match-less customers with []; collect
        # only sees matched ones
        for ck, ks in want.items():
            assert got[ck] == ks
        assert all(v == [] for k, v in got.items() if k not in want)

    def test_nested_in_where_and_case(self, tpch):
        rows = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 10 "
            "AND size([ (c)-[:PLACED]->(o:Order) | o.o_orderkey ]) > 0 "
            "RETURN c.c_custkey AS ck, "
            "CASE WHEN size([ (c)-[:PLACED]->(o:Order) "
            "WHERE o.o_orderstatus = 'O' | o.o_orderkey ]) >= 5 "
            "THEN 'busy' ELSE 'quiet' END AS cls ORDER BY ck"
        ).collect()
        assert len(rows) > 0
        assert {r["cls"] for r in rows} <= {"busy", "quiet"}

    def test_collect_subquery_equals_comprehension(self, tpch):
        """COLLECT { MATCH p WHERE w RETURN e } (r8) is the block form
        of [ p WHERE w | e ] — identical rows by construction (both
        compile to the same PatternComprehension node)."""
        q = ("MATCH (c:Customer) WHERE c.c_custkey <= 10 "
             "RETURN c.c_custkey AS ck, {} AS ks ORDER BY ck")
        block = tpch.execute(q.format(
            "COLLECT { MATCH (c)-[:PLACED]->(o:Order) "
            "WHERE o.o_orderstatus = 'O' RETURN o.o_orderkey }"
        )).collect()
        bracket = tpch.execute(q.format(
            "[ (c)-[:PLACED]->(o:Order) "
            "WHERE o.o_orderstatus = 'O' | o.o_orderkey ]")).collect()
        assert [(r["ck"], list(r["ks"])) for r in block] == \
            [(r["ck"], list(r["ks"])) for r in bracket]
        assert any(r["ks"] for r in block)

    def test_collect_distinct_dedups_and_sizes_correctly(self, tpch):
        rows = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 10 "
            "RETURN c.c_custkey AS ck, "
            "COLLECT { MATCH (c)-[:PLACED]->(o:Order) "
            "RETURN DISTINCT o.o_orderstatus } AS sts, "
            "size(COLLECT { MATCH (c)-[:PLACED]->(o:Order) "
            "RETURN DISTINCT o.o_orderstatus }) AS n_sts, "
            "COUNT { MATCH (c)-[:PLACED]->(o:Order) } AS n_orders "
            "ORDER BY ck").collect()
        assert rows
        saw_fewer = False
        for r in rows:
            sts = list(r["sts"])
            assert sts == sorted(set(sts))  # sorted, deduped
            assert r["n_sts"] == len(sts)   # distinct size ≠ count
            if r["n_orders"] > r["n_sts"] > 0:
                saw_fewer = True
        assert saw_fewer

    def test_collect_missing_return_errors(self, tpch):
        from brahmand_spark.errors import ParseError

        with pytest.raises(ParseError, match="RETURN"):
            tpch.execute(
                "MATCH (c:Customer) RETURN COLLECT { "
                "MATCH (c)-[:PLACED]->(o:Order) } AS xs LIMIT 1")

    def test_count_block_return_forms(self, tpch):
        """COUNT { ... RETURN e } counts rows (== the bare block);
        RETURN DISTINCT e counts distinct values (== size of the
        COLLECT DISTINCT list); EXISTS { ... RETURN ... } accepts and
        ignores the projection (r8)."""
        rows = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 10 "
            "RETURN c.c_custkey AS ck, "
            "COUNT { MATCH (c)-[:PLACED]->(o:Order) } AS bare, "
            "COUNT { MATCH (c)-[:PLACED]->(o:Order) "
            "RETURN o.o_orderkey } AS plain, "
            "COUNT { MATCH (c)-[:PLACED]->(o:Order) "
            "RETURN DISTINCT o.o_orderstatus } AS d, "
            "size(COLLECT { MATCH (c)-[:PLACED]->(o:Order) "
            "RETURN DISTINCT o.o_orderstatus }) AS d2 "
            "ORDER BY ck").collect()
        assert rows
        assert all(r["bare"] == r["plain"] for r in rows)
        assert all(r["d"] == r["d2"] for r in rows)
        assert any(0 < r["d"] < r["bare"] for r in rows)
        n = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 20 AND "
            "EXISTS { MATCH (c)-[:PLACED]->(o:Order) RETURN o } "
            "RETURN count(*) AS n").collect()[0]["n"]
        m = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 20 AND "
            "EXISTS { MATCH (c)-[:PLACED]->(o:Order) } "
            "RETURN count(*) AS n").collect()[0]["n"]
        assert n == m > 0

    def test_count_distinct_unbound_ref_errors(self, tpch):
        with pytest.raises(PlanError, match="not bound"):
            tpch.execute(
                "MATCH (c:Customer)-[:CUST_IN]->(nn:Nation) "
                "RETURN COUNT { MATCH (c)-[:PLACED]->(o:Order) "
                "RETURN DISTINCT nn.n_name } AS bad LIMIT 1")

    @pytest.mark.parametrize("var", ["collect", "exists", "count"])
    def test_subquery_names_keep_map_projection(self, tpch, var):
        """exists/count/collect `{` only claim well-formed pattern
        blocks — variables by those names keep their map projections
        (review r8, both passes)."""
        rows = tpch.execute(
            f"MATCH ({var}:Customer) WHERE {var}.c_custkey = 1 "
            f"RETURN {var} {{.c_name, .c_custkey}} AS m").collect()
        assert len(rows) == 1
        assert rows[0]["m"]["c_custkey"] == 1

    def test_unbound_map_reference_errors(self, tpch):
        """The | expression sees only the comprehension's own pattern
        aliases — an outer alias not re-scanned inside it errors."""
        with pytest.raises(PlanError, match="not bound inside"):
            tpch.execute(
                "MATCH (c:Customer)-[:CUST_IN]->(n:Nation) "
                "RETURN [ (c)-[:PLACED]->(o:Order) "
                "| n.n_name ] AS bad LIMIT 1")

    def test_null_map_values_are_kept(self, spark):
        """collect_list drops NULLs; the comprehension must not
        (openCypher keeps them — r7 review). NULLs sort LAST."""
        from brahmand_spark import GraphSession

        s = GraphSession(spark)
        s.execute("CREATE NODE TABLE U (id Int64, NODE ID (id))")
        s.execute("CREATE NODE TABLE V (id Int64, w Int64, "
                  "NODE ID (id))")
        s.execute("CREATE REL TABLE E FROM U TO V ()")
        s.register_table("U", spark.createDataFrame(
            [(1,)], "id long"))
        s.register_table("V", spark.createDataFrame(
            [(10, 5), (11, None), (12, 3)], "id long, w long"))
        s.register_table("E", spark.createDataFrame(
            [(1, 10), (1, 11), (1, 12)], "from_U long, to_V long"))
        r = s.execute(
            "MATCH (u:U) RETURN u.id AS i, "
            "[ (u)-[:E]->(v:V) | v.w ] AS ws").collect()[0]
        assert list(r["ws"]) == [3, 5, None]
        # while size() of the same pattern counts ALL matches
        n = s.execute(
            "MATCH (u:U) RETURN size([ (u)-[:E]->(v:V) | v.w ]) "
            "AS n").collect()[0]["n"]
        assert n == 3

    def test_path_var_in_later_call_segment(self, tpch):
        """A path variable declared in the block's SECOND segment
        binds (r7 review fix #8)."""
        rows = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 2 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "WITH o MATCH p = (o)-[:HAS_LINE]->(l:Lineitem) "
            "RETURN max(length(p)) AS ml } "
            "RETURN c.c_custkey AS ck, ml ORDER BY ck").collect()
        assert all(r["ml"] == 1 for r in rows)

    def test_size_compiles_to_count_not_collect(self, tpch):
        """size([ pattern | e ]) never materializes the list — it
        rewrites to the grouped COUNT (the map is total, so size ==
        match count)."""
        df = tpch.execute(
            "MATCH (c:Customer) "
            "RETURN c.c_custkey AS ck, "
            "size([ (c)-[:PLACED]->(o:Order) | o.o_orderkey ]) AS n")
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        assert "collect_list" not in plan
        listy = tpch.execute(
            "MATCH (c:Customer) "
            "RETURN c.c_custkey AS ck, "
            "[ (c)-[:PLACED]->(o:Order) | o.o_orderkey ] AS ks")
        lplan = listy._sc._jvm.PythonSQLUtils.explainString(
            listy._jdf.queryExecution(), "formatted")
        assert "collect_list" in lplan

    def test_var_length_pattern_comprehension(self, tpch):
        """Comprehension over a var-length pattern rides the existing
        var-length sub-assembly."""
        r = {x["ck"]: sorted(x["ds"]) for x in tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 2 "
            "RETURN c.c_custkey AS ck, "
            "[ (c)-[:NEXT_CUST*1..2]->(d:Customer) | d.c_custkey ] "
            "AS ds ORDER BY ck").collect()}
        assert r == {0: [1, 2], 1: [2, 3], 2: [3, 4]}

    def test_list_literals_unaffected(self, tpch):
        r = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey = 1 "
            "RETURN [1, 2, 3] AS a, [(1+2), 4] AS b, "
            "[x IN [1,2,3] WHERE x > 1 | x * 10] AS c").collect()[0]
        assert list(r["a"]) == [1, 2, 3]
        assert list(r["b"]) == [3, 4]
        assert list(r["c"]) == [20, 30]


class TestMapExpressions:
    """Map literals {k: v}, map projections n {.prop, .*, k: e, var},
    properties(n), and struct-field access on scalar bindings (r7 —
    Cypher maps with static keys ARE named structs relationally)."""

    def test_map_literal(self, tpch):
        r = tpch.execute(
            "MATCH (n:Nation) WHERE n.n_nationkey = 0 "
            "RETURN {a: 1, b: 'x', c: [1, 2], "
            "d: n.n_nationkey + 5} AS m").collect()[0]["m"]
        assert (r["a"], r["b"], list(r["c"]), r["d"]) == (1, "x", [1, 2], 5)

    def test_map_projection_forms(self, tpch):
        r = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey = 1 "
            "WITH c, c.c_acctbal AS bal "
            "RETURN c {.c_name, scaled: c.c_custkey * 10, bal} AS m"
        ).collect()[0]["m"]
        assert r["c_name"].startswith("Customer")
        assert r["scaled"] == 10 and r["bal"] == r.asDict()["bal"]

    def test_map_projection_star_equals_properties(self, tpch):
        a = tpch.execute(
            "MATCH (n:Nation) WHERE n.n_nationkey = 1 "
            "RETURN n {.*} AS m").collect()[0]["m"]
        b = tpch.execute(
            "MATCH (n:Nation) WHERE n.n_nationkey = 1 "
            "RETURN properties(n) AS m").collect()[0]["m"]
        assert a.asDict() == b.asDict()
        assert a["n_name"] == "NATION_1"

    def test_dynamic_string_key_is_loud(self, tpch):
        """m[k] with a non-literal string key (r14, ADVICE r13): maps
        compile to structs, which cannot be subscripted by a runtime
        key — the compile must fail LOUDLY instead of the silent
        every-row NULL the int-cast route used to produce."""
        import pytest

        with pytest.raises(Exception):
            tpch.execute(
                "WITH {a: 1, b: 2} AS m, 'a' AS k "
                "RETURN m[k] AS v").collect()

    def test_struct_field_access_downstream(self, tpch):
        rows = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 3 "
            "WITH c {.c_custkey, .c_acctbal} AS m "
            "WHERE m.c_acctbal > 0 "
            "RETURN m.c_custkey AS ck ORDER BY ck").collect()
        want = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 3 "
            "AND c.c_acctbal > 0 "
            "RETURN c.c_custkey AS ck ORDER BY ck").collect()
        assert [r["ck"] for r in rows] == [r["ck"] for r in want]

    def test_collect_of_map_projections(self, tpch):
        """Maps compose with aggregates: collect a struct per group."""
        r = tpch.execute(
            "MATCH (c:Customer)-[:CUST_IN]->(n:Nation) "
            "WHERE n.n_nationkey = 0 "
            "RETURN n.n_name AS nation, "
            "count(*) AS n_members, "
            "collect(c {.c_custkey, .c_acctbal}) AS members").collect()
        assert len(r) == 1 and r[0]["n_members"] >= 1
        first = r[0]["members"][0]
        assert first["c_custkey"] is not None
        assert len(r[0]["members"]) == r[0]["n_members"]

    def test_errors(self, tpch):
        with pytest.raises(PlanError, match="unknown property"):
            tpch.execute(
                "MATCH (c:Customer) RETURN c {.nope} AS m LIMIT 1")
        # later entries OVERRIDE earlier ones (openCypher
        # `n {.*, key: expr}` idiom), so duplicates are not an error
        with pytest.raises(PlanError, match="empty map"):
            tpch.execute("MATCH (c:Customer) RETURN {} AS m LIMIT 1")
        with pytest.raises(PlanError, match="node or relationship"):
            tpch.execute(
                "MATCH (c:Customer) WITH c.c_name AS s "
                "RETURN s {.x} AS m LIMIT 1")

    def test_map_projection_survives_fk_elision(self, spark):
        """Under assume_referential_integrity, a property read ONLY
        through a map projection must keep the node's scan (r7
        review: _collect_refs didn't see into MapProjection entries
        and elided the node to its id)."""
        from brahmand_spark import GraphSession

        s = GraphSession(spark, assume_referential_integrity=True)
        s.execute("CREATE NODE TABLE P (p_id Int64, name String, "
                  "NODE ID (p_id))")
        s.execute("CREATE REL TABLE K FROM P TO P ()")
        s.register_table("P", spark.createDataFrame(
            [(1, "a"), (2, "b")], "p_id long, name string"))
        s.register_table("K", spark.createDataFrame(
            [(1, 2)], "from_P long, to_P long"))
        r = s.execute("MATCH (a:P)-[:K]->(b:P) "
                      "RETURN b {.name} AS m").collect()[0]["m"]
        assert r["name"] == "b"
        full = s.execute("MATCH (a:P)-[:K]->(b:P) "
                         "RETURN b {.*} AS m").collect()[0]["m"]
        assert full.asDict() == {"p_id": 2, "name": "b"}

    def test_star_with_override(self, tpch):
        """n {.*, key: expr}: the explicit entry replaces the .*
        field (openCypher override idiom, r7 review)."""
        r = tpch.execute(
            "MATCH (n:Nation) WHERE n.n_nationkey = 1 "
            "RETURN n {.*, n_name: 'OVERRIDDEN'} AS m").collect()[0]["m"]
        assert r["n_name"] == "OVERRIDDEN"
        assert r["n_nationkey"] == 1

    def test_propertyless_rel_keys_and_properties(self, spark):
        """keys()/properties() on a property-less relationship return
        []/{} instead of erroring (r7 review)."""
        from brahmand_spark import GraphSession

        s = GraphSession(spark)
        s.execute("CREATE NODE TABLE U (id Int64, NODE ID (id))")
        s.execute("CREATE REL TABLE E FROM U TO U ()")
        s.register_table("U", spark.createDataFrame([(1,), (2,)],
                                                    "id long"))
        s.register_table("E", spark.createDataFrame(
            [(1, 2)], "from_U long, to_U long"))
        r = s.execute("MATCH (:U)-[r:E]->(:U) "
                      "RETURN keys(r) AS k, properties(r) AS p"
                      ).collect()[0]
        assert list(r["k"]) == []
        assert dict(r["p"]) == {}

    def test_keys_function(self, tpch):
        r = tpch.execute(
            "MATCH (n:Nation) WHERE n.n_nationkey = 0 "
            "RETURN keys(n) AS k").collect()[0]
        assert list(r["k"]) == ["n_nationkey", "n_name", "n_regionkey"]

    def test_node_property_maps_in_patterns_unaffected(self, tpch):
        """Inline property maps inside node patterns still parse as
        pattern filters, not map literals."""
        rows = tpch.execute(
            "MATCH (n:Nation {n_nationkey: 2}) "
            "RETURN n.n_name AS nm").collect()
        assert [r["nm"] for r in rows] == ["NATION_2"]


class TestOptionalCallSubquery:
    """OPTIONAL CALL { } (openCypher 5): outer rows whose block yields
    nothing survive NULL-filled, in both the uncorrelated and
    correlated forms."""

    def test_correlated_row_block_null_fills(self, tpch):
        rows = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 3 "
            "OPTIONAL CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "WHERE o.o_totalprice > 470000 "
            "RETURN o.o_totalprice AS big } "
            "RETURN c.c_custkey AS ck, big ORDER BY ck").collect()
        by_ck = {}
        for r in rows:
            by_ck.setdefault(r["ck"], []).append(r["big"])
        assert set(by_ck) == {0, 1, 2, 3}  # every customer survives
        assert by_ck[1] == [None]
        # plain CALL drops the match-less customers
        inner = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey <= 3 "
            "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
            "WHERE o.o_totalprice > 470000 "
            "RETURN o.o_totalprice AS big } "
            "RETURN c.c_custkey AS ck").collect()
        assert {r["ck"] for r in inner} < set(by_ck)

    def test_uncorrelated_empty_block_null_fills(self, tpch, duck):
        got = tpch.execute(
            "MATCH (r:Region) "
            "OPTIONAL CALL { MATCH (n:Nation) WHERE n.n_nationkey < 0 "
            "RETURN n.n_name AS nm } "
            "RETURN r.r_name AS region, nm")
        assert_same(got, duck.sql(
            """SELECT r_name AS region, CAST(NULL AS VARCHAR) AS nm
               FROM region"""))

    def test_uncorrelated_nonempty_behaves_like_plain(self, tpch):
        a = sorted(map(str, tpch.execute(
            "MATCH (r:Region) "
            "OPTIONAL CALL { MATCH (n:Nation) WHERE n.n_nationkey < 2 "
            "RETURN n.n_name AS nm } "
            "RETURN r.r_name AS region, nm").collect()))
        b = sorted(map(str, tpch.execute(
            "MATCH (r:Region) "
            "CALL { MATCH (n:Nation) WHERE n.n_nationkey < 2 "
            "RETURN n.n_name AS nm } "
            "RETURN r.r_name AS region, nm").collect()))
        assert a == b

    def test_optional_match_still_parses(self, tpch):
        assert tpch.execute(
            "MATCH (r:Region) OPTIONAL MATCH (r)<-[:IN_REGION]-(n:Nation) "
            "RETURN count(*) AS n").first()["n"] == 25


class TestOptionalCallStandalone:
    def test_standalone_optional_call_empty_block_one_null_row(
            self, tpch):
        """A query starts with one implicit row: standalone OPTIONAL
        CALL over an empty block yields ONE NULL row, not zero
        (r6 review)."""
        rows = tpch.execute(
            "OPTIONAL CALL { MATCH (n:Nation) WHERE n.n_nationkey < 0 "
            "RETURN n.n_name AS nm } RETURN nm").collect()
        assert [r["nm"] for r in rows] == [None]
        # non-empty block: same rows as the plain form
        a = sorted(r["nm"] for r in tpch.execute(
            "OPTIONAL CALL { MATCH (n:Nation) WHERE n.n_nationkey < 2 "
            "RETURN n.n_name AS nm } RETURN nm").collect())
        assert a == ["NATION_0", "NATION_1"]


class TestCallRelImportAndOptionalFirst:
    """r11 (VERDICT r10 next #5): relationship-variable imports and
    OPTIONAL MATCH leading a correlated CALL { } block. Fuzzed against
    DuckDB in test_fuzz_parity (_correlated_call_query kinds 8/9);
    these pin the deterministic shapes and the remaining rejections."""

    def test_rel_import_property_in_block(self, tpch, duck):
        assert_same(
            tpch.execute(
                "MATCH (o:Order)-[r:HAS_LINE]->(l:Lineitem) "
                "WHERE o.o_orderkey < 40 "
                "CALL { WITH o, r MATCH (o)-[r2:HAS_LINE]->"
                "(l2:Lineitem) WHERE r2.l_linenumber > r.l_linenumber "
                "RETURN count(*) AS later } "
                "RETURN o.o_orderkey AS ok, r.l_linenumber AS ln, "
                "later ORDER BY ok, ln"),
            duck.sql(
                "SELECT o.o_orderkey AS ok, l.l_linenumber AS ln, "
                "(SELECT count(*) FROM lineitem l2 WHERE "
                "l2.l_orderkey = o.o_orderkey AND l2.l_linenumber > "
                "l.l_linenumber) AS later FROM orders o JOIN lineitem "
                "l ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey "
                "< 40 ORDER BY ok, ln"))

    def test_rel_import_with_topn_window(self, tpch, duck):
        # per-(anchor, rel) invocation top-1: the rel keys partition
        # the window, so each lineitem row keeps its own best match
        assert_same(
            tpch.execute(
                "MATCH (o:Order)-[r:HAS_LINE]->(l:Lineitem) "
                "WHERE o.o_orderkey < 25 "
                "CALL { WITH o, r MATCH (o)-[r2:HAS_LINE]->"
                "(l2:Lineitem) WHERE r2.l_linenumber <> "
                "r.l_linenumber RETURN r2.l_linenumber AS other "
                "ORDER BY other LIMIT 1 } "
                "RETURN o.o_orderkey AS ok, r.l_linenumber AS ln, "
                "other ORDER BY ok, ln"),
            duck.sql(
                "SELECT o.o_orderkey AS ok, l.l_linenumber AS ln, "
                "(SELECT min(l2.l_linenumber) FROM lineitem l2 WHERE "
                "l2.l_orderkey = o.o_orderkey AND l2.l_linenumber <> "
                "l.l_linenumber) AS other FROM orders o JOIN lineitem "
                "l ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey "
                "< 25 AND EXISTS (SELECT 1 FROM lineitem l3 WHERE "
                "l3.l_orderkey = o.o_orderkey AND l3.l_linenumber <> "
                "l.l_linenumber) ORDER BY ok, ln"))

    def test_optional_match_first_row_form(self, tpch, duck):
        assert_same(
            tpch.execute(
                "MATCH (c:Customer) WHERE c.c_custkey < 20 "
                "CALL { WITH c OPTIONAL MATCH (c)-[:PLACED]->(o:Order) "
                "WHERE o.o_totalprice > 150000 "
                "RETURN o.o_orderkey AS ok } "
                "RETURN c.c_custkey AS ck, ok ORDER BY ck, ok"),
            duck.sql(
                "SELECT c.c_custkey AS ck, o.o_orderkey AS ok FROM "
                "customer c LEFT JOIN orders o ON o.o_custkey = "
                "c.c_custkey AND o.o_totalprice > 150000 WHERE "
                "c.c_custkey < 20 ORDER BY ck, ok"))

    def test_optional_match_first_aggregate(self, tpch, duck):
        assert_same(
            tpch.execute(
                "MATCH (c:Customer) WHERE c.c_custkey < 20 "
                "CALL { WITH c OPTIONAL MATCH (c)-[:PLACED]->(o:Order) "
                "WHERE o.o_totalprice > 150000 "
                "RETURN count(o.o_orderkey) AS n } "
                "RETURN c.c_custkey AS ck, n ORDER BY ck"),
            duck.sql(
                "SELECT c_custkey AS ck, (SELECT count(*) FROM orders "
                "o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice "
                "> 150000) AS n FROM customer c WHERE c.c_custkey "
                "< 20 ORDER BY ck"))

    def test_rel_only_import_rejected(self, tpch):
        from brahmand_spark.errors import UnsupportedError

        with pytest.raises(UnsupportedError, match="node"):
            tpch.execute(
                "MATCH (o:Order)-[r:HAS_LINE]->(l:Lineitem) "
                "CALL { WITH r MATCH (x:Order)-[r2:HAS_LINE]->"
                "(y:Lineitem) RETURN count(*) AS n } "
                "RETURN n LIMIT 1")

    def test_scalar_import_still_rejected(self, tpch):
        from brahmand_spark.errors import UnsupportedError

        with pytest.raises(UnsupportedError, match="node or relation"):
            tpch.execute(
                "MATCH (c:Customer) WITH c, c.c_acctbal AS bal "
                "CALL { WITH bal MATCH (o:Order) RETURN count(*) AS n }"
                " RETURN n LIMIT 1")


class TestCallCarryReviewFindings:
    """r9 review regressions: carried multi-type rels keep their
    per-row type column; RETURN * omits path variables."""

    def test_carried_multitype_rel_keeps_type(self, tpch):
        rows = tpch.execute(
            "MATCH (a:Customer) WHERE a.c_custkey = 10 "
            "CALL { WITH a MATCH (a)-[r:NEXT_CUST|PREV_CUST]->"
            "(b:Customer) RETURN r, b.c_custkey AS bk } "
            "RETURN type(r) AS t, bk ORDER BY t").collect()
        assert [(r["t"], r["bk"]) for r in rows] == \
            [("NEXT_CUST", 11), ("PREV_CUST", 9)]

    def test_return_star_omits_path_vars(self, tpch):
        rows = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey = 1 "
            "CALL { WITH c MATCH p = (c)-[:NEXT_CUST*1..2]->"
            "(b:Customer) RETURN * } "
            "RETURN c.c_custkey AS ck, b.c_custkey AS bk "
            "ORDER BY bk").collect()
        assert [(r["ck"], r["bk"]) for r in rows] == [(1, 2), (1, 3)]


class TestOptionalFirstMultiAnchor:
    """r12 (ADVICE r11): a leading-OPTIONAL-MATCH CALL block with 2+
    imported anchors seeds its base from the OUTER frame's distinct
    anchor-id combinations instead of cross-joining fresh full label
    scans — same rows after the join-back, linear (not O(|A|x|B|))
    intermediate."""

    Q = ("MATCH (c:Customer)-[:PLACED]->(o:Order) "
         "WHERE c.c_custkey < 10 "
         "CALL { WITH c, o OPTIONAL MATCH (o)-[:HAS_LINE]->"
         "(l:Lineitem) WHERE l.l_quantity > 45 "
         "RETURN count(l.l_discount) AS big } "
         "RETURN c.c_custkey AS ck, o.o_orderkey AS ok, big "
         "ORDER BY ck, ok")

    def test_rows_match_oracle(self, tpch, duck):
        assert_same(
            tpch.execute(self.Q),
            duck.sql(
                "SELECT c.c_custkey AS ck, o.o_orderkey AS ok, "
                "(SELECT count(l.l_discount) FROM lineitem l WHERE "
                "l.l_orderkey = o.o_orderkey AND l.l_quantity > 45) "
                "AS big FROM customer c JOIN orders o ON o.o_custkey "
                "= c.c_custkey WHERE c.c_custkey < 10 "
                "ORDER BY ck, ok"))

    def test_no_cartesian_in_plan(self, tpch):
        plan = tpch.execute(self.Q)._jdf.queryExecution() \
            .optimizedPlan().toString()
        assert "Cartesian" not in plan
        assert "Cross" not in plan


class TestOptionalPathVariables:
    """r12 (VERDICT r11 missing #5): path variables on OPTIONAL MATCH
    ride the existing null-row carry — p, length(p), nodes(p) are
    NULL where the optional pattern missed."""

    def test_single_hop_length_nulls(self, tpch, duck):
        assert_same(
            tpch.execute(
                "MATCH (c:Customer) WHERE c.c_custkey < 30 "
                "OPTIONAL MATCH p = (c)-[:PLACED]->(o:Order) "
                "WHERE o.o_totalprice > 200000 "
                "RETURN c.c_custkey AS ck, o.o_orderkey AS ok, "
                "length(p) AS lp ORDER BY ck, ok"),
            duck.sql(
                "SELECT c.c_custkey AS ck, o.o_orderkey AS ok, "
                "CASE WHEN o.o_orderkey IS NULL THEN NULL ELSE 1 END "
                "AS lp FROM customer c LEFT JOIN orders o ON "
                "o.o_custkey = c.c_custkey AND o.o_totalprice > "
                "200000 WHERE c.c_custkey < 30 ORDER BY ck, ok"))

    def test_nodes_and_bare_path_null(self, tpch):
        rows_ = tpch.execute(
            "MATCH (c:Customer) WHERE c.c_custkey < 30 "
            "OPTIONAL MATCH p = (c)-[:PLACED]->(o:Order) "
            "WHERE o.o_totalprice > 400000 "
            "RETURN c.c_custkey AS ck, nodes(p) AS ns, "
            "size(nodes(p)) AS n ORDER BY ck").collect()
        missed = [r for r in rows_ if r.ns is None]
        hit = [r for r in rows_ if r.ns is not None]
        assert missed and hit  # both shapes exercised
        assert all(r.n is None for r in missed)
        assert all(r.n == 2 and r.ns[0] == r.ck for r in hit)

    def test_var_length_optional_path(self, tpch, duck):
        assert_same(
            tpch.execute(
                "MATCH (a:Customer) WHERE a.c_custkey < 20 "
                "OPTIONAL MATCH p = (a)-[:NEXT_CUST*2..3]->"
                "(b:Customer) WHERE b.c_custkey >= 18 "
                "RETURN a.c_custkey AS src, b.c_custkey AS dst, "
                "length(p) AS lp ORDER BY src, dst"),
            duck.sql(
                "SELECT a.c_custkey AS src, b.c_custkey AS dst, "
                "(b.c_custkey - a.c_custkey)::INT AS lp "
                "FROM customer a LEFT JOIN customer b ON "
                "b.c_custkey - a.c_custkey IN (2, 3) AND "
                "b.c_custkey >= 18 WHERE a.c_custkey < 20 "
                "ORDER BY src, dst"))


class TestMultiTypeImportMultipart:
    """r12 (VERDICT r11 missing #5): a multi-type relationship import
    works in a MULTI-PART CALL { } block — the per-row type column
    survives intermediate WITH re-carries, and two outer rows sharing
    the anchor but holding different rels stay distinct invocations."""

    def test_import_survives_intermediate_with(self, tpch):
        rows = tpch.execute(
            "MATCH (a:Customer)-[r:NEXT_CUST|PREV_CUST]->(b:Customer) "
            "WHERE a.c_custkey = 10 "
            "CALL { WITH a, r "
            "MATCH (a)-[:NEXT_CUST]->(c:Customer) "
            "WITH a, r, count(*) AS n "
            "RETURN n, type(r) AS rt } "
            "RETURN type(r) AS t, rt, b.c_custkey AS bk, n "
            "ORDER BY t").collect()
        assert [(r.t, r.rt, r.bk, r.n) for r in rows] == [
            ("NEXT_CUST", "NEXT_CUST", 11, 1),
            ("PREV_CUST", "PREV_CUST", 9, 1)]

    def test_import_property_after_with(self, tpch, duck):
        """The imported rel's type keys the aggregation: invocations
        with identical anchors but different rel rows do not merge."""
        assert_same(
            tpch.execute(
                "MATCH (a:Customer)-[r:NEXT_CUST|PREV_CUST]->"
                "(b:Customer) WHERE a.c_custkey < 6 "
                "CALL { WITH a, r "
                "MATCH (a)-[:CUST_IN]->(n:Nation) "
                "WITH a, r, count(*) AS nn "
                "RETURN nn } "
                "RETURN a.c_custkey AS ak, type(r) AS t, nn "
                "ORDER BY ak, t"),
            duck.sql(
                "WITH pairs AS ("
                "  SELECT a.c_custkey AS ak, 'NEXT_CUST' AS t "
                "  FROM customer a JOIN customer b "
                "    ON b.c_custkey = a.c_custkey + 1 "
                "  WHERE a.c_custkey < 6 "
                "  UNION ALL "
                "  SELECT a.c_custkey AS ak, 'PREV_CUST' AS t "
                "  FROM customer a JOIN customer b "
                "    ON b.c_custkey = a.c_custkey - 1 "
                "  WHERE a.c_custkey < 6) "
                "SELECT p.ak, p.t, 1::BIGINT AS nn FROM pairs p "
                "ORDER BY ak, t"))
