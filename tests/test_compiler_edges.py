"""Compiler edge cases: scoping across WITH chains, ORDER BY resolution
modes, collect/UNWIND round-trips, alias handling."""

import pytest

from brahmand_spark.errors import PlanError

from .helpers import assert_same


class TestWithChains:
    def test_three_part_pipeline(self, tpch, duck):
        assert_same(
            tpch.execute("""
                MATCH (c:Customer)-[:PLACED]->(o:Order)
                WITH c.c_mktsegment AS seg, count(*) AS n
                WITH seg, n WHERE n > 100
                RETURN seg, n"""),
            duck.sql("""
                SELECT c_mktsegment AS seg, count(*) AS n
                FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
                GROUP BY 1 HAVING count(*) > 100"""),
        )

    def test_with_alias_rename_node(self, tpch, duck):
        # WITH c AS x renames the whole node binding
        assert_same(
            tpch.execute("""
                MATCH (c:Customer) WHERE c.c_acctbal > 9000
                WITH c AS x
                MATCH (x)-[:CUST_IN]->(n:Nation)
                RETURN x.c_name AS name, n.n_name AS nation"""),
            duck.sql("""
                SELECT c.c_name AS name, n.n_name AS nation
                FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
                WHERE c.c_acctbal > 9000"""),
        )

    def test_collect_then_unwind(self, tpch, duck):
        assert_same(
            tpch.execute("""
                MATCH (n:Nation)-[:IN_REGION]->(r:Region)
                WITH r.r_name AS region, collect(n.n_name) AS nations
                UNWIND nations AS nation
                RETURN region, nation"""),
            duck.sql("""
                SELECT r.r_name AS region, n.n_name AS nation
                FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey"""),
        )

    def test_with_order_limit_midquery(self, tpch, duck):
        # top-3 customers by balance, then their nations
        assert_same(
            tpch.execute("""
                MATCH (c:Customer)
                WITH c ORDER BY c.c_acctbal DESC, c.c_custkey ASC LIMIT 3
                MATCH (c)-[:CUST_IN]->(n:Nation)
                RETURN c.c_name AS name, n.n_name AS nation"""),
            duck.sql("""
                SELECT c.c_name AS name, n.n_name AS nation
                FROM (SELECT * FROM customer
                      ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 3) c
                JOIN nation n ON n.n_nationkey = c.c_nationkey"""),
        )


class TestOrderResolution:
    def test_order_by_output_alias_after_agg(self, tpch, duck):
        assert_same(
            tpch.execute("""
                MATCH (c:Customer)
                RETURN c.c_mktsegment AS seg, count(*) AS n
                ORDER BY n DESC, seg ASC LIMIT 3"""),
            duck.sql("""
                SELECT c_mktsegment AS seg, count(*) AS n FROM customer
                GROUP BY 1 ORDER BY n DESC, seg ASC LIMIT 3"""),
        )

    def test_order_by_agg_expression_ast_match(self, tpch, duck):
        # ORDER BY count(*) resolves to the projected aggregate by AST match
        assert_same(
            tpch.execute("""
                MATCH (c:Customer)
                RETURN c.c_mktsegment AS seg, count(*) AS n
                ORDER BY count(*) DESC, c.c_mktsegment ASC LIMIT 2"""),
            duck.sql("""
                SELECT c_mktsegment AS seg, count(*) AS n FROM customer
                GROUP BY 1 ORDER BY count(*) DESC, c_mktsegment ASC LIMIT 2"""),
        )

    def test_order_by_unprojected_column(self, tpch, duck):
        # sorting by a column that is NOT returned (non-agg query)
        assert_same(
            tpch.execute("""
                MATCH (c:Customer)
                RETURN c.c_name AS name
                ORDER BY c.c_acctbal DESC, c.c_custkey ASC LIMIT 5"""),
            duck.sql("""
                SELECT c_name AS name FROM customer
                ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 5"""),
        )

    def test_order_by_unprojected_after_agg_errors(self, tpch):
        with pytest.raises(PlanError):
            tpch.execute("""
                MATCH (c:Customer)
                RETURN c.c_mktsegment AS seg, count(*) AS n
                ORDER BY c.c_acctbal""").collect()


class TestProjectionEdges:
    def test_bare_node_return_expands(self, tpch):
        df = tpch.execute("MATCH (r:Region) RETURN r")
        assert sorted(df.columns) == ["r.r_name", "r.r_regionkey"]

    def test_duplicate_output_names_allowed(self, tpch):
        df = tpch.execute(
            "MATCH (r:Region) RETURN r.r_name AS x, r.r_regionkey AS x LIMIT 1"
        )
        assert df.columns == ["x", "x"]

    def test_expression_projection_requires_alias_in_with(self, tpch):
        with pytest.raises(PlanError):
            tpch.execute(
                "MATCH (c:Customer) WITH c.c_acctbal + 1 RETURN count(*) AS n"
            )

    def test_rel_variable_expansion(self, tpch):
        df = tpch.execute(
            "MATCH (o:Order)-[h:HAS_LINE]->(l:Lineitem) RETURN h LIMIT 2"
        )
        assert df.columns == ["h.l_linenumber"]

    def test_xor_operator(self, tpch, duck):
        assert_same(
            tpch.execute("""
                MATCH (c:Customer)
                WHERE (c.c_acctbal > 5000) XOR (c.c_mktsegment = 'BUILDING')
                RETURN count(*) AS n"""),
            duck.sql("""
                SELECT count(*) AS n FROM customer
                WHERE (c_acctbal > 5000) != (c_mktsegment = 'BUILDING')"""),
        )

    def test_list_index_and_functions(self, tpch, duck):
        assert_same(
            tpch.execute("""
                UNWIND [[1,2,3],[4,5,6]] AS xs
                RETURN xs[0] AS first_el, size(xs) AS sz, head(xs) AS h"""),
            duck.sql("""
                SELECT xs[1] AS first_el, len(xs) AS sz, xs[1] AS h
                FROM (VALUES ([1,2,3]), ([4,5,6])) t(xs)"""),
        )

    def test_negative_index_and_oob_null(self, tpch):
        """r13 (rode the slice work): xs[-1] counts from the end —
        previously an INVALID_INDEX_OF_ZERO error — and out-of-range
        / NULL indices are NULL, not an ANSI error; head/last of an
        empty list are NULL likewise."""
        got = tpch.execute(
            "RETURN [1,2,3][-1] AS a, [1,2,3][-3] AS b, "
            "[1,2,3][5] AS c, [1,2,3][-9] AS d, [1,2,3][null] AS e, "
            "head([]) AS f, last([]) AS g, {x: 7}['x'] AS h"
        ).collect()[0]
        assert (got["a"], got["b"]) == (3, 1)
        assert [got[k] for k in "cdefg"] == [None] * 5
        assert got["h"] == 7

    def test_list_slicing_semantics(self, tpch, duck):
        """r13 (VERDICT r12 missing #2): xs[f..t] — 0-based,
        end-exclusive, open ends, negative bounds, clamping; oracle
        is DuckDB's 1-based-inclusive slice."""
        assert_same(
            tpch.execute("""
                UNWIND [[1,2,3,4,5],[6,7],[8]] AS xs
                RETURN xs[1..3] AS mid, xs[..2] AS head2,
                       xs[1..] AS rest, xs[..] AS whole,
                       xs[-2..] AS tail2, xs[3..1] AS rev,
                       xs[1..99] AS clamped"""),
            duck.sql("""
                SELECT xs[2:3] AS mid, xs[:2] AS head2,
                       xs[2:] AS rest, xs[:] AS whole,
                       xs[-2:] AS tail2, list_slice(xs, 4, 1) AS rev,
                       xs[2:99] AS clamped
                FROM (VALUES ([1,2,3,4,5]), ([6,7]), ([8])) t(xs)"""),
        )
        # NULL propagation: NULL bound or NULL list -> NULL
        got = tpch.execute(
            "RETURN [1,2][null..1] AS a, [1,2][0..null] AS b"
        ).collect()[0]
        assert (got["a"], got["b"]) == (None, None)


class TestStandaloneReturn:
    def test_return_without_match(self, tpch, duck):
        assert_same(
            tpch.execute("RETURN 1 + 2 AS x, 'hi' AS s"),
            duck.sql("SELECT 1 + 2 AS x, 'hi' AS s"),
        )

    def test_with_star_carries_all(self, tpch, duck):
        assert_same(
            tpch.execute("""
                MATCH (n:Nation)-[:IN_REGION]->(r:Region)
                WITH * WHERE r.r_name = 'ASIA'
                RETURN n.n_name AS nation"""),
            duck.sql("""
                SELECT n.n_name AS nation
                FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
                WHERE r.r_name = 'ASIA'"""),
        )

    def test_with_agg_order_limit(self, tpch, duck):
        assert_same(
            tpch.execute("""
                MATCH (c:Customer)-[:PLACED]->(o:Order)
                WITH c.c_name AS name, count(*) AS n
                ORDER BY n DESC, name ASC LIMIT 5
                RETURN name, n"""),
            duck.sql("""
                SELECT c_name AS name, count(*) AS n
                FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
                GROUP BY 1 ORDER BY n DESC, name ASC LIMIT 5"""),
        )


class TestMultiTypeRel:
    def test_multi_type_union(self, tpch, duck):
        # chain neighbors over both directions-as-types (bag union)
        assert_same(
            tpch.execute("""
                MATCH (a:Customer)-[:NEXT_CUST|PREV_CUST]->(b:Customer)
                WHERE a.c_custkey <= 10
                RETURN a.c_custkey AS src, b.c_custkey AS dst"""),
            duck.sql("""
                SELECT a.c_custkey AS src, b.c_custkey AS dst
                FROM customer a JOIN customer b
                  ON abs(b.c_custkey - a.c_custkey) = 1
                WHERE a.c_custkey <= 10"""),
        )

    def test_multi_type_parse(self):
        from brahmand_spark.parser import parse

        q = parse("MATCH (a)-[r:X|Y|Z]->(b) RETURN a")
        rel = q.parts[0].matches[0].paths[0].rels[0]
        assert rel.type_name == "X"
        assert rel.alt_types == ("Y", "Z")

    def test_multi_type_props(self, tpch):
        """r9: inline property maps on a multi-type pattern filter
        per-row; an arm whose type lacks the key contributes nothing
        (its NULL never equals). Unknown-on-every-arm keys reject."""
        rows = tpch.execute(
            "MATCH (a:Customer)-[r:NEXT_CUST|PREV_CUST {hop_w: 3}]->"
            "(b:Customer) RETURN a.c_custkey AS ak, type(r) AS t"
        ).collect()
        assert rows and all(r["t"] == "NEXT_CUST" for r in rows)
        assert all(r["ak"] % 7 == 2 for r in rows)  # hop_w = k%7+1
        with pytest.raises(PlanError, match="any arm"):
            tpch.execute(
                "MATCH (a:Customer)-[r:NEXT_CUST|PREV_CUST {x: 1}]->(b) "
                "RETURN a"
            )

    def test_multi_type_var_length_walks_all_arms(self, tpch):
        """r9 bug fix: -[:A|B*1..2]-> previously walked only A.
        One-hop multi-type must equal the union of the single-type
        hops; a two-hop +1/-1 round trip (distinct types over the
        same endpoints) is legal under relationship-uniqueness."""
        both = tpch.execute(
            "MATCH (a:Customer)-[:NEXT_CUST|PREV_CUST*1..1]->"
            "(b:Customer) WHERE a.c_custkey <= 10 "
            "RETURN a.c_custkey AS ak, b.c_custkey AS bk").collect()
        single = tpch.execute(
            "MATCH (a:Customer)-[:NEXT_CUST]->(b:Customer) "
            "WHERE a.c_custkey <= 10 "
            "RETURN a.c_custkey AS ak, b.c_custkey AS bk").collect()
        single += tpch.execute(
            "MATCH (a:Customer)-[:PREV_CUST]->(b:Customer) "
            "WHERE a.c_custkey <= 10 "
            "RETURN a.c_custkey AS ak, b.c_custkey AS bk").collect()
        assert sorted(map(tuple, both)) == sorted(map(tuple, single))
        # round trip via distinct types is a legal 2-hop path
        rt = tpch.execute(
            "MATCH (a:Customer)-[:NEXT_CUST|PREV_CUST*2..2]->"
            "(b:Customer) WHERE a.c_custkey = 5 "
            "RETURN b.c_custkey AS bk").collect()
        assert 5 in {r["bk"] for r in rt}

    def test_multi_type_shortest_path_spans_arms(self, tpch):
        """shortestPath over a multi-type pattern must traverse every
        arm: going DOWN the chain needs PREV_CUST, which the primary
        NEXT_CUST schema alone cannot do."""
        rows = tpch.execute(
            "MATCH p = shortestPath((a:Customer)-"
            "[:NEXT_CUST|PREV_CUST*..3]->(b:Customer)) "
            "WHERE a.c_custkey = 10 AND b.c_custkey = 7 "
            "RETURN length(p) AS d").collect()
        assert [r["d"] for r in rows] == [3]

    def test_multi_type_mismatched_endpoints_rejected(self, tpch):
        with pytest.raises(PlanError, match="separate MATCHes"):
            tpch.execute(
                "MATCH (n:Nation)<-[:CUST_IN|SUPP_IN]-(x) RETURN n"
            )


class TestAnchorSelection:
    """Mirrors the reference's anchor-selection unit tests
    (anchor_node_selection.rs: most-filtered wins, OR tie-break,
    rel-as-anchor, none-filtered -> None)."""

    def _anchor(self, tpch, cypher):
        from brahmand_spark.compile.compiler import QueryCompiler
        from brahmand_spark.compile.scope import Scope
        from brahmand_spark.parser.parser import parse

        query = parse(cypher)
        part = query.parts[0]
        compiler = QueryCompiler(tpch.schema, tpch._load_for_label)
        pattern = compiler._build_pattern(part.matches, Scope())
        compiler._infer(pattern)
        return compiler._select_anchor(pattern, part)

    def test_most_filtered_alias_wins(self, tpch):
        assert self._anchor(tpch, """
            MATCH (a:Customer)-[:PLACED]->(b:Order)
            WHERE a.c_acctbal > 0 AND a.c_custkey < 10
              AND b.o_totalprice > 5
            RETURN a.c_name AS n""") == "a"

    def test_tie_broken_by_or_filter(self, tpch):
        assert self._anchor(tpch, """
            MATCH (a:Customer)-[:PLACED]->(b:Order)
            WHERE a.c_acctbal > 0
              AND (b.o_totalprice > 5 OR b.o_orderstatus = 'F')
            RETURN a.c_name AS n""") == "b"

    def test_tie_without_or_takes_first(self, tpch):
        assert self._anchor(tpch, """
            MATCH (a:Customer)-[:PLACED]->(b:Order)
            WHERE a.c_acctbal > 0 AND b.o_totalprice > 5
            RETURN a.c_name AS n""") == "a"

    def test_inline_properties_count(self, tpch):
        assert self._anchor(tpch, """
            MATCH (a:Customer)-[:PLACED]->(b:Order {o_orderstatus: 'F'})
            RETURN a.c_name AS n""") == "b"

    def test_relationship_can_anchor(self, tpch):
        assert self._anchor(tpch, """
            MATCH (o:Order)-[r:HAS_LINE]->(l:Lineitem)
            WHERE r.l_linenumber = 1
            RETURN o.o_orderkey AS k""") == "r"

    def test_no_filters_returns_none(self, tpch):
        assert self._anchor(tpch, """
            MATCH (a:Customer)-[:PLACED]->(b:Order)
            RETURN a.c_name AS n""") is None


class TestVarLengthCostGuard:
    def test_deep_walk_refused_with_clear_error(self, tpch):
        import pytest

        from brahmand_spark.errors import PlanError

        with pytest.raises(PlanError, match="cost guard"):
            tpch.execute(
                "MATCH (a:Customer)-[:NEXT_CUST*1..8]->(b:Customer) "
                "RETURN count(*) AS n")

    def test_guard_is_configurable(self, spark):
        from brahmand_spark.graphs.tpch import build_session

        from .conftest import SF_SMOKE

        s = build_session(spark, SF_SMOKE)
        s.max_var_hops = 8
        df = s.execute(
            "MATCH (a:Customer)-[:NEXT_CUST*7..8]->(b:Customer) "
            "WHERE a.c_custkey <= 3 RETURN count(*) AS n")
        assert df.collect()[0][0] > 0

    def test_write_match_uses_session_guard(self, spark):
        # a write's MATCH plans with the session's compiler settings:
        # the lowered guard refuses it exactly as it refuses the read
        from brahmand_spark.graphs.tpch import build_session

        from .conftest import SF_SMOKE

        s = build_session(spark, SF_SMOKE)
        s.max_var_hops = 2
        s.allow_writes = True
        hop = "MATCH (a:Customer)-[:NEXT_CUST*1..4]->(b:Customer) "
        with pytest.raises(PlanError, match="cost guard") as read:
            s.execute(hop + "RETURN count(*) AS n")
        with pytest.raises(PlanError, match="cost guard") as write:
            s.execute(hop + "SET b.c_comment = 'x'")
        assert str(write.value) == str(read.value)

    def test_unbounded_star_gets_guard_bound(self, tpch):
        # must compile (bounded to the guard), not error
        df = tpch.execute(
            "MATCH (a:Customer)-[:NEXT_CUST*..]->(b:Customer) "
            "WHERE a.c_custkey = 1 RETURN count(*) AS n")
        assert df.collect()[0][0] == 6

    def test_unbounded_star_respects_session_override(self, spark):
        # unbounded * resolves at plan time, so a raised per-session
        # guard widens the walk (was silently pinned to 6 at parse)
        from brahmand_spark.graphs.tpch import build_session

        from .conftest import SF_SMOKE

        s = build_session(spark, SF_SMOKE)
        s.max_var_hops = 9
        df = s.execute(
            "MATCH (a:Customer)-[:NEXT_CUST*]->(b:Customer) "
            "WHERE a.c_custkey = 1 RETURN count(*) AS n")
        assert df.collect()[0][0] == 9


class TestSketchAggregates:
    """Sketch/statistical aggregates classify as aggregates (implicit
    GROUP BY) and compile through the JVM fallback — the scale-path
    substitute for exact distinct counts."""

    def test_approx_count_distinct_groups(self, tpch, duck):
        from .helpers import assert_same

        df = tpch.execute("""
            MATCH (c:Customer)-[:PLACED]->(o:Order)
            RETURN c.c_mktsegment AS seg,
                   approx_count_distinct(o.o_orderkey) AS approx_orders""")
        rows = {r.seg: r.approx_orders for r in df.collect()}
        exact = {
            r[0]: r[1] for r in duck.sql("""
                SELECT c_mktsegment, count(DISTINCT o_orderkey)
                FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
                GROUP BY 1""").fetchall()
        }
        assert set(rows) == set(exact)
        for seg, approx in rows.items():
            assert abs(approx - exact[seg]) / exact[seg] < 0.1

    def test_max_by_and_bool_or(self, tpch):
        df = tpch.execute("""
            MATCH (c:Customer)
            RETURN c.c_mktsegment AS seg,
                   max_by(c.c_name, c.c_acctbal) AS richest,
                   bool_or(c.c_acctbal < 0) AS any_negative""")
        rows = df.collect()
        assert len(rows) == 5
        assert all(r.richest is not None for r in rows)


class TestDistinctAggregates:
    def test_avg_distinct_exact(self, tpch, duck):
        from .helpers import assert_same

        assert_same(
            tpch.execute("""
                MATCH (c:Customer)-[:PLACED]->(o:Order)
                RETURN c.c_mktsegment AS seg,
                       round(avg(DISTINCT o.o_totalprice), 2) AS avg_d"""),
            duck.sql("""
                SELECT c_mktsegment AS seg,
                       round(avg(DISTINCT o_totalprice), 2) AS avg_d
                FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
                GROUP BY 1"""),
        )

    def test_avg_distinct_all_null_group_is_null(self, spark):
        # count_distinct = 0 on an all-NULL group: avg(DISTINCT) must
        # return NULL, not raise DIVIDE_BY_ZERO under ANSI mode
        from brahmand_spark.catalog import GraphSchema, NodeSchema
        from brahmand_spark.session import GraphSession

        schema = GraphSchema()
        schema.add_node(NodeSchema(
            label="Thing", table_name="Thing", node_id="id",
            column_names=["id", "grp", "v"], primary_keys=["id"],
        ))
        s = GraphSession(spark, schema=schema)
        s.register_table("Thing", spark.createDataFrame(
            [(1, "a", None), (2, "a", None), (3, "b", 4.0)],
            "id long, grp string, v double"))
        rows = s.execute(
            "MATCH (t:Thing) RETURN t.grp AS grp, "
            "avg(DISTINCT t.v) AS avg_d ORDER BY grp").collect()
        assert [(r.grp, r.avg_d) for r in rows] == [("a", None), ("b", 4.0)]

    def test_unsupported_distinct_rejected(self, tpch):
        import pytest

        from brahmand_spark.errors import UnsupportedError

        with pytest.raises(UnsupportedError, match="DISTINCT"):
            tpch.execute(
                "MATCH (c:Customer) "
                "RETURN stddev(DISTINCT c.c_acctbal) AS s").collect()


def test_order_by_nulls_last_both_directions(spark):
    """ClickHouse/DuckDB sort NULLs last in both directions; Spark's
    default asc() would page them first, changing SKIP/LIMIT results."""
    from brahmand_spark.catalog import GraphSchema, NodeSchema
    from brahmand_spark.session import GraphSession

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0), (4, None), (5, 20.0)],
        "n_id long, v double",
    )
    schema = GraphSchema()
    schema.add_node(NodeSchema(
        label="N", table_name="N", node_id="n_id",
        column_names=["n_id", "v"], primary_keys=["n_id"],
    ))
    s = GraphSession(spark, schema=schema)
    s.register_table("N", df)
    asc = [r.v for r in s.execute(
        "MATCH (a:N) RETURN a.v AS v ORDER BY v ASC").collect()]
    assert asc == [10.0, 20.0, 30.0, None, None]
    desc = [r.v for r in s.execute(
        "MATCH (a:N) RETURN a.v AS v ORDER BY v DESC").collect()]
    assert desc == [30.0, 20.0, 10.0, None, None]
    # pagination over the null tail picks the same rows as the oracle
    limited = [r.v for r in s.execute(
        "MATCH (a:N) RETURN a.v AS v ORDER BY v ASC LIMIT 3").collect()]
    assert limited == [10.0, 20.0, 30.0]


class TestVarLengthLowerBoundGuard:
    def test_min_above_guard_raises_not_empty(self, tpch):
        """*9.. with the default guard (6) must raise the cost-guard
        error, not resolve to an empty hop range that silently returns
        nothing (ADVICE r3)."""
        import pytest

        from brahmand_spark.errors import PlanError

        with pytest.raises(PlanError, match="lower bound"):
            tpch.execute(
                "MATCH (a:Customer)-[:NEXT_CUST*9..]->(b:Customer) "
                "RETURN count(*) AS n")

    def test_min_above_guard_ok_when_guard_raised(self, spark):
        from brahmand_spark.graphs.tpch import build_session

        from .conftest import SF_SMOKE

        s = build_session(spark, SF_SMOKE)
        s.max_var_hops = 9
        df = s.execute(
            "MATCH (a:Customer)-[:NEXT_CUST*9..]->(b:Customer) "
            "WHERE a.c_custkey = 1 RETURN count(*) AS n")
        assert df.collect()[0][0] == 1


class TestLeadingWith:
    """Leading WITH (r13): a query may OPEN with WITH over literal /
    parameter expressions — seeded from the same single-row frame as
    a standalone RETURN; later clauses read the bindings."""

    def test_literals_and_exprs(self, tpch, duck):
        assert_same(
            tpch.execute("WITH 1 + 2 AS x, 'hi' AS y RETURN x, y"),
            duck.sql("SELECT 3 AS x, 'hi' AS y"),
        )

    def test_binding_feeds_later_match(self, tpch, duck):
        assert_same(
            tpch.execute("""
                WITH 10 AS cap
                MATCH (c:Customer) WHERE c.c_custkey < cap
                RETURN count(*) AS n"""),
            duck.sql("SELECT count(*) AS n FROM customer "
                     "WHERE c_custkey < 10"),
        )

    def test_unbound_reference_errors(self, tpch):
        import pytest

        from brahmand_spark.errors import PlanError

        with pytest.raises(PlanError, match="unknown alias"):
            tpch.execute("WITH q.x AS v RETURN v")
