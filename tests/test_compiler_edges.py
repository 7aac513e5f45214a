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


class TestCostBasedAnchor:
    """r10 (VERDICT r9 Missing #3): with catalog row counts the anchor
    is the smallest ESTIMATED post-filter cardinality; without stats
    (or with incomplete stats) the reference's filter-count heuristic
    decides, unchanged."""

    def _anchor(self, tpch, cypher, stats):
        from brahmand_spark.compile.compiler import QueryCompiler
        from brahmand_spark.compile.scope import Scope
        from brahmand_spark.parser.parser import parse

        query = parse(cypher)
        part = query.parts[0]
        compiler = QueryCompiler(
            tpch.schema, tpch._load_for_label,
            table_stats=stats.get if stats is not None else None)
        pattern = compiler._build_pattern(part.matches, Scope())
        compiler._infer(pattern)
        return compiler._select_anchor(pattern, part)

    Q_ONE_FILTER_EACH = """
        MATCH (a:Customer)-[:PLACED]->(b:Order)
        WHERE a.c_acctbal > 0 AND b.o_totalprice > 5
        RETURN a.c_name AS n"""

    def test_stats_flip_anchor_to_small_table(self, tpch):
        # filter-count ties -> heuristic picks 'a'; stats say the
        # filtered Order side is 50 rows vs a billion customers
        stats = {"Customer": 1_000_000_000, "Order": 50, "PLACED": 10**9}
        assert self._anchor(tpch, self.Q_ONE_FILTER_EACH, stats) == "b"

    def test_small_dimension_beats_more_filters(self, tpch):
        # two filters on the fact side still lose to a 10-row dim:
        # 1e9 * 0.1^2 = 1e7 >> 10 * 0.1 = 1
        q = """
            MATCH (a:Customer)-[:PLACED]->(b:Order)
            WHERE a.c_acctbal > 0
              AND b.o_totalprice > 5 AND b.o_orderstatus = 'F'
            RETURN a.c_name AS n"""
        stats = {"Customer": 10, "Order": 1_000_000_000, "PLACED": 10**9}
        assert self._anchor(tpch, q, stats) == "a"

    def test_missing_stats_fall_back_to_heuristic(self, tpch):
        # Order has no stats entry -> wholesale fallback (tie -> 'a')
        stats = {"Customer": 1_000_000_000, "PLACED": 10**9}
        assert self._anchor(tpch, self.Q_ONE_FILTER_EACH, stats) == "a"

    def test_no_stats_keeps_reference_behavior(self, tpch):
        assert self._anchor(tpch, self.Q_ONE_FILTER_EACH, None) == "a"

    def test_unfiltered_pattern_still_none(self, tpch):
        stats = {"Customer": 10, "Order": 10, "PLACED": 10}
        assert self._anchor(tpch, """
            MATCH (a:Customer)-[:PLACED]->(b:Order)
            RETURN a.c_name AS n""", stats) is None

    def test_or_penalty_breaks_even_estimates(self, tpch):
        # same rows + same filter count, but 'b' carries an OR -> 'a'
        q = """
            MATCH (a:Customer)-[:PLACED]->(b:Order)
            WHERE a.c_acctbal > 0
              AND (b.o_totalprice > 5 OR b.o_orderstatus = 'F')
            RETURN a.c_name AS n"""
        stats = {"Customer": 1000, "Order": 1000, "PLACED": 10**6}
        assert self._anchor(tpch, q, stats) == "a"

    def test_session_stats_keep_results_identical(self, spark):
        """Pure physical choice: the same query returns identical rows
        with and without collect_table_stats()."""
        from brahmand_spark.graphs.tpch import build_session

        from .conftest import SF_SMOKE

        q = ("MATCH (a:Customer)-[:PLACED]->(b:Order) "
             "WHERE a.c_acctbal > 5000 AND b.o_orderstatus = 'F' "
             "RETURN a.c_name AS n, b.o_orderkey AS k")
        s1 = build_session(spark, SF_SMOKE)
        before = sorted(map(tuple, s1.execute(q).collect()))
        s2 = build_session(spark, SF_SMOKE)
        stats = s2.collect_table_stats()
        assert stats["Customer"] > 0 and stats["PLACED"] > 0
        after = sorted(map(tuple, s2.execute(q).collect()))
        assert before == after


class TestColumnStatSelectivity:
    """r11 (VERDICT r10 next #2): with column stats
    (collect_table_stats(columns=True)) per-filter selectivity is
    estimated from ndv / min-max instead of the fixed 0.1 constant."""

    def _anchor(self, tpch, cypher, stats, cstats, fresh=False):
        from brahmand_spark.compile.compiler import QueryCompiler
        from brahmand_spark.compile.scope import Scope
        from brahmand_spark.parser.parser import parse

        query = parse(cypher)
        part = query.parts[0]
        compiler = QueryCompiler(
            tpch.schema, tpch._load_for_label,
            table_stats=stats.get if stats is not None else None,
            column_stats=cstats.get if cstats is not None else None)
        if fresh:  # the sibling compiler a CALL { } block plans with
            compiler = compiler._fresh()
        pattern = compiler._build_pattern(part.matches, Scope())
        compiler._infer(pattern)
        return compiler._select_anchor(pattern, part)

    Q_EQ_PAIR = """
        MATCH (a:Customer)-[:PLACED]->(b:Order)
        WHERE a.c_mktsegment = 'BUILDING' AND b.o_orderstatus = 'F'
        RETURN a.c_name AS n"""
    ROWS = {"Customer": 1_000_000, "Order": 1_000_000, "PLACED": 10**6}

    def test_anchor_flips_on_ndv(self, tpch):
        # identical filter counts + identical row counts: the
        # heuristic AND the constant cost model both tie -> 'a';
        # ndv says the Order equality keeps 1/1000 vs 1/2 -> 'b'
        cstats = {"Customer": {"c_mktsegment": {"ndv": 2}},
                  "Order": {"o_orderstatus": {"ndv": 1000}}}
        assert self._anchor(tpch, self.Q_EQ_PAIR, self.ROWS, cstats) == "b"
        # flipped ndv flips the anchor back
        cstats2 = {"Customer": {"c_mktsegment": {"ndv": 1000}},
                   "Order": {"o_orderstatus": {"ndv": 2}}}
        assert self._anchor(tpch, self.Q_EQ_PAIR, self.ROWS, cstats2) == "a"

    def test_call_block_compiler_keeps_stats(self, tpch):
        # CALL { } blocks compile on _fresh(): same table and column
        # stats, so the same ndv-driven anchor as the outer query
        cstats = {"Customer": {"c_mktsegment": {"ndv": 2}},
                  "Order": {"o_orderstatus": {"ndv": 1000}}}
        assert self._anchor(tpch, self.Q_EQ_PAIR, self.ROWS, cstats,
                            fresh=True) == "b"

    def test_without_column_stats_behavior_unchanged(self, tpch):
        # same query, no column stats: constant model ties -> pattern
        # order -> 'a' (byte-identical r10 behavior)
        assert self._anchor(tpch, self.Q_EQ_PAIR, self.ROWS, None) == "a"

    def test_range_interpolation(self, tpch):
        # o_totalprice spans [0, 100]: "> 90" keeps ~10%, so the
        # Order side (1/10) beats the Customer equality (1/2)...
        q = """
            MATCH (a:Customer)-[:PLACED]->(b:Order)
            WHERE a.c_mktsegment = 'BUILDING' AND b.o_totalprice > 90
            RETURN a.c_name AS n"""
        cstats = {"Customer": {"c_mktsegment": {"ndv": 2}},
                  "Order": {"o_totalprice":
                            {"ndv": 50_000, "min": 0.0, "max": 100.0}}}
        assert self._anchor(tpch, q, self.ROWS, cstats) == "b"
        # ...while "> 10" keeps ~90% and loses to it
        q2 = q.replace("> 90", "> 10")
        assert self._anchor(tpch, q2, self.ROWS, cstats) == "a"

    def test_pred_sel_units(self, tpch):
        """Direct estimates: =, <>, IN, ranges, AND/OR, IS NULL."""
        from brahmand_spark.compile.compiler import QueryCompiler
        from brahmand_spark.parser.parser import parse

        c = QueryCompiler(tpch.schema, tpch._load_for_label)
        cst = {"x": {"ndv": 100, "min": 0.0, "max": 100.0}}

        def sel(pred):
            q = parse(f"MATCH (a:Customer) WHERE {pred} RETURN a.x AS x")
            return c._pred_sel(cst, q.parts[0].where)

        assert sel("a.x = 5") == pytest.approx(0.01)
        assert sel("a.x <> 5") == pytest.approx(0.99)
        assert sel("a.x IN [1, 2, 3]") == pytest.approx(0.03)
        assert sel("a.x > 75") == pytest.approx(0.25)
        assert sel("a.x <= 25") == pytest.approx(0.25)
        assert sel("50 < a.x") == pytest.approx(0.5)  # flipped operand
        assert sel("a.x = 1 AND a.x > 50") == pytest.approx(0.005)
        assert sel("a.x = 1 OR a.x = 2") == pytest.approx(0.02)
        assert sel("a.x IS NULL") == pytest.approx(0.1)
        assert sel("a.x IS NOT NULL") == pytest.approx(0.9)
        # unknown column/shape falls back to the constant
        assert sel("a.y = 5") == pytest.approx(0.1)

    def test_date_literal_interpolates(self, tpch):
        """date('...') range predicates interpolate against date
        column min-max (the TPC-H shape)."""
        import datetime as dt

        from brahmand_spark.compile.compiler import QueryCompiler
        from brahmand_spark.parser.parser import parse

        c = QueryCompiler(tpch.schema, tpch._load_for_label)
        cst = {"d": {"ndv": 1000, "min": dt.date(1995, 1, 1),
                     "max": dt.date(1996, 12, 31)}}
        q = parse("MATCH (a:Order) WHERE a.d >= date('1996-08-19') "
                  "RETURN a.d AS d")
        s = c._pred_sel(cst, q.parts[0].where)
        assert 0.15 < s < 0.25  # ~last 20% of the two-year span

    def test_session_column_stats_results_identical(self, spark):
        from brahmand_spark.graphs.tpch import build_session

        from .conftest import SF_SMOKE

        q = ("MATCH (a:Customer)-[:PLACED]->(b:Order)"
             "-[:HAS_LINE]->(l:Lineitem) "
             "WHERE a.c_mktsegment = 'BUILDING' AND b.o_totalprice > 0 "
             "RETURN a.c_name AS n, count(*) AS cnt")
        s1 = build_session(spark, SF_SMOKE)
        before = sorted(map(tuple, s1.execute(q).collect()))
        s2 = build_session(spark, SF_SMOKE)
        s2.collect_table_stats(columns=True)
        assert s2.column_stats["Customer"]["c_mktsegment"]["ndv"] > 0
        after = sorted(map(tuple, s2.execute(q).collect()))
        assert before == after


class TestCostBasedHopOrder:
    """r11 (VERDICT r10 next #1): with complete catalog stats the hop
    JOIN ORDER after the anchor is greedy smallest-estimated-
    intermediate first, not pattern order."""

    Q_CHAIN = """
        MATCH (a:Customer)-[:PLACED]->(b:Order)-[:HAS_LINE]->
              (c:Lineitem)-[:OF_PART]->(d:Part)
        WHERE a.c_acctbal > 0
        RETURN a.c_name AS n"""

    def _order(self, tpch, cypher, stats, cstats=None):
        from brahmand_spark.compile.compiler import QueryCompiler
        from brahmand_spark.compile.scope import Scope
        from brahmand_spark.parser.parser import parse

        query = parse(cypher)
        part = query.parts[0]
        compiler = QueryCompiler(
            tpch.schema, tpch._load_for_label,
            table_stats=stats.get if stats is not None else None,
            column_stats=cstats.get if cstats is not None else None)
        pattern = compiler._build_pattern(part.matches, Scope())
        compiler._infer(pattern)
        score, has_or = compiler._filter_score(pattern, part)
        ordered = compiler._order_hops_by_cost(
            pattern, list(pattern.rels), part, score, has_or, set())
        return None if ordered is None else [r.type_name for r in ordered]

    def test_selective_third_hop_joins_first(self, tpch):
        # the third hop's edge table is 100 rows against billion-row
        # earlier hops: start there, walk back, join the filtered
        # anchor LAST — the r10 static order always started at the
        # anchor and dragged the 1e9-row PLACED join first
        stats = {"Customer": 1_000_000, "Order": 10**9,
                 "Lineitem": 10**9, "Part": 100,
                 "PLACED": 10**9, "HAS_LINE": 4 * 10**9, "OF_PART": 100}
        assert self._order(tpch, self.Q_CHAIN, stats) == [
            "OF_PART", "HAS_LINE", "PLACED"]

    def test_uniform_stats_keep_anchor_first(self, tpch):
        # nothing distinguishes the edges: the filtered anchor's hop
        # is the cheapest start (its selectivity shrinks it) and the
        # chain unwinds in pattern order
        stats = {"Customer": 1000, "Order": 1000, "Lineitem": 1000,
                 "Part": 1000, "PLACED": 1000, "HAS_LINE": 1000,
                 "OF_PART": 1000}
        assert self._order(tpch, self.Q_CHAIN, stats) == [
            "PLACED", "HAS_LINE", "OF_PART"]

    def test_skew_order_results_identical(self, spark):
        """Hop order is purely physical: same rows with an adjacency
        index + table and column stats as without."""
        from brahmand_spark.graphs.tpch import build_session

        from .conftest import SF_SMOKE

        q = ("MATCH (a:Customer)-[:PLACED]->(b:Order)-[:HAS_LINE]->"
             "(c:Lineitem)-[:OF_PART]->(d:Part) "
             "WHERE a.c_acctbal > 5000 AND d.p_size > 40 "
             "RETURN a.c_name AS n, d.p_partkey AS pk")
        s1 = build_session(spark, SF_SMOKE)
        before = sorted(map(tuple, s1.execute(q).collect()))
        s2 = build_session(spark, SF_SMOKE)
        s2.build_adj_index("HAS_LINE")
        s2.collect_table_stats(columns=True)
        after = sorted(map(tuple, s2.execute(q).collect()))
        assert before == after and len(before) > 0

    def test_without_stats_returns_none(self, tpch):
        assert self._order(tpch, self.Q_CHAIN, None) is None

    def test_incomplete_stats_return_none(self, tpch):
        stats = {"Customer": 1000, "Order": 1000, "Lineitem": 1000,
                 "Part": 1000, "PLACED": 1000, "HAS_LINE": 1000}
        assert self._order(tpch, self.Q_CHAIN, stats) is None

    def test_chain_results_identical_under_stats(self, spark):
        """The flip is purely physical: same rows either way."""
        from brahmand_spark.graphs.tpch import build_session

        from .conftest import SF_SMOKE

        q = ("MATCH (a:Customer)-[:PLACED]->(b:Order)-[:HAS_LINE]->"
             "(c:Lineitem)-[:OF_PART]->(d:Part) "
             "WHERE a.c_acctbal > 5000 AND d.p_size > 40 "
             "RETURN a.c_name AS n, d.p_partkey AS pk")
        s1 = build_session(spark, SF_SMOKE)
        before = sorted(map(tuple, s1.execute(q).collect()))
        s2 = build_session(spark, SF_SMOKE)
        s2.collect_table_stats(columns=True)
        after = sorted(map(tuple, s2.execute(q).collect()))
        assert before == after and len(before) > 0


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
