"""Deterministic fuzz parity: random query specs rendered to BOTH
Cypher (this engine) and SQL (DuckDB) from one source of truth, so any
divergence is an engine-semantics bug, not a test artifact. Seeded —
failures reproduce exactly; bump N_QUERIES locally for deeper sweeps.
"""

from __future__ import annotations

import random

from .helpers import assert_same

NUM_COLS = ["c_acctbal", "c_custkey", "c_nationkey"]
STR_COLS = ["c_name", "c_mktsegment"]
SEGMENTS = ["BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE", "FURNITURE"]

N_QUERIES = 40


def _predicate(rnd: random.Random) -> tuple[str, str]:
    """One comparison predicate as (cypher, sql)."""
    kind = rnd.randrange(5)
    if kind == 0:
        col = rnd.choice(NUM_COLS)
        op = rnd.choice(["<", "<=", ">", ">=", "=", "<>"])
        val = rnd.choice([0, 100, 1000, 4999.5, 9000])
        return f"c.{col} {op} {val}", f"{col} {op} {val}"
    if kind == 1:
        seg = rnd.sample(SEGMENTS, rnd.randrange(1, 3))
        lst = ", ".join(f"'{s}'" for s in seg)
        return (f"c.c_mktsegment IN [{lst}]",
                f"c_mktsegment IN ({lst})")
    if kind == 2:
        col = rnd.choice(STR_COLS)
        neg = "NOT " if rnd.random() < 0.3 else ""
        return (f"c.{col} IS {neg}NULL", f"{col} IS {neg}NULL")
    if kind == 3:
        m = rnd.randrange(2, 7)
        r = rnd.randrange(m)
        return (f"c.c_custkey % {m} = {r}", f"c_custkey % {m} = {r}")
    pre = rnd.choice(["Customer#00000", "Customer#000001"])
    return (f"c.c_name STARTS WITH '{pre}'", f"c_name LIKE '{pre}%'")


def _where(rnd: random.Random) -> tuple[str, str]:
    n = rnd.randrange(1, 4)
    parts = [_predicate(rnd) for _ in range(n)]
    ops = [rnd.choice(["AND", "OR"]) for _ in range(n - 1)]
    cy, sq = parts[0]
    for (c2, s2), op in zip(parts[1:], ops):
        cy = f"({cy}) {op} ({c2})"
        sq = f"({sq}) {op} ({s2})"
    return cy, sq


def _agg_query(rnd: random.Random) -> tuple[str, str]:
    cy_w, sq_w = _where(rnd)
    aggs = rnd.sample(
        [("count(*)", "count(*)"),
         ("round(sum(c.c_acctbal), 2)", "round(sum(c_acctbal), 2)"),
         ("round(avg(c.c_acctbal), 2)", "round(avg(c_acctbal), 2)"),
         ("min(c.c_custkey)", "min(c_custkey)"),
         ("max(c.c_name)", "max(c_name)"),
         ("count(DISTINCT c.c_nationkey)", "count(DISTINCT c_nationkey)")],
        rnd.randrange(1, 4),
    )
    cy_items = ", ".join(f"{a} AS x{i}" for i, (a, _) in enumerate(aggs))
    sq_items = ", ".join(f"{b} AS x{i}" for i, (_, b) in enumerate(aggs))
    if rnd.random() < 0.5:  # grouped
        cy = (f"MATCH (c:Customer) WHERE {cy_w} "
              f"RETURN c.c_mktsegment AS seg, {cy_items}")
        sq = (f"SELECT c_mktsegment AS seg, {sq_items} "
              f"FROM customer WHERE {sq_w} GROUP BY c_mktsegment")
    else:
        cy = f"MATCH (c:Customer) WHERE {cy_w} RETURN {cy_items}"
        sq = f"SELECT {sq_items} FROM customer WHERE {sq_w}"
    return cy, sq


def _scan_query(rnd: random.Random) -> tuple[str, str]:
    cy_w, sq_w = _where(rnd)
    cols = rnd.sample(NUM_COLS + STR_COLS, rnd.randrange(1, 4))
    cy_items = ", ".join(f"c.{c} AS {c}" for c in cols)
    sq_items = ", ".join(cols)
    order = ""
    sq_order = ""
    if rnd.random() < 0.6:
        oc = rnd.choice(cols)
        d = rnd.choice(["ASC", "DESC"])
        lim = rnd.randrange(1, 50)
        # total order via unique-ish tiebreak for stable pagination
        order = f" ORDER BY {oc} {d}, c_custkey ASC LIMIT {lim}" \
            if "c_custkey" in cols else f" ORDER BY {oc} {d}"
        sq_order = (f" ORDER BY {oc} {d}, c_custkey ASC LIMIT {lim}"
                    if "c_custkey" in cols else f" ORDER BY {oc} {d}")
        if "LIMIT" not in order:
            order, sq_order = "", ""  # unordered pagination is unstable
    cy = f"MATCH (c:Customer) WHERE {cy_w} RETURN {cy_items}{order}"
    sq = f"SELECT {sq_items} FROM customer WHERE {sq_w}{sq_order}"
    return cy, sq


def test_fuzz_parity(tpch, duck):
    rnd = random.Random(20260813)
    failures = []
    for i in range(N_QUERIES):
        cy, sq = (_agg_query if rnd.random() < 0.5 else _scan_query)(rnd)
        try:
            assert_same(tpch.execute(cy), duck.sql(sq))
        except AssertionError as exc:
            failures.append(f"[{i}] {cy}\n  vs {sq}\n  {exc}")
    assert not failures, "\n".join(failures[:3]) + f"\n({len(failures)} total)"


ORD_NUM = ["o_totalprice", "o_orderkey", "o_custkey"]
ORD_STR = ["o_orderstatus", "o_orderpriority"]


def _o_predicate(rnd: random.Random) -> tuple[str, str]:
    kind = rnd.randrange(3)
    if kind == 0:
        col = rnd.choice(ORD_NUM)
        op = rnd.choice(["<", "<=", ">", ">=", "="])
        val = rnd.choice([0, 1000, 150000, 300000])
        return f"o.{col} {op} {val}", f"{col} {op} {val}"
    if kind == 1:
        st = rnd.choice(["O", "F", "P"])
        return f"o.o_orderstatus = '{st}'", f"o_orderstatus = '{st}'"
    m = rnd.randrange(2, 5)
    return f"o.o_orderkey % {m} = 0", f"o_orderkey % {m} = 0"


def _hop_query(rnd: random.Random) -> tuple[str, str]:
    """(c:Customer)-[:PLACED]->(o:Order) with filters on either side —
    exercises FK-edge fusion, endpoint elision, and the virtual-edge
    strategies depending on which columns get referenced."""
    conds = []
    if rnd.random() < 0.8:
        conds.append(_predicate(rnd))
    if rnd.random() < 0.8:
        conds.append(_o_predicate(rnd))
    if not conds:
        conds.append(_o_predicate(rnd))
    cy_w = " AND ".join(f"({c})" for c, _ in conds)
    sq_w = " AND ".join(f"({s})" for _, s in conds)
    mode = rnd.randrange(3)
    if mode == 0:  # pure count — both endpoints often elide
        cy = (f"MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE {cy_w} "
              f"RETURN count(*) AS n")
        sq = (f"SELECT count(*) AS n FROM customer c "
              f"JOIN orders o ON o.o_custkey = c.c_custkey WHERE {sq_w}")
    elif mode == 1:  # grouped aggregate over mixed columns
        cy = (f"MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE {cy_w} "
              f"RETURN c.c_mktsegment AS seg, count(*) AS n, "
              f"round(sum(o.o_totalprice), 2) AS total")
        sq = (f"SELECT c_mktsegment AS seg, count(*) AS n, "
              f"round(sum(o_totalprice), 2) AS total FROM customer c "
              f"JOIN orders o ON o.o_custkey = c.c_custkey "
              f"WHERE {sq_w} GROUP BY c_mktsegment")
    else:  # id-only projection (max elision) with stable pagination
        lim = rnd.randrange(1, 40)
        cy = (f"MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE {cy_w} "
              f"RETURN c.c_custkey AS ck, o.o_orderkey AS ok "
              f"ORDER BY ck ASC, ok ASC LIMIT {lim}")
        sq = (f"SELECT c.c_custkey AS ck, o.o_orderkey AS ok "
              f"FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey "
              f"WHERE {sq_w} ORDER BY ck ASC, ok ASC LIMIT {lim}")
    return cy, sq


def test_fuzz_hop_parity(tpch, duck):
    rnd = random.Random(477001)
    failures = []
    for i in range(N_QUERIES):
        cy, sq = _hop_query(rnd)
        try:
            assert_same(tpch.execute(cy), duck.sql(sq))
        except AssertionError as exc:
            failures.append(f"[{i}] {cy}\n  vs {sq}\n  {exc}")
    assert not failures, "\n".join(failures[:3]) + f"\n({len(failures)} total)"


def test_fuzz_hop_chain_parity(tpch, duck):
    """Same random hop queries PLUS random 2-hop
    Customer-PLACED-Order-HAS_LINE-Lineitem chains; results must stay
    row-for-row equal to DuckDB."""
    rnd = random.Random(477001)  # same seed as the plain hop fuzz
    failures = []
    for i in range(N_QUERIES):
        if i % 3 == 2:  # 2-hop chain: ordering has real choices
            c_cy, c_sq = _predicate(rnd)
            o_cy, o_sq = _o_predicate(rnd)
            cy = (f"MATCH (c:Customer)-[:PLACED]->(o:Order)"
                  f"-[:HAS_LINE]->(l:Lineitem) "
                  f"WHERE ({c_cy}) AND ({o_cy}) "
                  f"RETURN c.c_mktsegment AS seg, count(*) AS n, "
                  f"round(sum(l.l_quantity), 2) AS qty")
            sq = (f"SELECT c_mktsegment AS seg, count(*) AS n, "
                  f"round(sum(l_quantity), 2) AS qty FROM customer c "
                  f"JOIN orders o ON o.o_custkey = c.c_custkey "
                  f"JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
                  f"WHERE ({c_sq}) AND ({o_sq}) GROUP BY c_mktsegment")
        else:
            cy, sq = _hop_query(rnd)
        try:
            assert_same(tpch.execute(cy), duck.sql(sq))
        except AssertionError as exc:
            failures.append(f"[{i}] {cy}\n  vs {sq}\n  {exc}")
    assert not failures, "\n".join(failures[:3]) + f"\n({len(failures)} total)"


def _subquery_query(rnd: random.Random) -> tuple[str, str]:
    """EXISTS { } / COUNT { } subqueries with random inner predicates
    rendered to both Cypher and correlated-subquery SQL."""
    inner_cy, inner_sq = _o_predicate(rnd)
    outer_cy, outer_sq = _predicate(rnd)
    kind = rnd.randrange(4)
    if kind == 0:  # EXISTS with inner WHERE
        neg = rnd.random() < 0.4
        n_cy, n_sq = ("NOT ", "NOT ") if neg else ("", "")
        cy = (f"MATCH (c:Customer) WHERE ({outer_cy}) AND {n_cy}EXISTS "
              f"{{ MATCH (c)-[:PLACED]->(o:Order) WHERE {inner_cy} }} "
              f"RETURN c.c_custkey AS ck ORDER BY ck")
        sq = (f"SELECT c_custkey AS ck FROM customer c WHERE "
              f"({outer_sq}) AND {n_sq}EXISTS (SELECT 1 FROM orders o "
              f"WHERE o.o_custkey = c.c_custkey AND ({inner_sq})) "
              f"ORDER BY ck")
    elif kind == 1:  # COUNT in WHERE comparison
        thr = rnd.randrange(1, 20)
        op = rnd.choice([">=", "<", "="])
        cy = (f"MATCH (c:Customer) WHERE COUNT {{ "
              f"(c)-[:PLACED]->(o:Order) WHERE {inner_cy} }} {op} {thr} "
              f"RETURN count(*) AS n")
        sq = (f"SELECT count(*) AS n FROM customer c WHERE (SELECT "
              f"count(*) FROM orders o WHERE o.o_custkey = c.c_custkey "
              f"AND ({inner_sq})) {op} {thr}")
    elif kind == 2:  # COUNT in RETURN
        lim = rnd.randrange(5, 30)
        cy = (f"MATCH (c:Customer) WHERE {outer_cy} "
              f"RETURN c.c_custkey AS ck, COUNT {{ "
              f"(c)-[:PLACED]->(o:Order) WHERE {inner_cy} }} AS cnt "
              f"ORDER BY ck LIMIT {lim}")
        sq = (f"SELECT c_custkey AS ck, (SELECT count(*) FROM orders o "
              f"WHERE o.o_custkey = c.c_custkey AND ({inner_sq})) AS "
              f"cnt FROM customer c WHERE {outer_sq} "
              f"ORDER BY ck LIMIT {lim}")
    else:  # COUNT in ORDER BY + arithmetic
        cy = (f"MATCH (c:Customer) WHERE {outer_cy} "
              f"RETURN c.c_custkey AS ck "
              f"ORDER BY COUNT {{ (c)-[:PLACED]->(o:Order) }} DESC, "
              f"ck ASC LIMIT 10")
        sq = (f"SELECT c_custkey AS ck FROM customer c WHERE {outer_sq}"
              f" ORDER BY (SELECT count(*) FROM orders o WHERE "
              f"o.o_custkey = c.c_custkey) DESC, ck ASC LIMIT 10")
    return cy, sq


def test_fuzz_subquery_parity(tpch, duck):
    rnd = random.Random(880055)
    failures = []
    for i in range(N_QUERIES):
        cy, sq = _subquery_query(rnd)
        try:
            assert_same(tpch.execute(cy), duck.sql(sq))
        except AssertionError as exc:
            failures.append(f"[{i}] {cy}\n  vs {sq}\n  {exc}")
    assert not failures, "\n".join(failures[:3]) + f"\n({len(failures)} total)"


def _correlated_call_query(rnd: random.Random) -> tuple[str, str]:
    """Correlated CALL { } blocks with random inner predicates across
    the v2 shapes (chained WITH / UNWIND / OPTIONAL MATCH / RETURN
    DISTINCT / top-N window), rendered to both Cypher and SQL."""
    inner_cy, inner_sq = _o_predicate(rnd)
    outer_cy, outer_sq = _predicate(rnd)
    kind = rnd.randrange(12)
    if kind == 10:  # r12: multi-type rel import in a MULTIPART block
        cy = (f"MATCH (c:Customer)-[r:NEXT_CUST|PREV_CUST]->"
              f"(b:Customer) WHERE {outer_cy} "
              f"CALL {{ WITH c, r MATCH (c)-[:PLACED]->(o:Order) "
              f"WHERE {inner_cy} "
              f"WITH c, r, count(*) AS n RETURN n, type(r) AS rt }} "
              f"RETURN c.c_custkey AS ck, b.c_custkey AS bk, rt, n "
              f"ORDER BY ck, bk, rt")
        sq = (f"WITH anchors AS "
              f"(SELECT * FROM customer c WHERE {outer_sq}), "
              f"pairs AS ("
              f"SELECT c.c_custkey AS ck, b.c_custkey AS bk, "
              f"'NEXT_CUST' AS rt FROM anchors c JOIN customer b "
              f"ON b.c_custkey = c.c_custkey + 1 "
              f"UNION ALL "
              f"SELECT c.c_custkey, b.c_custkey, 'PREV_CUST' "
              f"FROM anchors c JOIN customer b "
              f"ON b.c_custkey = c.c_custkey - 1) "
              # the keyed WITH-aggregate has GROUP KEYS (c, r): a
              # zero-order invocation yields no group, dropping the
              # outer row — openCypher semantics, same as kind 3
              f"SELECT p.ck, p.bk, p.rt, t.n FROM pairs p JOIN "
              f"(SELECT o_custkey, count(*) AS n FROM orders o "
              f"WHERE {inner_sq} GROUP BY o_custkey) t "
              f"ON t.o_custkey = p.ck ORDER BY ck, bk, rt")
        return cy, sq
    if kind == 11:  # r12: leading-OPTIONAL block with TWO anchors
        qty = rnd.randrange(35, 50)
        cy = (f"MATCH (c:Customer)-[:PLACED]->(o:Order) "
              f"WHERE {outer_cy} "
              f"CALL {{ WITH c, o OPTIONAL MATCH (o)-[:HAS_LINE]->"
              f"(l:Lineitem) WHERE l.l_quantity > {qty} "
              f"RETURN count(l.l_linenumber) AS nl }} "
              f"RETURN c.c_custkey AS ck, o.o_orderkey AS ok, nl "
              f"ORDER BY ck, ok")
        sq = (f"SELECT c.c_custkey AS ck, o.o_orderkey AS ok, "
              f"(SELECT count(*) FROM lineitem l WHERE l.l_orderkey "
              f"= o.o_orderkey AND l.l_quantity > {qty}) AS nl "
              f"FROM customer c JOIN orders o ON o.o_custkey = "
              f"c.c_custkey WHERE {outer_sq} ORDER BY ck, ok")
        return cy, sq
    if kind == 8:  # r11: REL variable import — r.prop inside the block
        cy = (f"MATCH (o:Order)-[r:HAS_LINE]->(l:Lineitem) "
              f"WHERE {inner_cy} "
              f"CALL {{ WITH o, r MATCH (o)-[r2:HAS_LINE]->"
              f"(l2:Lineitem) WHERE r2.l_linenumber > r.l_linenumber "
              f"RETURN count(*) AS later }} "
              f"RETURN o.o_orderkey AS ok, r.l_linenumber AS ln, "
              f"later ORDER BY ok, ln")
        sq = (f"SELECT o.o_orderkey AS ok, l.l_linenumber AS ln, "
              f"(SELECT count(*) FROM lineitem l2 WHERE l2.l_orderkey "
              f"= o.o_orderkey AND l2.l_linenumber > l.l_linenumber) "
              f"AS later FROM orders o JOIN lineitem l ON "
              f"l.l_orderkey = o.o_orderkey WHERE {inner_sq} "
              f"ORDER BY ok, ln")
        return cy, sq
    if kind == 9:  # r11: OPTIONAL MATCH leading the block
        if rnd.random() < 0.5:  # all-aggregate: count-0 per invocation
            cy = (f"MATCH (c:Customer) WHERE {outer_cy} "
                  f"CALL {{ WITH c OPTIONAL MATCH (c)-[:PLACED]->"
                  f"(o:Order) WHERE {inner_cy} "
                  f"RETURN count(o.o_orderkey) AS n }} "
                  f"RETURN c.c_custkey AS ck, n ORDER BY ck")
            sq = (f"SELECT c_custkey AS ck, (SELECT count(*) FROM "
                  f"orders o WHERE o.o_custkey = c.c_custkey AND "
                  f"({inner_sq})) AS n FROM customer c "
                  f"WHERE {outer_sq} ORDER BY ck")
        elif rnd.random() < 0.5:  # row form: no-match keeps NULL row
            cy = (f"MATCH (c:Customer) WHERE {outer_cy} "
                  f"CALL {{ WITH c OPTIONAL MATCH (c)-[:PLACED]->"
                  f"(o:Order) WHERE {inner_cy} "
                  f"RETURN o.o_orderkey AS ok }} "
                  f"RETURN c.c_custkey AS ck, ok ORDER BY ck, ok")
            sq = (f"SELECT c.c_custkey AS ck, o.o_orderkey AS ok "
                  f"FROM customer c LEFT JOIN orders o ON "
                  f"o.o_custkey = c.c_custkey AND ({inner_sq}) "
                  f"WHERE {outer_sq} ORDER BY ck, ok")
        else:  # r12: PATH VARIABLE on the optional — length(p) NULL
            cy = (f"MATCH (c:Customer) WHERE {outer_cy} "
                  f"OPTIONAL MATCH p = (c)-[:PLACED]->(o:Order) "
                  f"WHERE {inner_cy} "
                  f"RETURN c.c_custkey AS ck, o.o_orderkey AS ok, "
                  f"length(p) AS lp ORDER BY ck, ok")
            sq = (f"SELECT c.c_custkey AS ck, o.o_orderkey AS ok, "
                  f"CASE WHEN o.o_orderkey IS NULL THEN NULL ELSE 1 "
                  f"END AS lp FROM customer c LEFT JOIN orders o ON "
                  f"o.o_custkey = c.c_custkey AND ({inner_sq}) "
                  f"WHERE {outer_sq} ORDER BY ck, ok")
        return cy, sq
    if kind == 5:  # r10: relationship output aliased out of the block
        cy = (f"MATCH (c:Customer) WHERE {outer_cy} "
              f"CALL {{ WITH c MATCH (c)-[r:PLACED]->(o:Order) "
              f"WHERE {inner_cy} "
              f"RETURN r AS s, o.o_orderkey AS ok }} "
              f"RETURN c.c_custkey AS ck, ok, type(s) AS t "
              f"ORDER BY ck, ok")
        sq = (f"SELECT c.c_custkey AS ck, o.o_orderkey AS ok, "
              f"'PLACED' AS t FROM customer c JOIN orders o ON "
              f"o.o_custkey = c.c_custkey WHERE ({outer_sq}) AND "
              f"({inner_sq}) ORDER BY ck, ok")
        return cy, sq
    if kind == 6:  # r10: node variable out of UNION arms
        thr = rnd.randrange(100000, 300000, 50000)
        cy = (f"MATCH (c:Customer) WHERE {outer_cy} "
              f"CALL {{ WITH c MATCH (c)-[:PLACED]->(o:Order) "
              f"WHERE {inner_cy} RETURN o "
              f"UNION WITH c MATCH (c)-[:PLACED]->(o:Order) "
              f"WHERE o.o_totalprice > {thr} RETURN o }} "
              f"RETURN c.c_custkey AS ck, o.o_orderkey AS ok, "
              f"o.o_orderstatus AS st ORDER BY ck, ok")
        sq = (f"SELECT c.c_custkey AS ck, t.o_orderkey AS ok, "
              f"t.o_orderstatus AS st FROM customer c JOIN ("
              f"SELECT o_custkey, o_orderkey, o_orderstatus "
              f"FROM orders o WHERE {inner_sq} "
              f"UNION SELECT o_custkey, o_orderkey, o_orderstatus "
              f"FROM orders o WHERE o_totalprice > {thr}) t "
              f"ON t.o_custkey = c.c_custkey WHERE {outer_sq} "
              f"ORDER BY ck, ok")
        return cy, sq
    if kind == 7:  # r10: correlated CALL nested inside correlated CALL
        cy = (f"MATCH (c:Customer) WHERE {outer_cy} "
              f"CALL {{ WITH c MATCH (c)-[:PLACED]->(o:Order) "
              f"WHERE {inner_cy} "
              f"CALL {{ WITH o MATCH (o)-[:HAS_LINE]->(l:Lineitem) "
              f"RETURN count(*) AS nl }} "
              f"RETURN sum(nl) AS total }} "
              f"RETURN c.c_custkey AS ck, total ORDER BY ck")
        # coalesce: openCypher sum() on an empty block is 0, not NULL
        sq = (f"SELECT c.c_custkey AS ck, CAST(coalesce((SELECT "
              f"sum(cnt) FROM (SELECT (SELECT count(*) FROM lineitem "
              f"l WHERE l.l_orderkey = o.o_orderkey) AS cnt "
              f"FROM orders o WHERE o.o_custkey = c.c_custkey AND "
              f"({inner_sq}))), 0) AS BIGINT) AS total "
              f"FROM customer c WHERE {outer_sq} ORDER BY ck")
        return cy, sq
    if kind == 0:  # chained WITH + all-aggregate RETURN (left + fill)
        cy = (f"MATCH (c:Customer) WHERE {outer_cy} "
              f"CALL {{ WITH c MATCH (c)-[:PLACED]->(o:Order) "
              f"WITH o WHERE {inner_cy} RETURN count(*) AS n }} "
              f"RETURN c.c_custkey AS ck, n ORDER BY ck")
        sq = (f"SELECT c_custkey AS ck, (SELECT count(*) FROM orders o "
              f"WHERE o.o_custkey = c.c_custkey AND ({inner_sq})) AS n "
              f"FROM customer c WHERE {outer_sq} ORDER BY ck")
    elif kind == 1:  # UNWIND multiplier
        k = rnd.randrange(2, 5)
        lits = ", ".join(str(x) for x in range(k))
        cy = (f"MATCH (c:Customer) WHERE {outer_cy} "
              f"CALL {{ WITH c MATCH (c)-[:PLACED]->(o:Order) "
              f"WHERE {inner_cy} UNWIND [{lits}] AS i "
              f"RETURN count(*) AS n }} "
              f"RETURN c.c_custkey AS ck, n ORDER BY ck")
        sq = (f"SELECT c_custkey AS ck, {k} * (SELECT count(*) FROM "
              f"orders o WHERE o.o_custkey = c.c_custkey AND "
              f"({inner_sq})) AS n FROM customer c WHERE {outer_sq} "
              f"ORDER BY ck")
    elif kind == 2:  # RETURN DISTINCT rows
        cy = (f"MATCH (c:Customer) WHERE {outer_cy} "
              f"CALL {{ WITH c MATCH (c)-[:PLACED]->(o:Order) "
              f"WHERE {inner_cy} "
              f"RETURN DISTINCT o.o_orderstatus AS st }} "
              f"RETURN c.c_custkey AS ck, st ORDER BY ck, st")
        sq = (f"SELECT DISTINCT c.c_custkey AS ck, o.o_orderstatus AS "
              f"st FROM customer c JOIN orders o ON o.o_custkey = "
              f"c.c_custkey WHERE ({outer_sq}) AND ({inner_sq}) "
              f"ORDER BY ck, st")
    elif kind == 3:  # intermediate aggregating WITH -> row RETURN
        agg_cy, agg_sq = rnd.choice([
            ("max(o.o_totalprice)", "max(o_totalprice)"),
            ("min(o.o_orderkey)", "min(o_orderkey)"),
            ("count(*)", "count(*)"),
        ])
        cy = (f"MATCH (c:Customer) WHERE {outer_cy} "
              f"CALL {{ WITH c MATCH (c)-[:PLACED]->(o:Order) "
              f"WHERE {inner_cy} WITH {agg_cy} AS v RETURN v }} "
              f"RETURN c.c_custkey AS ck, v ORDER BY ck")
        sq = (f"SELECT c.c_custkey AS ck, t.v FROM customer c JOIN ("
              f"SELECT o_custkey, {agg_sq} AS v FROM orders o "
              f"WHERE {inner_sq} GROUP BY o_custkey) t "
              f"ON t.o_custkey = c.c_custkey WHERE {outer_sq} "
              f"ORDER BY ck")
    else:  # per-invocation top-N through a chained WITH
        n = rnd.randrange(1, 4)
        cy = (f"MATCH (c:Customer) WHERE {outer_cy} "
              f"CALL {{ WITH c MATCH (c)-[:PLACED]->(o:Order) "
              f"WITH o WHERE {inner_cy} "
              f"RETURN o.o_totalprice AS price ORDER BY price DESC "
              f"LIMIT {n} }} "
              f"RETURN c.c_custkey AS ck, price ORDER BY ck, price")
        sq = (f"SELECT ck, price FROM (SELECT c.c_custkey AS ck, "
              f"o.o_totalprice AS price, row_number() OVER ("
              f"PARTITION BY c.c_custkey ORDER BY o.o_totalprice DESC"
              f") AS rn FROM customer c JOIN orders o ON o.o_custkey "
              f"= c.c_custkey WHERE ({outer_sq}) AND ({inner_sq})) t "
              f"WHERE rn <= {n} ORDER BY ck, price")
    return cy, sq


def test_fuzz_correlated_call_parity(tpch, duck):
    """Random correlated CALL { } blocks across the v2 shapes must be
    row-for-row equivalent to DuckDB's correlated-subquery/window
    renderings (VERDICT r6 #2 done-criterion)."""
    rnd = random.Random(990077)
    failures = []
    for i in range(N_QUERIES):
        cy, sq = _correlated_call_query(rnd)
        try:
            assert_same(tpch.execute(cy), duck.sql(sq))
        except AssertionError as exc:
            failures.append(f"[{i}] {cy}\n  vs {sq}\n  {exc}")
    assert not failures, "\n".join(failures[:3]) + f"\n({len(failures)} total)"


def _varlen_props_query(rnd: random.Random) -> tuple[str, str]:
    """Var-length NEXT_CUST paths with per-hop property access (r9):
    the chain is c -> c+1 with hop_w = c % 7 + 1, so DuckDB rebuilds
    the k-fold joins with explicit per-hop weight columns. Modes:
    reduce-sum over relationships(p), an all() quantifier filter, and
    a filtered-size projection."""
    lo = rnd.randrange(1, 3)
    hi = rnd.randrange(lo, 4)
    cap = rnd.choice([40, 60, 80])
    thr = rnd.randrange(1, 8)
    mode = rnd.randrange(3)
    scaffold = (
        "WITH c AS (SELECT c_custkey AS k FROM customer), "
        "e AS (SELECT c1.k AS s, c1.k + 1 AS d, c1.k % 7 + 1 AS w "
        "FROM c c1 JOIN c c2 ON c2.k = c1.k + 1) ")
    arms = []
    for k in range(lo, hi + 1):
        joins = "e e1"
        for s in range(2, k + 1):
            joins += f" JOIN e e{s} ON e{s}.s = e{s - 1}.d"
        ws = [f"e{s}.w" for s in range(1, k + 1)]
        if mode == 0:
            arms.append(
                f"SELECT e1.s AS ak, e{k}.d AS bk, {k} AS hops, "
                f"{' + '.join(ws)} AS w FROM {joins}")
        elif mode == 1:
            cond = " AND ".join(f"{w} >= {thr}" for w in ws)
            arms.append(
                f"SELECT e1.s AS ak, e{k}.d AS bk, {k} AS hops "
                f"FROM {joins} WHERE {cond}")
        else:
            nf = " + ".join(f"({w} >= {thr})::INT" for w in ws)
            arms.append(
                f"SELECT e1.s AS ak, e{k}.d AS bk, {k} AS hops, "
                f"{nf} AS nf FROM {joins}")
    sq = (scaffold + "SELECT * FROM (" + " UNION ALL ".join(arms)
          + f") q WHERE ak <= {cap}")
    head = (f"MATCH p = (a:Customer)-[:NEXT_CUST*{lo}..{hi}]->"
            f"(b:Customer) WHERE a.c_custkey <= {cap}")
    if mode == 0:
        cy = (head + " RETURN a.c_custkey AS ak, b.c_custkey AS bk, "
              "length(p) AS hops, "
              "reduce(t = 0, x IN relationships(p) | t + x.hop_w) AS w")
    elif mode == 1:
        cy = (head + f" AND all(x IN relationships(p) "
              f"WHERE x.hop_w >= {thr}) "
              "RETURN a.c_custkey AS ak, b.c_custkey AS bk, "
              "length(p) AS hops")
    else:
        cy = (head + " RETURN a.c_custkey AS ak, b.c_custkey AS bk, "
              "length(p) AS hops, "
              f"size([x IN relationships(p) WHERE x.hop_w >= {thr}]) "
              "AS nf")
    return cy, sq


def test_fuzz_varlen_props_parity(tpch, duck):
    rnd = random.Random(901477)
    failures = []
    for i in range(15):
        cy, sq = _varlen_props_query(rnd)
        try:
            assert_same(tpch.execute(cy), duck.sql(sq))
        except AssertionError as exc:
            failures.append(f"[{i}] {cy}\n  vs {sq}\n  {exc}")
    assert not failures, "\n".join(failures[:3]) + f"\n({len(failures)} total)"


def _qpp_query(rnd: random.Random) -> tuple[str, str]:
    """Quantified path patterns (r13): ((x)-[:NEXT_CUST]->(y)){m,n}
    against the same k-fold DuckDB joins as the *m..n generator —
    the desugar must be observationally identical to var-length.
    Shapes: plain {m,n}, exact {k}, a per-hop WHERE equality fold,
    and a reversed-direction group."""
    lo = rnd.randrange(1, 3)
    hi = rnd.randrange(lo, 4)
    cap = rnd.choice([40, 60, 80])
    mode = rnd.randrange(4)
    scaffold = (
        "WITH c AS (SELECT c_custkey AS k FROM customer), "
        "e AS (SELECT c1.k AS s, c1.k + 1 AS d, c1.k % 7 + 1 AS w "
        "FROM c c1 JOIN c c2 ON c2.k = c1.k + 1) ")

    def arm(k, cond=""):
        joins = "e e1"
        for s in range(2, k + 1):
            joins += f" JOIN e e{s} ON e{s}.s = e{s - 1}.d"
        return (f"SELECT e1.s AS ak, e{k}.d AS bk FROM {joins}"
                + (f" WHERE {cond(k)}" if cond else ""))

    if mode == 0:  # plain range
        sq = (scaffold + "SELECT * FROM ("
              + " UNION ALL ".join(arm(k) for k in range(lo, hi + 1))
              + f") q WHERE ak <= {cap}")
        cy = (f"MATCH (a:Customer) ((x)-[:NEXT_CUST]->(y)){{{lo},{hi}}} "
              f"(b:Customer) WHERE a.c_custkey <= {cap} "
              "RETURN a.c_custkey AS ak, b.c_custkey AS bk")
    elif mode == 1:  # exact
        sq = (scaffold + f"SELECT * FROM ({arm(hi)}) q "
              f"WHERE ak <= {cap}")
        cy = (f"MATCH (a:Customer) (()-[:NEXT_CUST]->()){{{hi}}} "
              f"(b:Customer) WHERE a.c_custkey <= {cap} "
              "RETURN a.c_custkey AS ak, b.c_custkey AS bk")
    elif mode == 2:  # per-hop WHERE equality fold on hop_w
        thr = rnd.randrange(1, 8)

        def cond(k):
            return " AND ".join(f"e{s}.w = {thr}" for s in range(1, k + 1))

        sq = (scaffold + "SELECT * FROM ("
              + " UNION ALL ".join(
                  arm(k, cond) for k in range(lo, hi + 1))
              + f") q WHERE ak <= {cap}")
        cy = (f"MATCH (a:Customer) ((x)-[h:NEXT_CUST]->(y) "
              f"WHERE h.hop_w = {thr}){{{lo},{hi}}} (b:Customer) "
              f"WHERE a.c_custkey <= {cap} "
              "RETURN a.c_custkey AS ak, b.c_custkey AS bk")
    else:  # reversed direction: (a) (()<-[:R]-()){m,n} (b) == b->a walk
        sq = (scaffold + "SELECT * FROM ("
              + " UNION ALL ".join(
                  f"SELECT q.bk AS ak, q.ak AS bk FROM ({arm(k)}) q"
                  for k in range(lo, hi + 1))
              + f") q2 WHERE ak <= {cap}")
        cy = (f"MATCH (a:Customer) (()<-[:NEXT_CUST]-()){{{lo},{hi}}} "
              f"(b:Customer) WHERE a.c_custkey <= {cap} "
              "RETURN a.c_custkey AS ak, b.c_custkey AS bk")
    return cy, sq


def test_fuzz_qpp_parity(tpch, duck):
    rnd = random.Random(131175)
    failures = []
    for i in range(15):
        cy, sq = _qpp_query(rnd)
        try:
            assert_same(tpch.execute(cy), duck.sql(sq))
        except AssertionError as exc:
            failures.append(f"[{i}] {cy}\n  vs {sq}\n  {exc}")
    assert not failures, "\n".join(failures[:3]) + f"\n({len(failures)} total)"


def _slice_expr_query(rnd: random.Random) -> tuple[str, str]:
    """List slicing / indexing expression shapes (r13): random
    bounds (incl. negative, open, clamping, reversed) over a per-row
    split() list; DuckDB's 1-based-inclusive [b:e] is the oracle."""
    cap = rnd.choice([100, 200])
    f = rnd.randrange(-3, 4)
    t = rnd.randrange(-3, 5)
    form = rnd.randrange(4)
    # openCypher 0-based end-exclusive -> DuckDB 1-based inclusive:
    # begin = f+1 for f >= 0 else f (negatives align), end = t for
    # t > 0, t-1 for t < 0; t == 0 (empty) -> use begin > end
    db = f + 1 if f >= 0 else f

    def d_end(tt):
        return tt if tt > 0 else (tt - 1 if tt < 0 else 0)

    if form == 0:
        cy_ix, sq_ix = f"[{f}..{t}]", f"[{db}:{d_end(t)}]"
        if t == 0:  # 0-exclusive end = empty list; DuckDB: b>e empty
            sq_ix = "[2:1]"
    elif form == 1:
        cy_ix, sq_ix = f"[{f}..]", f"[{db}:]"
    elif form == 2:
        cy_ix, sq_ix = f"[..{t}]", f"[:{d_end(t)}]"
        if t == 0:
            sq_ix = "[2:1]"
    else:
        cy_ix, sq_ix = f"[..]", "[:]"
    cy = (f"MATCH (c:Customer) WHERE c.c_custkey <= {cap} "
          f"RETURN c.c_custkey AS k, "
          f"split(c.c_name, '0'){cy_ix} AS part")
    sq = (f"SELECT c_custkey AS k, "
          f"string_split(c_name, '0'){sq_ix} AS part "
          f"FROM customer WHERE c_custkey <= {cap}")
    return cy, sq


def test_fuzz_slice_parity(tpch, duck):
    rnd = random.Random(424213)
    failures = []
    for i in range(20):
        cy, sq = _slice_expr_query(rnd)
        try:
            assert_same(tpch.execute(cy), duck.sql(sq))
        except AssertionError as exc:
            failures.append(f"[{i}] {cy}\n  vs {sq}\n  {exc}")
    assert not failures, "\n".join(failures[:3]) + f"\n({len(failures)} total)"
