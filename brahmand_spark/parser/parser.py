"""Recursive-descent parser for the openCypher subset.

Clause surface matches the reference parser (open_cypher_parser/mod.rs:35-94):
MATCH / WHERE / WITH / RETURN / ORDER BY / SKIP / LIMIT plus both CREATE
TABLE DDL forms, and parse-only CREATE/SET/REMOVE/DELETE write clauses.
Operator precedence follows expression.rs:102-223 (postfix -> unary NOT ->
binary -> AND -> OR), extended with standard arithmetic tiers.

Upgrades over the reference: WITH pipelines are retained in the AST (the
reference drops them at planning), UNWIND, CASE, OPTIONAL MATCH, string
predicates (STARTS WITH / ENDS WITH / CONTAINS), variable-length rels.
"""

from __future__ import annotations

from typing import Optional

from ..errors import ParseError
from . import ast
from .lexer import Token, tokenize


class Parser:
    def __init__(self, text: str):
        self.text = text
        self.tokens = tokenize(text)
        self.i = 0
        # COUNT { ... } subqueries seen so far — parse_read_query
        # snapshots this to flag each ReadQuery (compiler fast path)
        self.n_count_subqueries = 0

    # -- token helpers -----------------------------------------------------
    def peek(self, ahead: int = 0) -> Token:
        return self.tokens[min(self.i + ahead, len(self.tokens) - 1)]

    def next(self) -> Token:
        tok = self.tokens[self.i]
        if tok.kind != "EOF":
            self.i += 1
        return tok

    def at_kw(self, *kws: str) -> bool:
        tok = self.peek()
        return tok.kind == "KEYWORD" and tok.value in kws

    def at_op(self, *ops: str) -> bool:
        tok = self.peek()
        return tok.kind == "OP" and tok.value in ops

    def eat_kw(self, kw: str) -> Token:
        if not self.at_kw(kw):
            self.error(f"expected {kw}")
        return self.next()

    def eat_op(self, op: str) -> Token:
        if not self.at_op(op):
            self.error(f"expected '{op}'")
        return self.next()

    def try_kw(self, *kws: str) -> bool:
        if self.at_kw(*kws):
            self.next()
            return True
        return False

    def try_op(self, op: str) -> bool:
        if self.at_op(op):
            self.next()
            return True
        return False

    def ident(self) -> str:
        tok = self.peek()
        # Allow non-reserved use of soft keywords as identifiers where
        # unambiguous (e.g. a column named `key`).
        if tok.kind == "IDENT":
            return self.next().value
        if tok.kind == "KEYWORD" and tok.value in {
            "NODE", "REL", "TABLE", "KEY", "FROM", "TO", "ALL", "END",
            "ORDER", "BY", "SKIP", "LIMIT", "SET", "DEFAULT", "CASE",
            "EXPLAIN", "PROFILE", "FOREACH",
        }:
            # Soft keywords: usable as labels/aliases where an identifier
            # is demanded (e.g. a node label named `Order`). Original
            # casing comes from the source text.
            self.next()
            return self.text[tok.pos:tok.pos + len(tok.value)]
        self.error("expected identifier")

    def error(self, msg: str):
        tok = self.peek()
        got = tok.value or "<eof>"
        raise ParseError(f"{msg}, got {got!r}", tok.pos, self.text)

    def _reject_foreach(self):
        """Statement-initial / read-position FOREACH has nothing to
        mutate (our executable subset needs MATCH-bound rows or a
        nodes(<path>) list). Reject with the working recipe instead of
        a bare syntax error."""
        self.error(
            "FOREACH here is not supported — the executable form is "
            "MATCH ... FOREACH (x IN <list> | SET .../DELETE x) under "
            "GraphSession(allow_writes=True); other shapes rewrite as "
            "UNWIND <list> AS x ... SET/DELETE")

    # -- entry -------------------------------------------------------------
    def parse_statement(self) -> ast.Statement:
        stmt = self._parse_statement_inner()
        self.try_op(";")
        if self.peek().kind != "EOF":
            self.error("unexpected trailing input")
        return stmt

    def _parse_statement_inner(self) -> ast.Statement:
        if self.at_kw("EXPLAIN", "PROFILE"):
            return self.parse_explain()
        if self.at_kw("CREATE"):
            nxt = self.peek(1)
            if nxt.kind == "KEYWORD" and nxt.value == "NODE":
                return self.parse_create_node_table()
            if nxt.kind == "KEYWORD" and nxt.value == "REL":
                return self.parse_create_rel_table()
            return self.parse_write_query()
        if self.at_kw("MERGE"):
            return self.parse_write_query()
        if self.at_kw("CALL"):
            # `CALL { ... }` is a subquery inside a read query;
            # `CALL name(...)` is a procedure invocation.
            nxt = self.peek(1)
            if nxt.kind == "OP" and nxt.value in ("{", "("):
                # `CALL { }` / `CALL (scope) { }` subquery head
                return self.parse_read_query()
            return self.parse_call()
        if self.at_kw("FOREACH"):
            self._reject_foreach()
        tok = self.peek()
        if (tok.kind == "IDENT" and tok.value.upper() == "LOAD"
                and self.peek(1).kind == "IDENT"
                and self.peek(1).value.upper() == "CSV"):
            return self.parse_load_csv()
        if self.at_kw("MATCH", "OPTIONAL", "UNWIND", "WITH", "RETURN"):
            # Peek ahead: a MATCH followed by SET/DELETE/REMOVE/CREATE is a
            # write query (query_planner/mod.rs:21-31 classification).
            if self._scan_is_write():
                return self.parse_write_query()
            return self.parse_read_query()
        self.error("expected MATCH, UNWIND, WITH, RETURN, CALL, or CREATE")

    def parse_load_csv(self) -> "ast.LoadCsv":
        """``LOAD CSV [WITH HEADERS] FROM '<path>' AS var
        [FIELDTERMINATOR '<c>'] <statement>`` (r12 extension). LOAD/
        CSV/HEADERS/FIELDTERMINATOR stay soft (plain identifiers
        elsewhere); the trailing statement is any read or write
        query, with ``var`` pre-bound per csv row."""
        self.next()  # LOAD
        self.next()  # CSV
        with_headers = False
        if self.at_kw("WITH"):
            self.next()
            nxt = self.next()
            if nxt.value.upper() != "HEADERS":
                self.error("expected HEADERS after LOAD CSV WITH")
            with_headers = True
        self.eat_kw("FROM")
        tok = self.peek()
        if tok.kind != "STRING":
            self.error("LOAD CSV FROM needs a quoted file path")
        path = self.next().value
        self.eat_kw("AS")
        var = self.ident()
        sep = None
        nxt = self.peek()
        if (nxt.kind == "IDENT"
                and nxt.value.upper() == "FIELDTERMINATOR"):
            self.next()
            t = self.peek()
            if t.kind != "STRING":
                self.error("FIELDTERMINATOR needs a quoted character")
            sep = self.next().value
        inner = self._parse_statement_inner()
        if not isinstance(inner, (ast.ReadQuery, ast.WriteQuery)):
            self.error(
                "LOAD CSV must be followed by a read or write query")
        return ast.LoadCsv(path=path, var=var,
                           with_headers=with_headers, sep=sep,
                           statement=inner)

    def parse_explain(self) -> ast.ExplainQuery:
        """``EXPLAIN [COST|FORMATTED|EXTENDED|CODEGEN] <stmt>`` or
        ``PROFILE <stmt>``. The mode word is a plain identifier (not a
        reserved keyword) so columns named ``cost`` stay usable."""
        profile = self.peek().value == "PROFILE"
        self.next()
        mode = "formatted"
        tok = self.peek()
        if not profile and tok.kind == "IDENT" and tok.value.upper() in {
            "COST", "FORMATTED", "EXTENDED", "CODEGEN",
        }:
            mode = self.next().value.lower()
        inner = self._parse_statement_inner()
        if isinstance(inner, ast.ExplainQuery):
            self.error("nested EXPLAIN")
        return ast.ExplainQuery(statement=inner, mode=mode,
                                profile=profile)

    def _proc_ident(self) -> str:
        """A dotted-procedure-name segment: the position is
        unambiguous (right after CALL or '.'), so ANY keyword is
        usable — `corpus.dedup_remove` must not trip on REMOVE,
        `vector.remove`/`...delete`/`...create` likewise."""
        tok = self.peek()
        if tok.kind == "KEYWORD":
            self.next()
            return self.text[tok.pos:tok.pos + len(tok.value)]
        return self.ident()

    def parse_call(self) -> ast.CallProcedure:
        """CALL dotted.name(arg, ...) [YIELD col [AS a], ...]
        [WHERE expr] [ORDER BY ...] [SKIP n] [LIMIT n]"""
        self.eat_kw("CALL")
        name_parts = [self._proc_ident()]
        while self.try_op("."):
            name_parts.append(self._proc_ident())
        name = ".".join(name_parts)
        self.eat_op("(")
        args: list = []
        if not self.at_op(")"):
            while True:
                args.append(self.parse_expr())
                if not self.try_op(","):
                    break
        self.eat_op(")")
        yields: list[ast.ReturnItem] = []
        if self.try_kw("YIELD"):
            while True:
                col = self.ident()
                alias = self.ident() if self.try_kw("AS") else None
                yields.append(ast.ReturnItem(ast.Variable(col), alias))
                if not self.try_op(","):
                    break
        where = self.parse_expr() if self.try_kw("WHERE") else None
        order_by, skip, limit = self.parse_modifiers()
        return ast.CallProcedure(
            name=name, args=args, yields=yields, where=where,
            order_by=order_by, skip=skip, limit=limit,
        )

    def _scan_is_write(self) -> bool:
        depth = 0
        for j, tok in enumerate(self.tokens[self.i:], start=self.i):
            if tok.kind == "OP" and tok.value in "([{":
                depth += 1
            elif tok.kind == "OP" and tok.value in ")]}":
                depth -= 1
            elif tok.kind == "KEYWORD" and depth == 0 and tok.value in {
                "SET", "REMOVE", "DETACH", "CREATE", "MERGE",
            }:
                return True
            elif (tok.kind == "KEYWORD" and depth == 0
                  and tok.value == "FOREACH"
                  and j + 1 < len(self.tokens)
                  and self.tokens[j + 1].kind == "OP"
                  and self.tokens[j + 1].value == "("):
                # FOREACH is a soft keyword: only `FOREACH (` at clause
                # depth means the write clause (an alias/property named
                # foreach stays a read)
                return True
            elif tok.kind == "KEYWORD" and depth == 0 and tok.value == "DELETE":
                return True
            elif (tok.kind == "IDENT" and depth == 0
                  and tok.value.upper() == "TRANSACTIONS"
                  and self._brace_in_precedes(j)):
                # `} IN [<n>] [CONCURRENT] TRANSACTIONS` tail of
                # CALL { <writes> } IN TRANSACTIONS: the write
                # keywords hide at brace depth 1, but this marker sits
                # at depth 0. The full context back to `} IN` is
                # required — a bare identifier `transactions` (a
                # column, an alias, a list variable in `x IN
                # transactions`) must NOT reroute a read query into
                # the write parser (r9 review).
                return True
        return False

    def _brace_in_precedes(self, j: int) -> bool:
        """True when tokens[j] (TRANSACTIONS) is preceded by
        ``} IN`` with optionally ``<n>`` and/or ``CONCURRENT`` in
        between — the r11 concurrent grammar."""
        k = j - 1
        if (k >= 0 and self.tokens[k].kind == "IDENT"
                and self.tokens[k].value.upper() == "CONCURRENT"):
            k -= 1
        if k >= 0 and self.tokens[k].kind == "INT":
            k -= 1
        return (k >= 1
                and self.tokens[k].kind == "KEYWORD"
                and self.tokens[k].value == "IN"
                and self.tokens[k - 1].kind == "OP"
                and self.tokens[k - 1].value == "}")

    # -- read query --------------------------------------------------------
    def parse_read_query(self) -> ast.ReadQuery:
        parts: list[ast.QueryPart] = []
        cur = ast.QueryPart()
        query = ast.ReadQuery(parts=parts)
        csq_before = self.n_count_subqueries
        while True:
            if self.at_kw("MATCH") or (
                self.at_kw("OPTIONAL") and self.peek(1).value == "MATCH"
            ):
                cur.matches.append(self.parse_match())
            elif self.at_kw("UNWIND"):
                if cur.unwind is not None:
                    # Start a new part so each part has at most one UNWIND.
                    parts.append(cur)
                    cur = ast.QueryPart()
                self.next()
                expr = self.parse_expr()
                self.eat_kw("AS")
                cur.unwind = ast.UnwindClause(expr=expr, alias=self.ident())
            elif (self.at_kw("CALL") and self.peek(1).kind == "OP"
                  and self.peek(1).value in ("{", "(")) or (
                      self.at_kw("OPTIONAL")
                      and self.peek(1).kind == "KEYWORD"
                      and self.peek(1).value == "CALL"
                      and self.peek(2).kind == "OP"
                      and self.peek(2).value in ("{", "(")):
                # [OPTIONAL] CALL [(scope)] { <read query> } subquery
                # (extension; the reference has no CALL at all,
                # ast.rs:5-20). Uncorrelated form: the inner query
                # references no outer variables, its RETURN columns
                # join per-row (cartesian). OPTIONAL (openCypher 5)
                # preserves match-less outer rows NULL-filled. The
                # VARIABLE SCOPE CLAUSE (openCypher 25, r12) —
                # `CALL (a, b) { }` / `CALL (*) { }` / `CALL () { }` —
                # desugars to the import-WITH form: an explicit list
                # prepends `WITH a, b`, `(*)` marks the subquery to
                # import every in-scope graph variable at compile
                # time, `()` imports nothing (uncorrelated).
                optional = self.try_kw("OPTIONAL")
                self.next()  # CALL
                scope_all = False
                scope_vars: list[str] = []
                if self.try_op("("):
                    if self.try_op("*"):
                        scope_all = True
                    elif not self.at_op(")"):
                        while True:
                            scope_vars.append(self.ident())
                            if not self.try_op(","):
                                break
                    self.eat_op(")")
                self.eat_op("{")
                inner = self.parse_read_query()
                self.eat_op("}")
                if inner.return_clause is None:
                    self.error("CALL { } subquery must end with RETURN")
                if scope_vars:
                    inner.parts.insert(0, ast.QueryPart(
                        with_clause=ast.WithClause(items=[
                            ast.ReturnItem(ast.Variable(v))
                            for v in scope_vars])))
                cur.calls.append(
                    ast.CallSubquery(inner, optional=optional,
                                     scope_all=scope_all))
            elif self.at_kw("FOREACH"):
                self._reject_foreach()
            elif self.at_kw("WHERE"):
                self.next()
                pred = self.parse_expr()
                # WHERE directly after an OPTIONAL MATCH filters the
                # optional pattern (Cypher semantics); otherwise it's a
                # part-level filter (equivalent for inner matches).
                if cur.matches and cur.matches[-1].optional \
                        and cur.matches[-1].where is None:
                    cur.matches[-1].where = pred
                else:
                    cur.where = (
                        pred if cur.where is None
                        else ast.Binary("AND", cur.where, pred)
                    )
            elif self.at_kw("WITH"):
                self.next()
                distinct = self.try_kw("DISTINCT")
                items = self.parse_return_items()
                cur.with_clause = ast.WithClause(items=items, distinct=distinct)
                cur.order_by, cur.skip, cur.limit = self.parse_modifiers()
                parts.append(cur)
                cur = ast.QueryPart()
            elif self.at_kw("RETURN"):
                self.next()
                distinct = self.try_kw("DISTINCT")
                items = self.parse_return_items()
                query.return_clause = ast.ReturnClause(items, distinct=distinct)
                query.order_by, query.skip, query.limit = self.parse_modifiers()
                parts.append(cur)
                while self.at_kw("UNION"):
                    self.next()
                    union_all = self.try_kw("ALL")
                    query.unions.append(
                        (self.parse_read_query(), not union_all)
                    )
                query.has_count_subquery = (
                    self.n_count_subqueries > csq_before)
                return query
            else:
                self.error("expected MATCH, UNWIND, WHERE, WITH, or RETURN")

    def parse_modifiers(self):
        order_by: list[ast.OrderByItem] = []
        skip = limit = None
        if self.try_kw("ORDER"):
            self.eat_kw("BY")
            while True:
                expr = self.parse_expr()
                asc = True
                if self.try_kw("DESC") or self.try_kw("DESCENDING"):
                    asc = False
                else:
                    self.try_kw("ASC") or self.try_kw("ASCENDING")
                order_by.append(ast.OrderByItem(expr, asc))
                if not self.try_op(","):
                    break
        if self.try_kw("SKIP"):
            skip = self.int_literal()
        if self.try_kw("LIMIT"):
            limit = self.int_literal()
        return order_by, skip, limit

    def int_literal(self) -> int:
        tok = self.peek()
        if tok.kind != "INT":
            self.error("expected integer literal")
        self.next()
        return int(tok.value)

    def parse_return_items(self) -> list[ast.ReturnItem]:
        items = []
        while True:
            if self.at_op("*"):
                self.next()
                items.append(ast.ReturnItem(ast.Star()))
            else:
                expr = self.parse_expr()
                alias = self.ident() if self.try_kw("AS") else None
                items.append(ast.ReturnItem(expr, alias))
            if not self.try_op(","):
                return items

    # -- patterns ----------------------------------------------------------
    def parse_match(self) -> ast.MatchClause:
        optional = self.try_kw("OPTIONAL")
        self.eat_kw("MATCH")
        paths = [self.parse_path()]
        while self.try_op(","):
            paths.append(self.parse_path())
        return ast.MatchClause(paths=paths, optional=optional)

    def parse_path(self) -> ast.PathPattern:
        # Path variable `p = (...)` (extension; the reference has none).
        var = None
        if (self.peek().kind == "IDENT"
                and self.peek(1).kind == "OP" and self.peek(1).value == "="):
            var = self.ident()
            self.eat_op("=")
        # shortestPath((a)-[:T*..k]->(b)) / allShortestPaths(...)
        shortest = None
        if (self.peek().kind == "IDENT"
                and self.peek().value.lower() in (
                    "shortestpath", "allshortestpaths")
                and self.peek(1).kind == "OP" and self.peek(1).value == "("):
            shortest = ("single"
                        if self.next().value.lower() == "shortestpath"
                        else "all")
            self.eat_op("(")
        # Leading quantified group `MATCH ((x)-[:R]->(y)){1,3} ...`
        # gets an anonymous left endpoint (r13, VERDICT r12 missing
        # #4 — quantified path patterns, openCypher 25 / GQL).
        if self._at_qpp_group():
            nodes = [ast.NodePattern(alias=None, label=None)]
        else:
            nodes = [self.parse_node_pattern()]
        rels: list[ast.RelPattern] = []
        while self.at_op("-", "<") or self._at_qpp_group():
            if self._at_qpp_group():
                rels.append(self.parse_qpp_group())
                # juxtaposed node after the group, an anonymous JOINT
                # node when the NEXT group follows immediately (r14,
                # ADVICE r13: chained groups — the rewrite the
                # multi-relationship error message recommends — used
                # to die in parse_node_pattern on the next '(('), or
                # an anonymous endpoint when the group ends the
                # pattern
                if self._at_qpp_group():
                    nodes.append(ast.NodePattern(alias=None, label=None))
                elif self.at_op("("):
                    nodes.append(self.parse_node_pattern())
                else:
                    nodes.append(ast.NodePattern(alias=None, label=None))
            else:
                rels.append(self.parse_rel_pattern())
                nodes.append(self.parse_node_pattern())
        if shortest is not None:
            self.eat_op(")")
        return ast.PathPattern(
            nodes=nodes, rels=rels, var=var, shortest=shortest
        )

    def _at_qpp_group(self) -> bool:
        """`((` starts a parenthesized (quantified) path group — a
        node pattern can never open with a second '('."""
        return (self.at_op("(") and self.peek(1).kind == "OP"
                and self.peek(1).value == "(")

    def parse_qpp_group(self) -> ast.RelPattern:
        """Quantified path pattern (r13, openCypher 25 / GQL):
        ``((x)-[r:T {k:v}]->(y) [WHERE pred]){m,n}`` — also ``{n}``,
        ``{m,}``, ``{,n}``, ``*`` and ``+``. Desugared at parse time
        to the engine's var-length relationship ``-[r:T*m..n]->``:
        single-rel groups repeat one edge traversal, which is exactly
        what *m..n compiles to (compile/compiler.py _var_length_df),
        so the quantified form inherits per-hop property-map
        filtering, relationship-uniqueness, multi-type arms, the cost
        guard, and zero-length lower bounds (``*`` / ``{0,n}`` —
        identity rows over the shared endpoint label, r13).

        Loudly rejected (genuinely new shapes the var-length
        machinery cannot express): multi-relationship groups, nested
        quantifiers, inner node labels/property maps (group nodes are
        every INTERMEDIATE node of the walk — put predicates on the
        outer endpoints), and WHERE predicates that are not per-hop
        relationship property equalities."""
        self.eat_op("(")
        inner_nodes = [self.parse_node_pattern()]
        inner_rels: list[ast.RelPattern] = []
        while self.at_op("-", "<"):
            inner_rels.append(self.parse_rel_pattern())
            inner_nodes.append(self.parse_node_pattern())
        where = self.parse_expr() if self.try_kw("WHERE") else None
        self.eat_op(")")
        if len(inner_rels) != 1:
            self.error(
                "quantified path patterns support exactly one "
                "relationship per group — ((x)-[:R]->(y)){m,n}; "
                "repeat a multi-relationship walk as consecutive "
                "quantified groups instead")
        rel = inner_rels[0]
        if rel.min_hops != 1 or rel.max_hops != 1:
            self.error("nested quantifier inside a quantified "
                       "path pattern")
        for np in inner_nodes:
            if np.label is not None or np.properties:
                self.error(
                    "inner node labels/property maps in a quantified "
                    "path pattern are not supported (group nodes are "
                    "the walk's intermediate nodes) — put the "
                    "predicate on the outer endpoints: "
                    "(a:L) ((x)-[:R]->(y)){1,3} (b:L)")
        # quantifier ( * / + / {n} / {m,n} / {m,} / {,n} — zero-length
        # lower bounds desugar to *0..n, r13 compile/compiler.py
        # _zero_hop_rows)
        if self.try_op("+"):
            mn, mx = 1, None
        elif self.try_op("*"):
            mn, mx = 0, None
        elif self.try_op("{"):
            if self.try_op(","):  # {,n} = 0..n
                mn, mx = 0, self.int_literal()
            else:
                mn = self.int_literal()
                if self.try_op(","):
                    mx = (self.int_literal()
                          if self.peek().kind == "INT" else None)
                else:
                    mx = mn
            self.eat_op("}")
        else:
            self.error(
                "a parenthesized path pattern needs a quantifier: "
                "((x)-[:R]->(y)){m,n} / {n} / * / +")
        props = dict(rel.properties)
        if where is not None:
            for pred in self._flatten_and(where):
                key, val = self._qpp_rel_equality(pred, rel.alias)
                props[key] = val
        return ast.RelPattern(
            alias=rel.alias, type_name=rel.type_name,
            direction=rel.direction, properties=props,
            min_hops=mn, max_hops=mx,
            alt_types=tuple(rel.alt_types))

    def _flatten_and(self, e: ast.Expr) -> list:
        if isinstance(e, ast.Binary) and e.op == "AND":
            return self._flatten_and(e.left) + self._flatten_and(e.right)
        return [e]

    def _qpp_rel_equality(self, pred, rel_alias):
        """A QPP WHERE predicate folds into the per-hop property map
        only as `r.prop = <variable-free expr>` on the group's own
        relationship; everything else is a genuinely new shape —
        reject loudly (VERDICT r12 #3 guidance)."""
        ok = (isinstance(pred, ast.Binary) and pred.op == "="
              and isinstance(pred.left, ast.PropertyAccess)
              and rel_alias is not None
              and pred.left.alias == rel_alias
              and self._const_expr(pred.right))
        if not ok:
            self.error(
                "a WHERE inside a quantified path pattern must be a "
                "conjunction of per-hop relationship property "
                "equalities (r.prop = <constant>) on the group's own "
                "relationship — other predicates are applied per "
                "intermediate hop, which the variable-length "
                "machinery does not express; filter the outer "
                "endpoints instead")
        return pred.left.key, pred.right

    def _const_expr(self, e) -> bool:
        """Variable-free expression (literals, parameters, operators,
        function calls over those) — safe to fold per hop."""
        import dataclasses

        if isinstance(e, (ast.Variable, ast.PropertyAccess)):
            return False
        if not dataclasses.is_dataclass(e):
            return not isinstance(e, (list, tuple)) or all(
                self._const_expr(x) for x in e)
        return all(
            self._const_expr(getattr(e, f.name))
            for f in dataclasses.fields(e))

    def parse_node_pattern(self) -> ast.NodePattern:
        self.eat_op("(")
        alias = None
        label = None
        props: dict[str, ast.Expr] = {}
        if self.peek().kind == "IDENT":
            alias = self.ident()
        if self.try_op(":"):
            label = self.ident()
        if self.at_op("{"):
            props = self.parse_property_map()
        self.eat_op(")")
        return ast.NodePattern(alias=alias, label=label, properties=props)

    def parse_rel_pattern(self) -> ast.RelPattern:
        leading_in = self.try_op("<")
        self.eat_op("-")
        alias = None
        type_name = None
        alt_types: list[str] = []
        props: dict[str, ast.Expr] = {}
        min_hops = max_hops = 1
        if self.try_op("["):
            if self.peek().kind == "IDENT" and not self.at_op(":"):
                alias = self.ident()
            if self.try_op(":"):
                type_name = self.ident()
                while self.try_op("|"):  # multi-type -[:X|Y]->
                    self.try_op(":")  # tolerate legacy |:Y form
                    alt_types.append(self.ident())
            if self.try_op("*"):
                # Unbounded * / *n.. stays a sentinel (max_hops=None)
                # in the AST; the compiler resolves it to its own
                # max_var_hops so GraphSession(max_var_hops=...)
                # applies to unbounded walks too.
                min_hops, max_hops = 1, None
                if self.peek().kind == "INT":
                    min_hops = self.int_literal()
                    max_hops = min_hops
                if self.try_op(".."):
                    max_hops = (
                        self.int_literal()
                        if self.peek().kind == "INT" else None
                    )
            if self.at_op("{"):
                props = self.parse_property_map()
            self.eat_op("]")
        self.eat_op("-")
        trailing_out = self.try_op(">")
        if leading_in and trailing_out:
            direction = "either"
        elif leading_in:
            direction = "in"
        elif trailing_out:
            direction = "out"
        else:
            direction = "either"
        return ast.RelPattern(
            alias=alias, type_name=type_name, direction=direction,
            properties=props, min_hops=min_hops, max_hops=max_hops,
            alt_types=tuple(alt_types),
        )

    def parse_property_map(self) -> dict[str, ast.Expr]:
        self.eat_op("{")
        props: dict[str, ast.Expr] = {}
        if not self.at_op("}"):
            while True:
                key = self.ident()
                self.eat_op(":")
                props[key] = self.parse_expr()
                if not self.try_op(","):
                    break
        self.eat_op("}")
        return props

    # -- expressions (precedence per expression.rs:102-223) ----------------
    def parse_expr(self) -> ast.Expr:
        return self.parse_or()

    def parse_or(self) -> ast.Expr:
        left = self.parse_xor()
        while self.at_kw("OR"):
            self.next()
            left = ast.Binary("OR", left, self.parse_xor())
        return left

    def parse_xor(self) -> ast.Expr:
        left = self.parse_and()
        while self.at_kw("XOR"):
            self.next()
            left = ast.Binary("XOR", left, self.parse_and())
        return left

    def parse_and(self) -> ast.Expr:
        left = self.parse_not()
        while self.at_kw("AND"):
            self.next()
            left = ast.Binary("AND", left, self.parse_not())
        return left

    def parse_not(self) -> ast.Expr:
        if self.at_kw("NOT"):
            self.next()
            return ast.Unary("NOT", self.parse_not())
        return self.parse_comparison()

    def parse_comparison(self) -> ast.Expr:
        left = self.parse_additive()
        while True:
            if self.at_op("=", "<>", "!=", "<", ">", "<=", ">="):
                op = self.next().value
                if op == "!=":
                    op = "<>"
                left = ast.Binary(op, left, self.parse_additive())
            elif self.at_kw("IN"):
                self.next()
                left = ast.Binary("IN", left, self.parse_additive())
            elif self.at_kw("NOT") and self.peek(1).value == "IN":
                self.next(); self.next()
                left = ast.Binary("NOT_IN", left, self.parse_additive())
            elif self.at_kw("IS"):
                self.next()
                negated = self.try_kw("NOT")
                self.eat_kw("NULL")
                left = ast.IsNull(left, negated=negated)
            elif self.at_kw("STARTS"):
                self.next(); self.eat_kw("WITH")
                left = ast.Binary("STARTS_WITH", left, self.parse_additive())
            elif self.at_kw("ENDS"):
                self.next(); self.eat_kw("WITH")
                left = ast.Binary("ENDS_WITH", left, self.parse_additive())
            elif self.at_kw("CONTAINS"):
                self.next()
                left = ast.Binary("CONTAINS", left, self.parse_additive())
            elif self.at_op("=~"):
                self.next()
                left = ast.Binary("REGEX", left, self.parse_additive())
            else:
                return left

    def parse_additive(self) -> ast.Expr:
        left = self.parse_multiplicative()
        while self.at_op("+", "-"):
            op = self.next().value
            left = ast.Binary(op, left, self.parse_multiplicative())
        return left

    def parse_multiplicative(self) -> ast.Expr:
        left = self.parse_power()
        while self.at_op("*", "/", "%"):
            op = self.next().value
            left = ast.Binary(op, left, self.parse_power())
        return left

    def parse_power(self) -> ast.Expr:
        base = self.parse_unary()
        if self.at_op("^"):  # right-associative
            self.next()
            return ast.Binary("^", base, self.parse_power())
        return base

    def parse_unary(self) -> ast.Expr:
        if self.at_op("-"):
            self.next()
            return ast.Unary("-", self.parse_unary())
        if self.at_op("+"):
            self.next()
            return self.parse_unary()
        return self.parse_postfix()

    def parse_postfix(self) -> ast.Expr:
        expr = self.parse_primary()
        while True:
            if self.at_op(".") :
                self.next()
                key = self.ident()
                if isinstance(expr, ast.Variable):
                    expr = ast.PropertyAccess(alias=expr.name, key=key)
                else:
                    # chained access (r11): `n.ts.year` / `m.a.b` —
                    # field access on an arbitrary base expression;
                    # resolved at compile time as a temporal accessor
                    # (catalog-typed property) or struct field
                    expr = ast.FnCall("__field", (expr, ast.Literal(key)))
            elif self.at_op("["):
                # list index `xs[i]` (desugars to element_at(xs, i+1))
                # or list slice `xs[f..t]` (r13, VERDICT r12 missing
                # #2) — openCypher 0-based end-exclusive, open ends
                # `xs[..t]` / `xs[f..]` / `xs[..]`, negative bounds
                # count from the end. A missing bound is encoded as
                # Literal 0 / INT32-max — the compiler clamps both
                # into [0, size] (compile/functions.py __slice).
                self.next()
                if self.try_op(".."):
                    lo: ast.Expr = ast.Literal(0)
                    hi = (ast.Literal(2147483647) if self.at_op("]")
                          else self.parse_expr())
                    self.eat_op("]")
                    expr = ast.FnCall("__slice", (expr, lo, hi))
                    continue
                idx = self.parse_expr()
                if self.try_op(".."):
                    hi = (ast.Literal(2147483647) if self.at_op("]")
                          else self.parse_expr())
                    self.eat_op("]")
                    expr = ast.FnCall("__slice", (expr, idx, hi))
                else:
                    self.eat_op("]")
                    expr = ast.FnCall("__index", (expr, idx))
            elif self.at_op("{") and isinstance(expr, ast.Variable):
                # map projection `n {.prop, .*, key: expr, var}` (r7)
                expr = self.parse_map_projection(expr.name)
            else:
                return expr

    def parse_map_projection(self, alias: str) -> "ast.MapProjection":
        self.eat_op("{")
        entries = []
        while not self.at_op("}"):
            if self.try_op("."):
                if self.try_op("*"):
                    entries.append(("all", None))
                else:
                    entries.append(("prop", self.ident()))
            else:
                name = self.ident()
                if self.try_op(":"):
                    entries.append(("kv", (name, self.parse_expr())))
                else:
                    entries.append(("var", name))
            if not self.try_op(","):
                break
        self.eat_op("}")
        if not entries:
            self.error("empty map projection { }")
        return ast.MapProjection(alias=alias, entries=tuple(entries))

    def parse_primary(self) -> ast.Expr:
        tok = self.peek()
        if tok.kind == "INT":
            self.next()
            return ast.Literal(int(tok.value))
        if tok.kind == "FLOAT":
            self.next()
            return ast.Literal(float(tok.value))
        if tok.kind == "STRING":
            self.next()
            return ast.Literal(tok.value)
        if self.at_kw("TRUE"):
            self.next()
            return ast.Literal(True)
        if self.at_kw("FALSE"):
            self.next()
            return ast.Literal(False)
        if self.at_kw("NULL"):
            self.next()
            return ast.Literal(None)
        if self.at_kw("CASE"):
            return self.parse_case()
        if self.at_op("$"):
            self.next()
            return ast.Parameter(self.ident())
        if self.at_op("["):
            self.next()
            # Pattern comprehension `[ (a)-[:T]->(b) [WHERE p] | e ]`:
            # try the path parse with backtracking — only a path with
            # >= 1 relationship followed by WHERE or | counts (a bare
            # parenthesized expression falls through to the literal).
            if self.at_op("("):
                save = self.i
                try:
                    path = self.parse_path()
                    if path.rels and (self.at_kw("WHERE")
                                      or self.at_op("|")):
                        if path.var is not None or path.shortest:
                            self.error("path variables/shortestPath "
                                       "in a pattern comprehension")
                        where = (self.parse_expr()
                                 if self.try_kw("WHERE") else None)
                        self.eat_op("|")
                        mapper = self.parse_expr()
                        self.eat_op("]")
                        # rides the COUNT{} rewrite fast-path flag
                        self.n_count_subqueries += 1
                        return ast.PatternComprehension(
                            path=path, where=where, map=mapper)
                    self.i = save
                except ParseError:
                    self.i = save
            # List comprehension `[x IN source ...]` vs list literal.
            if (self.peek().kind == "IDENT"
                    and self.peek(1).kind == "KEYWORD"
                    and self.peek(1).value == "IN"):
                var = self.ident()
                self.next()  # IN
                source = self.parse_expr()
                where = self.parse_expr() if self.try_kw("WHERE") else None
                mapper = self.parse_expr() if self.try_op("|") else None
                self.eat_op("]")
                return ast.ListComprehension(
                    var=var, source=source, where=where, map=mapper
                )
            items = []
            if not self.at_op("]"):
                while True:
                    items.append(self.parse_expr())
                    if not self.try_op(","):
                        break
            self.eat_op("]")
            return ast.ListLiteral(tuple(items))
        if self.at_op("{"):
            # map literal `{k: expr, ...}` (r7; keys are idents or
            # strings). `{` only reaches primary OUTSIDE node patterns
            # and EXISTS/COUNT blocks, so this is unambiguous.
            self.next()
            items = []
            while not self.at_op("}"):
                if self.peek().kind == "STRING":
                    key = self.next().value
                else:
                    key = self.ident()
                self.eat_op(":")
                items.append((key, self.parse_expr()))
                if not self.try_op(","):
                    break
            self.eat_op("}")
            return ast.MapLiteral(items=tuple(items))
        if self.at_op("("):
            # Ambiguity: `(expr)` vs a pattern predicate `(a)-[:T]->(b)`
            # (extension). Try the pattern parse with backtracking; only
            # a path with >= 1 relationship counts (a bare `(a)` is a
            # parenthesized variable).
            save = self.i
            try:
                path = self.parse_path()
                if path.rels and path.var is None and path.shortest is None:
                    return ast.PatternPredicate(path)
            except ParseError:
                pass
            self.i = save
            self.next()
            expr = self.parse_expr()
            self.eat_op(")")
            return expr
        if tok.kind == "IDENT" or (
            tok.kind == "KEYWORD" and tok.value in {"END", "ALL", "KEY"}
        ):
            name = self.ident()
            if (self.at_op(".")
                    and name.lower() in ("date", "datetime",
                                         "localdatetime", "duration",
                                         "point", "time", "localtime")
                    and self.peek(1).kind == "IDENT"
                    and self.peek(2).kind == "OP"
                    and self.peek(2).value == "("):
                # qualified temporal/spatial function (r10; point r12):
                # date.truncate(...), datetime.truncate(...),
                # duration.between(...), point.distance(...). Only
                # fires on the full `ns.method(` shape, so a variable
                # that happens to be named `date` keeps plain property
                # access (`date.year` stays a PropertyAccess).
                self.next()  # .
                method = self.ident()
                return self.parse_fn_call(f"{name.lower()}.{method.lower()}")
            if self.at_op("("):
                low = name.lower()
                if low in ("any", "all", "none", "single") and (
                    self.peek(1).kind == "IDENT"
                    and self.peek(2).kind == "KEYWORD"
                    and self.peek(2).value == "IN"
                ):
                    # any/all/none/single(x IN source WHERE pred)
                    self.next()  # (
                    var = self.ident()
                    self.next()  # IN
                    source = self.parse_expr()
                    self.eat_kw("WHERE")
                    pred = self.parse_expr()
                    self.eat_op(")")
                    return ast.Quantifier(
                        kind=low, var=var, source=source, where=pred
                    )
                if low == "reduce" and (
                    self.peek(1).kind == "IDENT"
                    and self.peek(2).kind == "OP"
                    and self.peek(2).value == "="
                ):
                    # reduce(acc = init, x IN source | expr)
                    self.next()  # (
                    acc = self.ident()
                    self.eat_op("=")
                    init = self.parse_expr()
                    self.eat_op(",")
                    var = self.ident()
                    if not self.try_kw("IN"):
                        self.error("expected IN in reduce()")
                    source = self.parse_expr()
                    self.eat_op("|")
                    expr = self.parse_expr()
                    self.eat_op(")")
                    return ast.Reduce(
                        acc=acc, init=init, var=var, source=source, expr=expr
                    )
                if name.lower() == "exists":
                    # exists((a)-[:T]->(b)) — pattern form; falls back to
                    # a normal call if the payload isn't a pattern.
                    save = self.i
                    try:
                        self.next()  # (
                        path = self.parse_path()
                        if path.rels:
                            self.eat_op(")")
                            return ast.PatternPredicate(path)
                    except ParseError:
                        pass
                    self.i = save
                return self.parse_fn_call(name)
            if self.at_op("{") and name.lower() in ("exists", "count"):
                # EXISTS { MATCH <path> [WHERE e] [RETURN ...] } /
                # COUNT { ... [RETURN [DISTINCT] e] } — the optional
                # RETURN is openCypher's full-block form: EXISTS
                # ignores it (row existence is projection-free);
                # COUNT ignores a plain projection (one result row
                # per match) but RETURN DISTINCT switches to counting
                # distinct values (r8). Backtracks when the block
                # isn't a well-formed pattern, so variables named
                # exists/count keep their map projections
                # `count {.prop}` (same rule as collect below).
                save = self.i
                try:
                    path, where = self._parse_subquery_block(
                        stop_at_return=True)
                except ParseError:
                    nxt = self.tokens[save + 1]
                    if (nxt.kind == "KEYWORD" and nxt.value == "MATCH") \
                            or (nxt.kind == "OP" and nxt.value == "("):
                        # the block unambiguously STARTED as a
                        # subquery pattern — a typo inside it must
                        # error at the fault, not resurface later as
                        # a confusing map-projection error (r9 advice)
                        raise
                    self.i = save  # not a pattern block: fall through
                else:
                    ret_distinct, ret_expr = False, None
                    if self.try_kw("RETURN"):
                        ret_distinct = self.try_kw("DISTINCT")
                        if self.at_op("*"):
                            self.next()
                            if ret_distinct and name.lower() == "count":
                                self.error(
                                    "RETURN DISTINCT * in a COUNT { } "
                                    "block (project a single "
                                    "expression)")
                        else:
                            ret_expr = self.parse_expr()
                    self.eat_op("}")
                    if name.lower() == "exists":
                        return ast.PatternPredicate(path, where=where)
                    self.n_count_subqueries += 1
                    return ast.CountSubquery(
                        path, where=where,
                        distinct_expr=ret_expr if ret_distinct else None)
            if self.at_op("{") and name.lower() == "collect":
                # COLLECT { MATCH <path> [WHERE p] RETURN [DISTINCT] e }
                # (openCypher 9 / GQL) — single-column RETURN required;
                # compiles as a pattern comprehension (same anchored-
                # collect semantics). Backtracks on parse failure so a
                # VARIABLE named collect keeps its map projection
                # `collect {.prop}` (unlike exists/count, `collect` is
                # also a common aggregate name — don't widen the
                # shadowing beyond well-formed subquery blocks).
                save = self.i
                try:
                    path, where = self._parse_subquery_block(
                        stop_at_return=True)
                except ParseError:
                    nxt = self.tokens[save + 1]
                    if (nxt.kind == "KEYWORD" and nxt.value == "MATCH") \
                            or (nxt.kind == "OP" and nxt.value == "("):
                        raise  # malformed subquery: fail AT the fault
                    self.i = save  # not a pattern block: fall through
                else:
                    # a well-formed pattern block IS a subquery — a
                    # missing RETURN errors loudly, no silent fallback
                    self.eat_kw("RETURN")
                    distinct = self.try_kw("DISTINCT")
                    expr = self.parse_expr()
                    self.eat_op("}")
                    self.n_count_subqueries += 1
                    return ast.PatternComprehension(
                        path=path, where=where, map=expr,
                        distinct=distinct)
            return ast.Variable(name)
        self.error("expected expression")

    def _parse_subquery_block(self, stop_at_return: bool = False):
        """``{ [MATCH] <path> [WHERE <expr>] }`` — the body of an
        EXISTS / COUNT subquery expression. With ``stop_at_return``
        (the COLLECT form) the caller consumes ``RETURN ... }``."""
        self.eat_op("{")
        self.try_kw("MATCH")
        path = self.parse_path()
        if path.var is not None or path.shortest is not None:
            self.error("path variables/shortestPath in a subquery block")
        where = None
        if self.try_kw("WHERE"):
            where = self.parse_expr()
        if stop_at_return:
            return path, where
        self.eat_op("}")
        return path, where

    def parse_fn_call(self, name: str) -> ast.Expr:
        self.eat_op("(")
        distinct = self.try_kw("DISTINCT")
        args: list[ast.Expr] = []
        if self.at_op("*"):
            self.next()
            args.append(ast.Star())
        elif not self.at_op(")"):
            while True:
                args.append(self.parse_expr())
                if not self.try_op(","):
                    break
        self.eat_op(")")
        return ast.FnCall(name=name, args=tuple(args), distinct=distinct)

    def parse_case(self) -> ast.Expr:
        self.eat_kw("CASE")
        operand = None
        if not self.at_kw("WHEN"):
            operand = self.parse_expr()
        whens = []
        while self.try_kw("WHEN"):
            cond = self.parse_expr()
            self.eat_kw("THEN")
            whens.append((cond, self.parse_expr()))
        else_ = self.parse_expr() if self.try_kw("ELSE") else None
        self.eat_kw("END")
        return ast.CaseExpr(whens=tuple(whens), else_=else_, operand=operand)

    # -- DDL ---------------------------------------------------------------
    def parse_create_node_table(self) -> ast.CreateNodeTable:
        """CREATE NODE TABLE Name (col Type [DEFAULT lit], ...,
        PRIMARY KEY(a[,b]), NODE ID(col))
        — create_node_table_clause.rs:1-157."""
        self.eat_kw("CREATE"); self.eat_kw("NODE"); self.eat_kw("TABLE")
        name = self.ident()
        self.eat_op("(")
        columns: list[ast.ColumnDef] = []
        primary_keys: list[str] = []
        node_id: Optional[str] = None
        while True:
            if self.at_kw("PRIMARY"):
                self.next(); self.eat_kw("KEY"); self.eat_op("(")
                while True:
                    primary_keys.append(self.ident())
                    if not self.try_op(","):
                        break
                self.eat_op(")")
            elif self.at_kw("NODE"):
                self.next()
                tok = self.peek()
                if tok.kind == "IDENT" and tok.value.upper() == "ID":
                    self.next()
                else:
                    self.error("expected ID after NODE")
                self.eat_op("(")
                node_id = self.ident()
                self.eat_op(")")
            else:
                col = self.ident()
                dtype = self.ident()
                default = None
                if self.try_kw("DEFAULT"):
                    default = self.parse_primary()
                columns.append(ast.ColumnDef(col, dtype, default))
            if not self.try_op(","):
                break
        self.eat_op(")")
        return ast.CreateNodeTable(
            name=name, columns=columns, primary_keys=primary_keys,
            node_id=node_id,
        )

    def parse_create_rel_table(self) -> ast.CreateRelTable:
        """CREATE REL TABLE T FROM A TO B (col Type, ..., ADJ INDEX(true))
        — create_rel_table_clause.rs:1-167."""
        self.eat_kw("CREATE"); self.eat_kw("REL"); self.eat_kw("TABLE")
        name = self.ident()
        self.eat_kw("FROM")
        from_node = self.ident()
        self.eat_kw("TO")
        to_node = self.ident()
        columns: list[ast.ColumnDef] = []
        adj_index = False
        if self.try_op("("):
            if not self.at_op(")"):
                while True:
                    tok = self.peek()
                    if tok.kind == "IDENT" and tok.value.upper() == "ADJ":
                        self.next()
                        tok2 = self.next()
                        if tok2.value.upper() != "INDEX":
                            self.error("expected INDEX after ADJ")
                        self.eat_op("(")
                        adj_index = self.next().value == "TRUE"
                        self.eat_op(")")
                    else:
                        col = self.ident()
                        dtype = self.ident()
                        default = None
                        if self.try_kw("DEFAULT"):
                            default = self.parse_primary()
                        columns.append(ast.ColumnDef(col, dtype, default))
                    if not self.try_op(","):
                        break
            self.eat_op(")")
        return ast.CreateRelTable(
            name=name, from_node=from_node, to_node=to_node,
            columns=columns, adj_index=adj_index,
        )

    def _parse_set_assignment(self, out: list) -> None:
        """One SET item: ``alias.key = expr`` or ``alias += {k: v,
        ...}`` — the map-merge form (openCypher SET += ) desugars at
        parse time into per-key property assignments, so execution,
        guards, and replays all reuse the single-property path."""
        target = self.parse_postfix()
        if isinstance(target, ast.Variable) and self.try_op("+"):
            self.eat_op("=")
            value = self.parse_expr()
            if not isinstance(value, ast.MapLiteral):
                self.error(
                    "SET alias += expects a map literal {k: v, ...} "
                    "(dynamic maps have no static schema here)")
            for k, v in value.items:
                out.append((ast.PropertyAccess(target.name, k), v))
            return
        self.eat_op("=")
        out.append((target, self.parse_expr()))

    def parse_foreach(self) -> "ast.ForeachClause":
        """``FOREACH (x IN <list> | SET a.k = v [, ...] / [DETACH]
        DELETE x)`` — the executable subset (r7). CREATE / MERGE /
        REMOVE / nested FOREACH bodies reject with guidance."""
        self.eat_kw("FOREACH")
        self.eat_op("(")
        var = self.ident()
        self.eat_kw("IN")
        list_expr = self.parse_expr()
        self.eat_op("|")
        fc = ast.ForeachClause(var=var, list_expr=list_expr)
        while True:
            if self.at_kw("SET"):
                self.next()
                while True:
                    self._parse_set_assignment(fc.sets)
                    if not self.try_op(","):
                        break
            elif self.at_kw("DELETE") or self.at_kw("DETACH"):
                detach = self.try_kw("DETACH")
                self.eat_kw("DELETE")
                aliases = [self.ident()]
                while self.try_op(","):
                    aliases.append(self.ident())
                fc.delete = ast.DeleteClause(aliases=aliases,
                                             detach=detach)
            elif self.at_kw("CREATE", "MERGE", "REMOVE", "FOREACH"):
                self.error(
                    "only SET and DELETE are supported inside FOREACH "
                    "— rewrite other bodies as UNWIND <list> AS x ... "
                    "under GraphSession(allow_writes=True)")
            else:
                break
        if not fc.sets and fc.delete is None:
            self.error("FOREACH body must contain SET or DELETE")
        self.eat_op(")")
        return fc

    # -- write queries (parse-only parity) ----------------------------------
    def _parse_call_in_transactions(self, wq: "ast.WriteQuery"):
        """``CALL { WITH <imports> <write clauses> } IN TRANSACTIONS
        [OF <k> ROWS] [ON ERROR CONTINUE|BREAK|FAIL]`` — the
        openCypher batched-commit write form (r9). ``wq`` holds the
        already-parsed outer MATCH/WHERE. TRANSACTIONS/OF/ROWS/ERROR
        and the error modes are soft words (plain identifiers), so
        columns by those names stay usable."""
        self.next()  # CALL
        # openCypher 25 variable scope clause (r12): CALL (n) { ... }
        # replaces the import WITH; (*) / () have no single batch
        # anchor, so they get guided rejections here
        scope_vars = None
        if self.try_op("("):
            if self.try_op("*"):
                self.error(
                    "CALL (*) with IN TRANSACTIONS is ambiguous — "
                    "name the batch variable(s), e.g. CALL (n) { ... }")
            scope_vars = []
            if not self.at_op(")"):
                while True:
                    scope_vars.append(self.ident())
                    if not self.try_op(","):
                        break
            if not scope_vars:
                self.error(
                    "CALL () { } IN TRANSACTIONS imports nothing — "
                    "the batching needs at least one variable")
            self.eat_op(")")
        self.eat_op("{")
        if scope_vars is None:
            self.eat_kw("WITH")
            imports = [self.ident()]
            while self.try_op(","):
                imports.append(self.ident())
        else:
            imports = scope_vars
        body = self.parse_write_query()
        if not isinstance(body, ast.WriteQuery):
            self.error("nested CALL { } IN TRANSACTIONS")
        self.eat_op("}")
        self.eat_kw("IN")
        # openCypher 25: IN [<n>] CONCURRENT TRANSACTIONS is accepted
        # and runs as serial batches — batch order is one valid
        # schedule, and <n> bounds concurrency without promising it;
        # CONCURRENT is a soft word
        workers = None
        tok = self.next()
        if tok.kind == "INT":
            workers = int(tok.value)
            if workers < 1:
                self.error("IN <n> CONCURRENT TRANSACTIONS needs n >= 1")
            tok = self.next()
        if (tok.kind in ("IDENT", "KEYWORD")
                and tok.value.upper() == "CONCURRENT"):
            tok = self.next()
        elif workers is not None:
            self.error("expected CONCURRENT after IN <n>")
        if not (tok.kind in ("IDENT", "KEYWORD")
                and tok.value.upper() == "TRANSACTIONS"):
            self.error("expected TRANSACTIONS after CALL { ... } IN")
        batch_rows = 1000
        nxt = self.peek()
        if nxt.kind == "IDENT" and nxt.value.upper() == "OF":
            self.next()
            num = self.next()
            if num.kind != "INT":
                self.error("expected a row count after OF")
            batch_rows = int(num.value)
            if batch_rows < 1:
                self.error("OF <n> ROWS needs n >= 1")
            rows = self.next()
            if not (rows.kind in ("IDENT", "KEYWORD")
                    and rows.value.upper() == "ROWS"):
                self.error("expected ROWS after the batch size")
        on_error = "fail"
        retries = 0
        if self.at_kw("ON"):
            self.next()
            err = self.next()
            if not (err.kind == "IDENT"
                    and err.value.upper() == "ERROR"):
                self.error("expected ERROR after ON")
            modes = {"CONTINUE": "continue", "BREAK": "break",
                     "FAIL": "fail"}
            mode = self.next()
            if (mode.kind in ("IDENT", "KEYWORD")
                    and mode.value.upper() == "RETRY"):
                # openCypher 25 (r12): ON ERROR RETRY [<n>]
                # [THEN CONTINUE|BREAK|FAIL] — a failing batch rolls
                # back and re-runs up to n more times (bare RETRY =
                # 3), then the THEN mode (default FAIL) applies
                retries = 3
                if self.peek().kind == "INT":
                    retries = int(self.next().value)
                    if retries < 1:
                        self.error("ON ERROR RETRY <n> needs n >= 1")
                nxt = self.peek()
                if (nxt.kind in ("IDENT", "KEYWORD")
                        and nxt.value.upper() == "THEN"):
                    self.next()
                    mode = self.next()
                    if not (mode.kind in ("IDENT", "KEYWORD")
                            and mode.value.upper() in modes):
                        self.error("expected CONTINUE, BREAK or FAIL "
                                   "after ON ERROR RETRY ... THEN")
                    on_error = modes[mode.value.upper()]
            elif (mode.kind in ("IDENT", "KEYWORD")
                    and mode.value.upper() in modes):
                on_error = modes[mode.value.upper()]
            else:
                self.error("expected CONTINUE, BREAK, FAIL or RETRY "
                           "after ON ERROR")
        # REPORT STATUS AS <var> [RETURN <items>] (r10, openCypher 9's
        # post-CALL status consumption; REPORT/STATUS are soft words)
        report_var, report_items = None, None
        nxt = self.peek()
        if nxt.kind == "IDENT" and nxt.value.upper() == "REPORT":
            self.next()
            st = self.next()
            if not (st.kind in ("IDENT", "KEYWORD")
                    and st.value.upper() == "STATUS"):
                self.error("expected STATUS after REPORT")
            if not self.try_kw("AS"):
                self.error("expected AS <variable> after REPORT STATUS")
            report_var = self.ident()
            if self.at_kw("RETURN"):
                self.next()
                report_items = self.parse_return_items()
        if body.return_clause is not None:
            self.error(
                "RETURN inside CALL { } IN TRANSACTIONS is not "
                "supported")
        if not (body.merges or body.create or body.set_clause
                or body.remove or body.delete or body.foreachs):
            self.error(
                "CALL { } IN TRANSACTIONS block must contain a write "
                "clause (SET/REMOVE/DELETE/CREATE/MERGE/FOREACH)")
        return ast.CallInTransactions(
            match_clauses=wq.match_clauses, where=wq.where,
            imports=imports, body=body, batch_rows=batch_rows,
            on_error=on_error, report_var=report_var,
            report_items=report_items, retries=retries)

    def parse_write_query(self) -> ast.WriteQuery:
        wq = ast.WriteQuery()
        while True:
            if self.at_kw("MATCH") or (
                self.at_kw("OPTIONAL") and self.peek(1).value == "MATCH"
            ):
                wq.match_clauses.append(self.parse_match())
            elif self.at_kw("FOREACH"):
                wq.foreachs.append(self.parse_foreach())
            elif self.at_kw("WHERE"):
                self.next()
                wq.where = self.parse_expr()
            elif (self.at_kw("CALL") and self.peek(1).kind == "OP"
                  and self.peek(1).value in ("{", "(")):
                return self._parse_call_in_transactions(wq)
            elif self.at_kw("WITH"):
                # parsed for parity (the whole write query is rejected at
                # execution, like the reference's UnsupportedDDLQuery)
                self.next()
                self.try_kw("DISTINCT")
                self.parse_return_items()
            elif self.at_kw("CREATE"):
                self.next()
                paths = [self.parse_path()]
                while self.try_op(","):
                    paths.append(self.parse_path())
                wq.create = ast.CreateDataClause(paths=paths)
            elif self.at_kw("MERGE"):
                self.next()
                mc = ast.MergeClause(path=self.parse_path())
                while self.at_kw("ON"):
                    self.next()
                    if self.try_kw("CREATE"):
                        target = mc.on_create
                    elif self.try_kw("MATCH"):
                        target = mc.on_match
                    else:
                        self.error("expected CREATE or MATCH after ON")
                    self.eat_kw("SET")
                    while True:
                        self._parse_set_assignment(target)
                        if not self.try_op(","):
                            break
                wq.merges.append(mc)
            elif self.at_kw("SET"):
                self.next()
                assignments = []
                while True:
                    self._parse_set_assignment(assignments)
                    if not self.try_op(","):
                        break
                wq.set_clause = ast.SetClause(assignments=assignments)
            elif self.at_kw("REMOVE"):
                self.next()
                targets = []
                while True:
                    targets.append(self.parse_postfix())
                    if not self.try_op(","):
                        break
                wq.remove = ast.RemoveClause(targets=targets)
            elif self.at_kw("DELETE") or self.at_kw("DETACH"):
                detach = self.try_kw("DETACH")
                self.eat_kw("DELETE")
                aliases = [self.ident()]
                while self.try_op(","):
                    aliases.append(self.ident())
                wq.delete = ast.DeleteClause(aliases=aliases, detach=detach)
            elif self.at_kw("RETURN"):
                self.next()
                distinct = self.try_kw("DISTINCT")
                wq.return_clause = ast.ReturnClause(
                    self.parse_return_items(), distinct=distinct
                )
                self.parse_modifiers()  # parsed, discarded (write parity)
            else:
                return wq


def parse(text: str) -> ast.Statement:
    """Parse one Cypher statement (reference: parse_query,
    open_cypher_parser/mod.rs:96-105)."""
    return Parser(text).parse_statement()
