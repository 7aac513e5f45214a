"""Cypher AST -> PySpark DataFrame compiler.

This module replaces the reference's entire plan/render/SQL stack
(query_planner/logical_plan, analyzer/*, optimizer/*, render_plan/*,
clickhouse_query_generator/*) with direct DataFrame construction:

- graph pattern -> chain of equi inner joins node ⋈ edge ⋈ node
  (the reference emits one CTE per entity + INNER JOINs,
  analyzer/graph_join_inference.rs:236-755)
- label/type inference for unlabeled pattern entities
  (analyzer/schema_inference.rs:240-339)
- either-direction hops -> UNION DISTINCT of both edge orientations
  (analyzer/graph_traversal_planning.rs:524-616)
- re-used aliases join on both endpoint keys
  (analyzer/duplicate_scans_removing.rs:28-58 +
  graph_join_inference.rs:251-256)
- schema-invalid patterns -> constant-empty result with the correct
  schema (query_planner/mod.rs:50-60: ``SELECT 1 WHERE 1=0``)
- implicit GROUP BY of all non-aggregate projection items
  (analyzer/group_by_building.rs:13-45)
- anchor selection: the most-filtered alias seeds the join fold
  (optimizer/anchor_node_selection.rs:38-78)

Catalyst supplies what the reference hand-rolls: predicate pushdown
(optimizer/filter_push_down.rs), column pruning
(optimizer/projection_push_down.rs), constant folding, join ordering via
AQE, and whole-stage codegen. We deliberately do NOT emit per-hop
pruning prefilters (the reference's IN-subquery device,
graph_traversal_planning.rs:819-843): inner equi-joins already drop
unreachable ids, small frontiers are broadcast, and when a selective
frontier meets a large edge scan through a shuffle join, Catalyst's
runtime bloom filter (InjectRuntimeFilter) prunes that scan by the
frontier's keys before the exchange, sized from observed scan sizes.

Scale posture: all expressions stay JVM-side (no Python UDFs anywhere in
this path); Spark's size estimates broadcast small node tables; AQE
re-plans joins and splits a hop join's hot-key partitions at runtime
(skewJoin, io.configure), so the compiler plans no salting of its own.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..catalog import GraphSchema, RelationshipSchema
from ..errors import PlanError, UnsupportedError
from ..ops.adjacency import expand_pairs
from ..parser import ast
from .expressions import ExprCompiler, collect_aliases, contains_aggregate
from .scope import (
    NodeBinding, PathBinding, RelBinding, ScalarBinding, Scope, as_sql, eq,
    eq_sql, pcol, quote, ref,
)

# Cost guard: a -[:T*1..k]-> hop enumerates k-fold self-joins, so the
# plan (and at scale, the shuffle volume) grows with k. Above this
# bound the compiler refuses with a clear error instead of silently
# building a runaway plan; callers with a genuinely deep walk raise it
# via GraphSession(max_var_hops=...).
MAX_VAR_HOPS = 6


# --------------------------------------------------------------------------
# Pattern entities (compiler-internal IR; replaces PlanCtx + GraphRel chains)
# --------------------------------------------------------------------------

@dataclass
class NodeEntity:
    alias: str
    label: Optional[str]
    properties: dict[str, ast.Expr] = field(default_factory=dict)
    prebound: bool = False  # bound by an earlier WITH part
    in_path_var: bool = False  # member of a p = (...) pattern


def _with_copies(df: DataFrame, cols: dict[str, str]) -> DataFrame:
    """Add (or replace) columns that copy other columns, name ->
    source. ``withColumn`` with a prebuilt Column is a single JVM call;
    ``withColumns`` pays 11 more to ship its dict."""
    for name, src in cols.items():
        df = df.withColumn(name, ref(src))
    return df


def _is_var(rel) -> bool:
    """Variable-length rel: any hop range other than exactly one hop
    — max > 1, or a ZERO-LENGTH lower bound (r13: ``*0..n`` zero-hop
    rows bind both endpoints to the SAME node, openCypher semantics —
    previously min 0 silently planned as min 1)."""
    return rel.max_hops > 1 or rel.min_hops == 0


@dataclass
class RelEntity:
    alias: str
    type_name: Optional[str]
    direction: str  # as written: 'out' | 'in' | 'either'
    src: str  # left node alias (pattern order)
    dst: str  # right node alias
    properties: dict[str, ast.Expr] = field(default_factory=dict)
    min_hops: int = 1
    max_hops: int = 1
    alt_types: tuple = ()  # multi-type -[:X|Y]-> extension
    shortest: bool = False  # inside shortestPath(...) (extension)
    in_path_var: bool = False  # part of a p = (...) pattern
    # filled by inference:
    schema: Optional[RelationshipSchema] = None
    orientation: Optional[str] = None  # 'fwd' (src=from), 'rev', 'both', 'invalid'
    alt_resolved: list = field(default_factory=list)  # [(schema, orientation)]
    # filled by _assemble (r9): var-length segment rides a path var
    # and its type declares properties -> carry per-hop rel structs;
    # carry_has_type marks a multi-type carry whose struct leads with
    # a 'type' field (the matched arm's name)
    carry_props: bool = False
    carry_prop_names: tuple = ()
    carry_has_type: bool = False


@dataclass
class Pattern:
    nodes: dict[str, NodeEntity] = field(default_factory=dict)
    rels: list[RelEntity] = field(default_factory=list)
    # path variable -> (node aliases, rel aliases) in pattern order
    path_vars: dict[str, tuple[list[str], list[str]]] = field(
        default_factory=dict
    )


class QueryCompiler:
    def __init__(
        self,
        catalog: GraphSchema,
        load_table: Callable[[str], DataFrame],
        params: Optional[dict] = None,
        load_adjacency: Optional[
            Callable[[str], Optional[DataFrame]]
        ] = None,
        max_var_hops: int = MAX_VAR_HOPS,
        assume_referential_integrity: bool = False,
    ):
        # every constructor argument, replayed by _fresh() (taken before
        # any other local exists, so it holds exactly the parameters)
        self._config = {k: v for k, v in locals().items() if k != "self"}
        self.catalog = catalog
        self.load_table = load_table
        self.params = params or {}
        self.max_var_hops = max_var_hops
        # FK-join elimination: when True, a hop endpoint whose node is
        # never referenced (no properties, filters, projections, path
        # membership) binds its id straight from the edge column
        # instead of scanning + joining the node table — sound iff
        # every edge endpoint exists in its node table. Off by default
        # (the reference's inner joins silently drop dangling edges;
        # this keeps them). Derived-FK graphs (edges projected from
        # the node tables themselves, e.g. graphs/tpch) satisfy the
        # premise by construction and turn it on.
        self.integrity = assume_referential_integrity
        # Resolver for materialized grouped-adjacency tables
        # ({REL}_outgoing / {REL}_incoming); None -> always edge-list.
        self.load_adjacency = load_adjacency
        # Aliases referenced anywhere in the current query (filled per
        # compile() call) — a rel alias in here forces the edge-list
        # path, mirroring the reference's projection/filter tagging
        # (projection_tagging.rs:198, filter_tagging.rs:153).
        self._referenced: set[str] = set()
        # Finer grain for FK-join elimination: aliases referenced as
        # bare variables (need their full binding) vs per-alias sets of
        # accessed property keys (id-only access elides the node scan).
        self._bare_refs: set[str] = set()
        self._prop_refs: dict[str, set[str]] = {}
        # aliases id-only by construction in the current sub-assembly
        self._elide_override: set[str] = set()
        self._anon_counter = 0  # deterministic anonymous aliases
        # (the reference uses random a<uuid10>, logical_plan/mod.rs:36-43)
        # label/type -> {column -> dtype} from the table schemas,
        # resolved lazily for chained temporal accessors (r11)
        self._dtype_cache: dict[str, dict] = {}

    def _prop_dtype(self, binding, key: str) -> Optional[str]:
        """dtype of a node/rel property from its label's TABLE schema
        (lazy, cached per label) — the catalog typing that lets a
        chained accessor (``n.ts.year``) resolve as temporal component
        access without a WITH projection (r11, VERDICT r10 next #6).
        Unknown labels/columns return None (-> struct-field access)."""
        label = (binding.label if isinstance(binding, NodeBinding)
                 else getattr(binding, "type_name", None))
        if not label:
            return None
        if label not in self._dtype_cache:
            try:
                self._dtype_cache[label] = dict(
                    self.load_table(label).dtypes)
            except Exception:
                self._dtype_cache[label] = {}
        return self._dtype_cache[label].get(key)

    # ------------------------------------------------------------------
    def compile(self, query: ast.ReadQuery,
                initial=None) -> DataFrame:
        # parser-provided fast path: no COUNT { } anywhere in this
        # query -> skip every per-item rewrite tree walk (save/restore
        # around union-arm recursion; default True stays safe for
        # callers handing in synthesized ASTs without the flag)
        prev_csq = getattr(self, "_maybe_csq", True)
        self._maybe_csq = getattr(query, "has_count_subquery", True)
        try:
            return self._compile_query(query, initial)
        finally:
            self._maybe_csq = prev_csq

    def _compile_query(self, query: ast.ReadQuery,
                       initial=None) -> DataFrame:
        self._bare_refs, self._prop_refs = self._collect_refs(query)
        self._referenced = self._bare_refs | set(self._prop_refs)
        # LOAD CSV (r12): the statement starts from a pre-bound frame
        # (one column per bound variable, e.g. the csv `row`)
        df: Optional[DataFrame] = initial[0] if initial else None
        scope = initial[1].copy() if initial else Scope()
        for i, part in enumerate(query.parts):
            is_final = i == len(query.parts) - 1
            df, scope = self._compile_part(df, scope, part)
            if is_final:
                if query.return_clause is None:
                    raise PlanError("query must end with RETURN")
                if df is None:
                    # `RETURN <expr>` with no reading clause: one seed row.
                    from pyspark.sql import SparkSession
                    df = SparkSession.getActiveSession().range(1).drop("id")
                df = self._project(
                    df, scope, query.return_clause.items,
                    distinct=query.return_clause.distinct,
                    order_by=query.order_by, skip=query.skip,
                    limit=query.limit, final=True,
                )[0]
        assert df is not None
        # Cypher-level UNION [ALL] (extension; openCypher requires equal
        # column names across arms — unionByName enforces it).
        for sub_query, distinct in query.unions:
            arm = self.compile(sub_query)
            if set(arm.columns) != set(df.columns):
                raise PlanError(
                    "UNION arms must return the same column names: "
                    f"{sorted(df.columns)} vs {sorted(arm.columns)}"
                )
            df = df.unionByName(arm)
            if distinct:
                df = df.distinct()
        return df

    # ------------------------------------------------------------------
    def _anon(self) -> str:
        self._anon_counter += 1
        return f"__anon{self._anon_counter}"

    # ------------------------------------------------------------------
    @staticmethod
    def _collect_refs(
        query: ast.ReadQuery,
    ) -> tuple[set[str], dict[str, set[str]]]:
        """Every alias referenced by any expression in the query (the
        compiler-wide analogue of the reference's filter/projection
        tagging passes), split by kind: bare-variable references (need
        the full binding) vs property accesses (per-alias key sets —
        id-only access is satisfiable from an edge endpoint column).
        ``RETURN *`` adds the bare marker ``"*"`` — everything is
        referenced."""
        bare: set[str] = set()
        props: dict[str, set[str]] = {}

        def item(it) -> None:
            # item-level Star is RETURN/WITH * (everything referenced);
            # Star inside an expression is count(*) (references nothing)
            if isinstance(it.expr, ast.Star):
                bare.add("*")
            else:
                expr(it.expr)

        def expr(e) -> None:
            if e is None:
                return
            if isinstance(e, ast.Star):
                return  # count(*) — no alias referenced
            if isinstance(e, ast.Variable):
                bare.add(e.name)
                return
            if isinstance(e, ast.PropertyAccess):
                props.setdefault(e.alias, set()).add(e.key)
                return
            if isinstance(e, (ast.PatternPredicate, ast.CountSubquery)):
                # predicate anchors are joined on ids only
                for np in e.path.nodes:
                    if np.alias is not None:
                        props.setdefault(np.alias, set())
                    for v in np.properties.values():
                        expr(v)
                for rp in e.path.rels:
                    for v in rp.properties.values():
                        expr(v)
                expr(e.where)
                return
            if isinstance(e, ast.MapProjection):
                # entry payloads are (kind, str-or-(key, Expr)) tuples
                # the generic walk cannot see into (r7 review): record
                # the projected properties so FK-elision / fused-rel
                # materialization keep them
                props.setdefault(e.alias, set())
                for kind, payload in e.entries:
                    if kind == "all":
                        bare.add(e.alias)  # every column is read
                    elif kind == "prop":
                        props[e.alias].add(payload)
                    elif kind == "var":
                        bare.add(payload)
                    else:  # kv
                        expr(payload[1])
                return
            # generic recursion over expression dataclass fields
            lambda_locals = []
            if isinstance(e, (ast.ListComprehension, ast.Quantifier)):
                lambda_locals = [e.var]
            elif isinstance(e, ast.Reduce):
                lambda_locals = [e.var, e.acc]
            pre = {name: name in bare for name in lambda_locals}
            for f in getattr(e, "__dataclass_fields__", {}):
                v = getattr(e, f)
                if isinstance(v, ast.Expr):
                    expr(v)
                elif isinstance(v, (list, tuple)):
                    for x in v:
                        if isinstance(x, ast.Expr):
                            expr(x)
                        elif isinstance(x, tuple):
                            for y in x:
                                if isinstance(y, ast.Expr):
                                    expr(y)
            for name in lambda_locals:
                if not pre[name]:  # lambda-local, not an outer alias
                    bare.discard(name)

        for part in query.parts:
            for mc in part.matches:
                expr(mc.where)
                for path in mc.paths:
                    for np in path.nodes:
                        for v in np.properties.values():
                            expr(v)
                    for rp in path.rels:
                        for v in rp.properties.values():
                            expr(v)
            if part.unwind is not None:
                expr(part.unwind.expr)
            expr(part.where)
            if part.with_clause is not None:
                for it in part.with_clause.items:
                    item(it)
            for ob in part.order_by:
                expr(ob.expr)
            for csub in part.calls:
                # correlated CALL blocks compile with THIS compiler's
                # reference sets (the uncorrelated path uses _fresh()),
                # so block-internal property reads must be collected —
                # otherwise FK-join elimination under
                # assume_referential_integrity elides a block node
                # whose properties only the block touches. Block-local
                # alias names may over-collect into the outer sets;
                # that only disables an elision, never breaks one.
                sub_bare, sub_props = QueryCompiler._collect_refs(
                    csub.query)
                bare |= sub_bare
                for a, ks in sub_props.items():
                    props.setdefault(a, set()).update(ks)
        if query.return_clause is not None:
            for it in query.return_clause.items:
                item(it)
        for ob in query.order_by:
            expr(ob.expr)
        for sub, _distinct in query.unions:
            sub_bare, sub_props = QueryCompiler._collect_refs(sub)
            bare |= sub_bare
            for a, ks in sub_props.items():
                props.setdefault(a, set()).update(ks)
        return bare, props

    # ------------------------------------------------------------------
    def _compile_part(
        self, in_df: Optional[DataFrame], in_scope: Scope, part: ast.QueryPart
    ):
        scope = in_scope.copy()
        df = in_df
        required = [m for m in part.matches if not m.optional]
        optionals = [m for m in part.matches if m.optional]
        if required:
            pattern = self._build_pattern(required, scope)
            self._infer(pattern)
            df = self._assemble(df, scope, pattern, part)
            _bind_path_vars(pattern, scope)
        for mc in optionals:
            df = self._apply_optional(df, scope, mc)
        for csub in part.calls:
            df = self._apply_call_subquery(df, scope, csub)
        if part.unwind is not None:
            ec = ExprCompiler(scope, self.params, self._prop_dtype)
            arr = ec.compile(part.unwind.expr)
            if df is None:
                # UNWIND as the first clause: single-row seed.
                from pyspark.sql import SparkSession
                spark = SparkSession.getActiveSession()
                df = spark.range(1).select(F.explode(arr).alias(part.unwind.alias))
            else:
                df = df.select("*", F.explode(arr).alias(part.unwind.alias))
            scope.bind(ScalarBinding(
                part.unwind.alias,
                dtype=dict(df.dtypes).get(part.unwind.alias)))
        if part.where is not None:
            if df is None:
                raise PlanError("WHERE without a preceding MATCH/WITH")
            residual, pattern_preds = _split_pattern_predicates(part.where)
            for pred, negated in pattern_preds:
                df = self._apply_pattern_predicate(df, scope, pred, negated)
            if residual is not None:
                df, residual = self._rewrite_count_subqueries(
                    df, scope, residual)
                ec = ExprCompiler(scope, self.params, self._prop_dtype)
                df = df.filter(ec.compile(residual))
        if part.with_clause is not None:
            if df is None:
                # Leading WITH (r13): openCypher lets a query OPEN
                # with WITH over literal/parameter expressions
                # (`WITH time('12:00') AS t RETURN t.hour`) — seed
                # the same single-row frame a standalone RETURN uses;
                # unbound variable references still error naturally
                # in the expression compiler.
                from pyspark.sql import SparkSession

                df = SparkSession.getActiveSession().range(1).drop("id")
            df, scope = self._project(
                df, scope, part.with_clause.items,
                distinct=part.with_clause.distinct,
                order_by=part.order_by, skip=part.skip, limit=part.limit,
                final=False,
            )
        return df, scope

    # ------------------------------------------------------------------
    # Pattern construction + inference
    # ------------------------------------------------------------------
    def _apply_optional(
        self, df: Optional[DataFrame], scope: Scope, mc: ast.MatchClause
    ) -> DataFrame:
        """OPTIONAL MATCH -> left outer join of the optional pattern's
        sub-assembly (extension; the reference only has a TODO,
        query_planner/mod.rs:49).

        The optional pattern is compiled as an independent assembly —
        aliases already bound outside ("anchors") are re-scanned inside
        it, reduced to their id as the join key, and the main rows are
        left-joined on those ids; new aliases' columns become NULL where
        nothing matched. A WHERE attached to the OPTIONAL MATCH filters
        inside the join (Cypher semantics)."""
        sub_scope = Scope()
        inner = ast.MatchClause(paths=mc.paths, optional=False)
        pattern = self._build_pattern([inner], scope)
        anchors = [
            a for a, node in pattern.nodes.items()
            if isinstance(scope.get(a), NodeBinding)
        ]
        for node in pattern.nodes.values():
            node.prebound = False  # anchors are re-scanned in the sub-plan
        self._infer(pattern)
        sub_part = ast.QueryPart()
        sub_df = self._assemble(None, sub_scope, pattern, sub_part)
        if mc.where is not None:
            ec = ExprCompiler(sub_scope, self.params, self._prop_dtype)
            sub_df = sub_df.filter(ec.compile(mc.where))

        keys = [f"__optk_{a}" for a in anchors]
        key_cols = [as_sql(sub_scope.get(a).id_pcol, k)
                    for a, k in zip(anchors, keys)]
        conds = [(scope.get(a).id_pcol, k) for a, k in zip(anchors, keys)]
        new_aliases = [a for a in pattern.nodes if a not in anchors]
        new_aliases += [r.alias for r in pattern.rels]
        carry = []
        for a in new_aliases:
            b = sub_scope.get(a)
            if b is None:
                continue  # var-length rels have no binding
            if isinstance(b, NodeBinding):
                # elided endpoints have no property columns — carry the
                # derived id column so the binding stays resolvable
                carry += [pcol(a, c) for c in b.columns] or [b.id_pcol]
            elif isinstance(b, RelBinding):
                carry += [b.src_pcol, b.dst_pcol]
                carry += [pcol(a, c) for c in b.columns]
            scope.bind(b)
        # Path variables on OPTIONAL MATCH (r12, VERDICT r11 missing
        # #5): carry the variable-length hops/rels columns across the
        # left join and bind the path NULL-guarded — p, length(p),
        # nodes(p), relationships(p) are NULL where the optional
        # missed (the existing null-row carry; no new machinery).
        if pattern.path_vars:
            for r in pattern.rels:
                if _is_var(r):
                    for extra in (pcol(r.alias, "hops"),
                                  pcol(r.alias, "rels")):
                        if extra in sub_df.columns \
                                and extra not in carry:
                            carry.append(extra)
            # the guard column must be NULL exactly iff the optional
            # missed: an ID/hops column from the sub side (a property
            # column can be legitimately NULL on a matched row)
            null_when = None
            for a in new_aliases:
                b = sub_scope.get(a)
                if b is None:
                    continue
                cand = (b.id_pcol if isinstance(b, NodeBinding)
                        else b.src_pcol)
                if cand in carry or cand in sub_df.columns:
                    if cand not in carry:
                        carry.append(cand)
                    null_when = cand
                    break
            if null_when is None:
                null_when = next(
                    (c for c in carry if c.endswith("__hops")), None)
            _bind_path_vars(pattern, scope, null_when=null_when)
        sub_sel = sub_df.selectExpr(*key_cols, *map(quote, carry))
        cond = eq(*conds) if conds else F.lit(True)
        if df is None:
            # OPTIONAL MATCH as the first clause: single seed row so an
            # empty optional still yields one all-NULL row.
            from pyspark.sql import SparkSession
            df = SparkSession.getActiveSession().range(1).drop("id")
        out = df.join(sub_sel, cond, "left")
        return out.drop(*keys) if keys else out

    def _subquery_assembly(
        self, scope: Scope, path: ast.PathPattern,
        where: Optional[ast.Expr],
        keep_aliases: Optional[set] = None,
    ) -> tuple[DataFrame, Scope, list[str]]:
        """Shared sub-plan builder for pattern predicates, EXISTS /
        COUNT subquery blocks, and pattern comprehensions: compile
        ``path`` as an independent assembly, re-scanning outer-bound
        aliases ("anchors"), apply the block's inner WHERE, and
        return (sub_df, sub_scope, anchors). Anchors elide to their
        id columns unless the inner WHERE touches them (then their
        full scan joins in, so the predicate can reference any of
        their properties); ``keep_aliases`` adds further aliases that
        must keep their columns (a comprehension's map expression)."""
        sub_scope = Scope()
        inner = ast.MatchClause(paths=[path], optional=False)
        pattern = self._build_pattern([inner], scope)
        anchors = [
            a for a in pattern.nodes
            if isinstance(scope.get(a), NodeBinding)
        ]
        if not anchors:
            raise PlanError(
                "pattern predicate / subquery must reference at least "
                "one bound node alias"
            )
        for node in pattern.nodes.values():
            node.prebound = False  # anchors are re-scanned in the sub-plan
        self._infer(pattern)
        where_aliases: set[str] = set(keep_aliases or ())
        if where is not None:
            collect_aliases(where, where_aliases)
        # Inside the block only anchor IDS matter (they become the
        # join keys), so anchors elide even when the outer query
        # references their properties — except anchors the inner WHERE
        # reads, which need their columns.
        prev_override = self._elide_override
        self._elide_override = prev_override | {
            a for a in anchors if a not in where_aliases}
        try:
            sub_df = self._assemble(None, sub_scope, pattern, ast.QueryPart())
        finally:
            self._elide_override = prev_override
        if where is not None:
            unknown = where_aliases - set(sub_scope.bindings)
            if unknown:
                raise PlanError(
                    f"subquery WHERE references {sorted(unknown)} not "
                    "bound inside the block")
            ec = ExprCompiler(sub_scope, self.params, self._prop_dtype)
            sub_df = sub_df.filter(ec.compile(where))
        return sub_df, sub_scope, anchors

    def _apply_pattern_predicate(
        self, df: DataFrame, scope: Scope, pred: ast.PatternPredicate,
        negated: bool,
    ) -> DataFrame:
        """WHERE (a)-[:T]->(b) / EXISTS { ... } -> leftsemi join;
        NOT -> leftanti (extension; the reference has no pattern
        predicates).

        The predicate pattern is compiled as an independent assembly;
        aliases bound outside ("anchors") are re-scanned inside it and
        reduced to their id columns, which become the semi-join keys —
        the same per-hop IN-subquery shape the reference uses for
        traversal pruning (graph_traversal_planning.rs:819-843), surfaced
        as user syntax. New aliases inside the predicate are existential:
        they never add columns or multiply rows."""
        sub_df, sub_scope, anchors = self._subquery_assembly(
            scope, pred.path, pred.where)
        keys = [f"__ppk_{a}" for a in anchors]
        return df.join(
            sub_df.selectExpr(*[as_sql(sub_scope.get(a).id_pcol, k)
                                for a, k in zip(anchors, keys)]),
            eq(*[(scope.get(a).id_pcol, k) for a, k in zip(anchors, keys)]),
            "left_anti" if negated else "left_semi",
        )

    def _fresh(self) -> "QueryCompiler":
        """A sibling compiler with identical configuration for
        compiling an independent sub-statement (CALL { } blocks) —
        per-query state (_bare_refs, anon counters) must not leak
        between the outer query and the block."""
        return QueryCompiler(**self._config)

    def compile_write_match(
        self, df: Optional[DataFrame], scope: Scope, part: ast.QueryPart,
    ) -> tuple[DataFrame, Scope]:
        """The MATCH/WHERE of a write statement. The write clauses may
        read any bound alias, so every alias counts as referenced:
        no FK-join elision, adjacency-index hop or FK-edge fusion
        leaves a binding without the columns a SET/DELETE needs."""
        self._bare_refs, self._prop_refs = {"*"}, {}
        self._referenced = {"*"}
        return self._compile_part(df, scope, part)

    def _apply_call_subquery(
        self, df: Optional[DataFrame], scope: Scope,
        csub: ast.CallSubquery,
    ) -> DataFrame:
        """``CALL { <query> }`` (uncorrelated): compile the block as
        an independent query and join its RETURN columns into the
        pipeline with cartesian semantics — one row per outer-row x
        subquery-row pair, openCypher's uncorrelated-CALL definition.
        A single-row aggregated block (``RETURN count(*) AS c``) thus
        annotates every outer row; Spark plans the cross join as a
        broadcast nested loop over the (tiny) block result. The
        block's columns bind as scalars; colliding with an existing
        variable is an error (no shadowing).

        CORRELATED form ``CALL { WITH a[, b...] MATCH ... RETURN ...}``
        (leading WITH of bare outer node variables = the openCypher
        import clause): the block logically runs per outer row; it
        compiles to ONE relational plan — the block pattern re-scans
        the imported aliases ("anchors", the pattern-predicate
        machinery), block aggregates group by the anchor ids, block
        ORDER BY/SKIP/LIMIT become per-anchor windows (top-N-per-group
        as a window function, not a per-row loop), and the result
        joins back on the anchor ids (inner join — openCypher drops
        outer rows whose block returns nothing)."""
        imports = _call_import_aliases(csub.query)
        if imports is None and getattr(csub, "scope_all", False):
            # openCypher 25 `CALL (*) { }` (r12): import every
            # in-scope graph variable — expand here (the parser has
            # no scope) by prepending the equivalent import WITH;
            # empty scope degrades to the uncorrelated form
            import dataclasses

            all_vars = [n for n, b in scope.bindings.items()
                        if isinstance(b, (NodeBinding, RelBinding))
                        and not n.startswith("__")]
            if all_vars:
                imp = ast.QueryPart(with_clause=ast.WithClause(
                    items=[ast.ReturnItem(ast.Variable(n))
                           for n in all_vars]))
                q2 = dataclasses.replace(
                    csub.query, parts=[imp] + list(csub.query.parts))
                return self._apply_correlated_call(
                    df, scope, q2, all_vars, optional=csub.optional)
        if imports is not None:
            return self._apply_correlated_call(
                df, scope, csub.query, imports,
                optional=csub.optional)
        sub = self._fresh().compile(csub.query)
        sub_dtypes = dict(sub.dtypes)
        for name in sub.columns:
            if scope.get(name) is not None:
                raise PlanError(
                    f"CALL {{ }} subquery returns '{name}', which is "
                    f"already bound in the enclosing query")
            scope.bind(ScalarBinding(name, dtype=sub_dtypes.get(name)))
        if df is None:
            if csub.optional:
                # openCypher: a query starts with one implicit row, so
                # a standalone OPTIONAL CALL over an empty block must
                # yield one NULL-filled row, not zero rows
                from pyspark.sql import SparkSession

                seed = SparkSession.getActiveSession().range(1).drop("id")
                return seed.join(sub, F.lit(True), "left")
            return sub
        overlap = set(df.columns) & set(sub.columns)
        if overlap:
            raise PlanError(
                f"CALL {{ }} subquery output collides with enclosing "
                f"columns: {sorted(overlap)}")
        if csub.optional:
            # OPTIONAL CALL: an empty block must NULL-fill rather than
            # annihilate the outer rows — a LEFT join on a trivial
            # condition (BroadcastNestedLoop) gives exactly that while
            # degenerating to the cartesian product when rows exist
            return df.join(sub, F.lit(True), "left")
        return df.crossJoin(sub)

    def _apply_correlated_call(
        self, df: Optional[DataFrame], scope: Scope,
        inner: "ast.ReadQuery", imports: list[str],
        optional: bool = False,
    ) -> DataFrame:
        """Correlated CALL block: see _apply_call_subquery. Supported
        body (v2, VERDICT r6 #2): the import WITH, then a full
        pipeline of MATCH / OPTIONAL MATCH / UNWIND / WHERE segments
        chained by intermediate WITHs, ending in RETURN [DISTINCT]
        [ORDER BY/SKIP/LIMIT]. The block compiles to ONE relational
        plan: imported aliases ("anchors") re-scan in the first
        segment; every intermediate WITH implicitly carries the
        anchors (so an aggregating WITH groups per invocation and a
        DISTINCT WITH dedups per invocation — exactly the per-outer-
        row semantics); the final RETURN joins back on the anchor
        ids; SKIP/LIMIT on an intermediate WITH compiles to a
        per-anchor window too (`_call_with_window`); UNION [ALL]
        arms compile independently and union per invocation (r8,
        `_apply_correlated_call_union`); RETURN * expands to the
        block's LOCAL variables — node/relationship outputs carry
        their whole binding into the enclosing scope (r9); nested
        UNCORRELATED CALL { } cross-joins inside the block (r9);
        nested CORRELATED CALL recurses into this same machinery
        against the block's frame and scope (r10).
        Known divergence (documented, FOLDED_CYPHER
        call_correlated_agg_with): an invocation whose row count is
        made non-zero only by an intermediate aggregating WITH (e.g.
        ``WITH count(*) AS n``) still drops match-less outer rows —
        the aggregate-on-empty fill applies only when the final
        RETURN is all-aggregate."""
        if df is None:
            raise PlanError(
                "correlated CALL { WITH ... } needs a preceding "
                "MATCH/WITH to import from")
        for a in imports:
            if not isinstance(scope.get(a), (NodeBinding, RelBinding)):
                raise UnsupportedError(
                    f"correlated CALL {{ }} imports must be bound "
                    f"node or relationship variables; '{a}' is not one")
        # r11 (VERDICT r10 next #5): REL variables import too — the
        # rel's (src, dst[, type], props) columns ride from the outer
        # frame into the block (joined in on the anchor ids) and join
        # back as extra, null-safe correlation keys, so invocations
        # with the same anchors but different rels stay distinct. A
        # node anchor must still drive the re-scan.
        if not any(isinstance(scope.get(a), NodeBinding)
                   for a in imports):
            raise UnsupportedError(
                "correlated CALL { } needs at least one imported NODE "
                "variable to anchor the block; relationship imports "
                "ride alongside a node anchor")
        if inner.unions:
            return self._apply_correlated_call_union(
                df, scope, inner, imports, optional)
        sub_out, anchors, names, compiled, carries, rel_keys = \
            self._correlated_arm_frame(df, scope, inner, imports)
        join_conds = [
            F.col(scope.get(a).id_pcol) == F.col(f"__ck_{a}")
            for a in anchors]
        # rel-import keys: null-safe (a null property must match its
        # own block row, not annihilate the invocation)
        join_conds += [
            F.col(outer_pc).eqNullSafe(F.col(ck))
            for ck, outer_pc in rel_keys]
        cond = join_conds[0]
        for c in join_conds[1:]:
            cond = cond & c
        # openCypher row semantics: an ALL-aggregate block yields one
        # row per invocation even with zero matches (count/sum -> 0,
        # collect -> [], min/max/avg -> null), so it LEFT-joins back
        # with the zero-defined aggregates coalesced; mixed or
        # non-aggregate blocks yield zero rows on zero matches,
        # dropping the outer row (inner). Known divergence: an
        # arithmetic wrapper over an aggregate (count(*) + 1) comes
        # back null rather than evaluated-on-empty.
        # OPTIONAL CALL additionally left-joins the row-returning
        # forms (outer rows with no block rows survive, NULL-filled)
        any_agg = any(agg for _, _, agg, _ in compiled)
        # a carried node/rel output is a group key, so a zero-match
        # invocation has no row to carry — never the aggregate-on-
        # empty completion case
        all_agg = (any_agg and not carries
                   and all(agg for _, _, agg, _ in compiled))
        out = df.join(
            sub_out, cond,
            "left" if (all_agg or optional) else "inner"
        ).drop(*[f"__ck_{a}" for a in anchors],
               *[ck for ck, _ in rel_keys])
        if all_agg:
            for name, _, _, empty_fill in compiled:
                if empty_fill is not None:
                    out = out.withColumn(
                        name, F.coalesce(F.col(name), empty_fill))
        for carry_b, _ in carries:
            scope.bind(carry_b)
        out_dtypes = dict(out.dtypes)
        for name in names:
            scope.bind(ScalarBinding(name, dtype=out_dtypes.get(name)))
        return out

    def _correlated_arm_frame(
        self, df: DataFrame, scope: Scope,
        inner: "ast.ReadQuery", imports: list[str],
    ) -> tuple:
        """Compile ONE correlated-CALL arm (a full pipeline body with
        the import WITH already stripped into ``imports``) into its
        per-anchor result frame: columns ``__ck_<anchor>...`` +
        the RETURN output names. Shared by the single-arm path and
        the UNION path (each union arm compiles through here
        independently). Returns (frame, anchors, names, compiled
        item metadata)."""
        body = inner.parts[1:]
        # Nested CALL blocks (r10): correlated-inside-correlated now
        # compiles — `_finish_call_part` routes each nested block
        # through `_apply_call_subquery`, which detects the inner
        # import WITH and recurses into `_apply_correlated_call`
        # against the BLOCK's frame and scope (the inner block's
        # anchors re-scan block-locally and join back on their ids,
        # exactly like at top level). Uncorrelated inner blocks keep
        # the r9 cross-join path.
        if not body or not body[0].matches:
            raise UnsupportedError(
                "correlated CALL { } must start with a MATCH after "
                "the import WITH")
        first = body[0]
        rest = body[1:]
        multipart = bool(rest) or first.with_clause is not None
        rc = inner.return_clause
        node_imports = [a for a in imports
                        if isinstance(scope.get(a), NodeBinding)]
        rel_imports = [a for a in imports
                       if isinstance(scope.get(a), RelBinding)]
        # openCypher visibility: ONLY imported variables reach the
        # block — compile the pattern against a scope holding just
        # those bindings, so a non-imported outer name is fresh.
        imp_scope = Scope({a: scope.bindings[a] for a in node_imports})
        required = [m for m in first.matches if not m.optional]
        optionals = [m for m in first.matches if m.optional]
        if required:
            pattern = self._build_pattern(required, imp_scope)
            anchors = [a for a in pattern.nodes if a in node_imports]
            if not anchors:
                raise PlanError(
                    "correlated CALL { } block must use at least one "
                    "imported variable in its MATCH pattern")
        else:
            # r11 (VERDICT r10 next #5): the block LEADS with OPTIONAL
            # MATCH — the base frame is the imported anchors' own node
            # scans (per-invocation key space), and the optionals
            # left-join onto it below, so a no-match invocation keeps
            # one NULL-filled row: openCypher's OPTIONAL MATCH row
            # semantics per invocation.
            anchors = list(node_imports)
            pattern = Pattern(nodes={
                a: NodeEntity(alias=a, label=scope.get(a).label)
                for a in anchors})
        for node in pattern.nodes.values():
            node.prebound = False  # anchors re-scan inside the block
        self._infer(pattern)
        refs: set[str] = set()
        if first.where is not None:
            collect_aliases(first.where, refs)
        has_star = False
        for it in rc.items:
            if isinstance(it.expr, ast.Star):
                has_star = True  # expands post-compile (needs the
                continue         # block scope); every entity is a ref
            collect_aliases(it.expr, refs)
        if has_star:
            refs |= set(pattern.nodes)
        for ob in inner.order_by:
            collect_aliases(ob.expr, refs)
        if multipart:
            # anchors thread through every intermediate WITH (they
            # are the implicit per-invocation keys), so their columns
            # must survive projection — no id-only elision here
            refs |= set(anchors)
        sub_scope = Scope()
        prev_override = self._elide_override
        self._elide_override = prev_override | {
            a for a in anchors if a not in refs}
        try:
            if not required and df is not None and len(anchors) >= 2:
                # r12 (ADVICE r11): a leading-OPTIONAL block with 2+
                # imported anchors assembled fresh FULL label scans as
                # isolated components, which cross-join — O(|A|x|B|)
                # intermediate rows before the join-back pruned them.
                # Seed the base from the OUTER frame's distinct
                # anchor-id combinations instead and equi-join each
                # anchor's (block-local, possibly id-elided) scan on
                # its id: the block only materializes combinations the
                # outer query actually invokes, linear in the outer
                # frame at any scale.
                seed_cols = [scope.get(a).id_pcol for a in anchors]
                sub_df = df.select(*seed_cols).distinct()
                for a in anchors:
                    single = Pattern(nodes={a: pattern.nodes[a]})
                    frame = self._assemble(
                        None, sub_scope, single, ast.QueryPart())
                    key = sub_scope.get(a).id_pcol
                    outer_key = scope.get(a).id_pcol
                    if key != outer_key:  # defensive: pcol is
                        sub_df = sub_df.withColumnRenamed(  # alias-
                            outer_key, key)                 # derived
                    sub_df = sub_df.join(frame, on=key, how="inner")
            else:
                sub_df = self._assemble(
                    None, sub_scope, pattern, ast.QueryPart())
        finally:
            self._elide_override = prev_override
        _bind_path_vars(pattern, sub_scope)
        # r11: imported REL variables — their (src, dst[, type],
        # props) columns already exist in the OUTER frame; a distinct
        # (anchor ids x rel columns) slice of it joins into the block
        # frame on the anchor ids (the block re-scan binds the same
        # pcol names: same alias, same label), making r.prop legal in
        # the block's WHERE/RETURN. Each rel column then joins BACK as
        # an extra null-safe correlation key, so two outer rows with
        # the same anchors but different rels stay distinct
        # invocations. (A multi-type rel's per-row type column rides
        # too, though an intermediate WITH re-carry drops it — same
        # limitation as any WITH rel carry.)
        rel_keys: list[tuple[str, str]] = []
        if rel_imports:
            anchor_outer = [scope.get(a).id_pcol for a in anchors]
            rel_pcols: list[str] = []
            for r in rel_imports:
                rb = scope.get(r)
                cols = [rb.src_pcol, rb.dst_pcol]
                if rb.type_pcol:
                    # multi-type imports work in multipart blocks too
                    # (r12, VERDICT r11 missing #5): the per-row type
                    # column now survives intermediate WITH re-carries
                    # (_project carries type_pcol with the binding)
                    cols.append(rb.type_pcol)
                cols += [pcol(r, c) for c in rb.columns]
                for c in cols:
                    if c not in rel_pcols:
                        rel_pcols.append(c)
            slice_df = df.select(*anchor_outer, *rel_pcols).distinct()
            sub_anchor = [sub_scope.get(a).id_pcol for a in anchors]
            for bn, on in zip(sub_anchor, anchor_outer):
                if bn != on:  # defensive: pcol is alias-derived, equal
                    slice_df = slice_df.withColumnRenamed(on, bn)
            sub_df = sub_df.join(slice_df, on=sub_anchor, how="inner")
            for r in rel_imports:
                sub_scope.bind(scope.get(r))
            rel_keys = [(f"__ck_r{i}", c)
                        for i, c in enumerate(rel_pcols)]
        carry_vars = anchors + rel_imports
        sub_df, sub_scope = self._finish_call_part(
            sub_df, sub_scope, first, optionals, carry_vars)
        for p in rest:
            p_required = [m for m in p.matches if not m.optional]
            p_optionals = [m for m in p.matches if m.optional]
            if p_required:
                p_pattern = self._build_pattern(p_required, sub_scope)
                self._infer(p_pattern)
                sub_df = self._assemble(sub_df, sub_scope, p_pattern, p)
                _bind_path_vars(p_pattern, sub_scope)
            sub_df, sub_scope = self._finish_call_part(
                sub_df, sub_scope, p, p_optionals, carry_vars)
        ec = ExprCompiler(sub_scope, self.params, self._prop_dtype)
        # block projection: anchor id keys + the RETURN items;
        # aggregate items group by (anchor ids + non-aggregate items)
        key_cols = []
        for a in anchors:
            key_cols.append((f"__ck_{a}", sub_scope.get(a).id_pcol))
        # rel-import correlation keys ride the frame under their outer
        # pcol names (group keys for aggregates, window partition keys
        # for per-invocation top-N, join-back keys for the caller)
        key_cols += rel_keys
        # RETURN * expands to the block's LOCAL variables, in binding
        # order: imports are excluded (they are already bound in the
        # enclosing query — openCypher subquery RETURN * exports only
        # block-introduced names) and hidden __-prefixed internals
        # never surface
        items: list[ast.ReturnItem] = []
        for it in rc.items:
            if not isinstance(it.expr, ast.Star):
                items.append(it)
                continue
            star = [n for n in sub_scope.bindings
                    if n not in imports and not n.startswith("__")
                    # path variables are omitted from the block's *:
                    # their relational rendering is an id array that
                    # breaks length()/relationships() downstream —
                    # return a path explicitly if that array is what
                    # you want (r9 review)
                    and not isinstance(sub_scope.get(n), PathBinding)]
            if not star:
                raise PlanError(
                    "RETURN * inside this CALL { } block has nothing "
                    "to return (no block-local variables)")
            items.extend(ast.ReturnItem(ast.Variable(n)) for n in star)
        names: list[str] = []
        compiled: list[tuple[str, "F.Column", bool, object]] = []
        # node/relationship outputs (explicit or via *) CARRY their
        # whole binding through the block projection — every property
        # column rides as a group key / select column — so the
        # enclosing query receives a real node variable, exactly as a
        # WITH would carry it. (binding_to_attach, [(out_pcol,
        # src_pcol)...]) pairs; attached by the caller after the join.
        carries: list[tuple[object, list[tuple[str, str]]]] = []
        for it in items:
            if isinstance(it.expr, ast.Variable) and isinstance(
                    sub_scope.get(it.expr.name),
                    (NodeBinding, RelBinding)):
                b = sub_scope.get(it.expr.name)
                out_alias = it.alias or it.expr.name
                if scope.get(out_alias) is not None:
                    raise PlanError(
                        f"CALL {{ }} subquery returns '{out_alias}', "
                        f"which is already bound in the enclosing "
                        f"query")
                if any(cb.alias == out_alias for cb, _ in carries) \
                        or out_alias in names:
                    raise PlanError(
                        f"duplicate output name '{out_alias}' in "
                        f"CALL {{ }}")
                cols = [(pcol(out_alias, c), pcol(it.expr.name, c))
                        for c in b.columns]
                if isinstance(b, NodeBinding):
                    carry_b = NodeBinding(
                        alias=out_alias, label=b.label,
                        id_column=b.id_column,
                        columns=list(b.columns))
                else:
                    # rel endpoints/type ride under NORMALIZED names
                    # derived from the OUTPUT alias (r10) — this both
                    # makes `RETURN r AS s` work and aligns frame
                    # schemas across UNION arms whose patterns bind
                    # different endpoint columns. The multi-type
                    # per-row type column must ride the carry or the
                    # outer type(r) silently falls back to the
                    # primary arm's constant (r9 review).
                    new_src = pcol(out_alias, "__src")
                    new_dst = pcol(out_alias, "__dst")
                    cols.append((new_src, b.src_pcol))
                    cols.append((new_dst, b.dst_pcol))
                    new_type = None
                    if b.type_pcol:
                        new_type = pcol(out_alias, "__type")
                        cols.append((new_type, b.type_pcol))
                    carry_b = RelBinding(
                        alias=out_alias, type_name=b.type_name,
                        columns=list(b.columns),
                        src_pcol=new_src, dst_pcol=new_dst,
                        fwd_storage=b.fwd_storage,
                        type_pcol=new_type)
                carries.append((carry_b, cols))
                continue
            name = it.alias
            if name is None:
                if isinstance(it.expr, ast.Variable):
                    name = it.expr.name
                else:
                    raise PlanError(
                        "alias every RETURN item of a correlated "
                        "CALL { } block (… AS name)")
            if scope.get(name) is not None:
                raise PlanError(
                    f"CALL {{ }} subquery returns '{name}', which is "
                    f"already bound in the enclosing query")
            if name in names or any(
                    cb.alias == name for cb, _ in carries):
                raise PlanError(
                    f"duplicate output name '{name}' in CALL {{ }}")
            names.append(name)
            # aggregates with a defined value on EMPTY input (openCypher:
            # count -> 0, sum -> 0, collect -> []); min/max/avg are null
            empty_fill = None
            if isinstance(it.expr, ast.FnCall):
                fn = it.expr.name.lower()
                if fn == "count":
                    empty_fill = F.lit(0).cast("bigint")
                elif fn == "sum":
                    empty_fill = F.lit(0)
                elif fn == "collect":
                    empty_fill = F.array()
            compiled.append(
                (name, ec.compile(it.expr),
                 contains_aggregate(it.expr), empty_fill))
        any_agg = any(agg for _, _, agg, _ in compiled)
        keys = [F.col(pc).alias(k) for k, pc in key_cols]
        carry_cols = [F.col(src).alias(dst)
                      for _, cols in carries for dst, src in cols]
        if any_agg:
            group_cols = keys + carry_cols + [
                c.alias(n) for n, c, agg, _ in compiled if not agg]
            aggs = [c.alias(n) for n, c, agg, _ in compiled if agg]
            sub_out = sub_df.groupBy(*group_cols).agg(*aggs)
        else:
            sub_out = sub_df.select(
                *keys, *carry_cols,
                *[c.alias(n) for n, c, _, _ in compiled])
            if rc.distinct:
                # RETURN DISTINCT per invocation: the anchor keys ride
                # in the projection, so a plain distinct is exactly
                # per-anchor dedup (with aggregates the group-by above
                # already made rows unique — DISTINCT is a no-op there)
                sub_out = sub_out.distinct()
        if inner.order_by or inner.skip or inner.limit:
            order_cols = []
            for ob in inner.order_by:
                # pre-aggregation expressions are projected away by
                # the block projection, so order keys must be the
                # block's own output names — the top-N-per-group use
                if not (isinstance(ob.expr, ast.Variable)
                        and ob.expr.name in names):
                    raise PlanError(
                        "ORDER BY inside a correlated CALL { } must "
                        "use the block's RETURN aliases")
                target = F.col(ob.expr.name)
                order_cols.append(
                    target.asc() if ob.ascending else target.desc())
            # per-anchor window (top-N per group as a window, never a
            # per-row loop); output names appended as tiebreakers so
            # the kept set is deterministic under any partitioning
            order_cols += [F.col(n).asc() for n in names]
            w = Window.partitionBy(
                *[F.col(k) for k, _ in key_cols]).orderBy(*order_cols)
            lo = inner.skip or 0
            hi = lo + inner.limit if inner.limit is not None else None
            sub_out = sub_out.withColumn(
                "__crn", F.row_number().over(w))
            cond = F.col("__crn") > lo
            if hi is not None:
                cond = cond & (F.col("__crn") <= hi)
            sub_out = sub_out.filter(cond).drop("__crn")
        return sub_out, anchors, names, compiled, carries, rel_keys

    def _apply_correlated_call_union(
        self, df: DataFrame, scope: Scope,
        inner: "ast.ReadQuery", imports: list[str],
        optional: bool = False,
    ) -> DataFrame:
        """Correlated CALL with UNION [ALL] arms (r8 — closes the
        last v2 wall): every arm is a full correlated body compiled
        independently through `_correlated_arm_frame`, arm results
        union per invocation, and ONE join attaches them back on the
        anchor ids. openCypher requires each arm to re-state the
        import WITH and to return the same columns; all arms must
        also use the same imported variables as anchors (the join
        keys) and agree on UNION vs UNION ALL (openCypher forbids
        mixing). An ALL-aggregate arm contributes one row per
        invocation even on zero matches (count -> 0 etc.), so its
        frame is completed against the outer anchor-id set BEFORE the
        union — per-arm semantics identical to the single-arm
        block."""
        import dataclasses

        # the parser nests chains (`a UNION b UNION ALL c` parses as
        # a.unions=[(b{unions=[(c,...)]}, ...)]) — flatten first
        arms: list = []
        arm_flags: list = []

        def flatten(q, flag):
            arms.append(dataclasses.replace(q, unions=[]))
            arm_flags.append(flag)
            for q2, d2 in q.unions:
                flatten(q2, bool(d2))

        flatten(inner, None)
        flags = set(arm_flags[1:])
        if len(flags) > 1:
            raise PlanError(
                "cannot mix UNION and UNION ALL inside a CALL { } "
                "block (openCypher)")
        union_all = not flags.pop()
        for q in arms[1:]:
            arm_imports = _call_import_aliases(q)
            if arm_imports is None or set(arm_imports) != set(imports):
                raise UnsupportedError(
                    "every UNION arm of a correlated CALL { } must "
                    "re-state the same import WITH (openCypher: "
                    "importing WITH per arm)")
        frames = []
        ref_anchors: list[str] = []
        ref_names: list[str] = []
        ref_carries: list = []
        ref_carry_sig: list = []
        ref_carry_cols: list[str] = []

        def carry_sig(cs):
            # structural signature a union of entity outputs must
            # agree on: same alias, same kind, same label/type, same
            # property columns — otherwise one binding can't describe
            # the unioned rows
            sig = []
            for cb, _ in cs:
                if isinstance(cb, NodeBinding):
                    sig.append((cb.alias, "node", cb.label,
                                tuple(cb.columns)))
                else:
                    sig.append((cb.alias, "rel", cb.type_name,
                                tuple(cb.columns),
                                cb.type_pcol is not None))
            return sorted(sig)

        ref_rel_keys: list[tuple[str, str]] = []
        for i, arm in enumerate(arms):
            sub_out, anchors, names, compiled, carries, rel_keys = \
                self._correlated_arm_frame(df, scope, arm, imports)
            if i == 0:
                ref_anchors, ref_names = anchors, names
                ref_carries = carries
                ref_carry_sig = carry_sig(carries)
                ref_carry_cols = [dst for _, cols in carries
                                  for dst, _ in cols]
                # rel-import keys are a pure function of the (shared)
                # import list, so every arm produces the same list
                ref_rel_keys = rel_keys
            else:
                if set(anchors) != set(ref_anchors):
                    raise UnsupportedError(
                        "UNION arms of a correlated CALL { } must "
                        "anchor on the same imported variables "
                        f"({sorted(ref_anchors)} vs {sorted(anchors)})")
                if names != ref_names:
                    raise PlanError(
                        "UNION arms must return the same column "
                        f"names: {ref_names} vs {names}")
                if carry_sig(carries) != ref_carry_sig:
                    # node/rel outputs (r10): allowed when every arm
                    # returns the SAME entity shape — same variable,
                    # same label/type, same property set — since one
                    # binding must describe the unioned rows
                    raise UnsupportedError(
                        "UNION arms of a correlated CALL { } return "
                        "node/relationship variables with different "
                        "shapes (label/type or property columns "
                        "differ) — return scalar properties instead")
            any_agg = any(agg for _, _, agg, _ in compiled)
            # a carried node/rel output is a group key, so a
            # zero-match invocation has no row to carry — never the
            # aggregate-on-empty completion case (same rule as the
            # single-arm path)
            all_agg = (any_agg and not carries
                       and all(agg for _, _, agg, _ in compiled))
            if all_agg:
                # complete the arm against the outer invocations so
                # zero-match invocations still contribute their
                # aggregate-on-empty row (count -> 0, collect -> []);
                # rel-import keys are part of the invocation identity
                anchor_rows = df.select(
                    *[F.col(scope.get(a).id_pcol).alias(f"__ck_{a}")
                      for a in ref_anchors],
                    *[F.col(pc).alias(ck)
                      for ck, pc in ref_rel_keys]).distinct()
                completed = anchor_rows.join(
                    sub_out,
                    [f"__ck_{a}" for a in ref_anchors]
                    + [ck for ck, _ in ref_rel_keys],
                    "left")
                for name, _, _, empty_fill in compiled:
                    if empty_fill is not None:
                        completed = completed.withColumn(
                            name, F.coalesce(F.col(name), empty_fill))
                sub_out = completed
            frames.append(sub_out.select(
                *[f"__ck_{a}" for a in ref_anchors],
                *[ck for ck, _ in ref_rel_keys], *ref_names,
                *ref_carry_cols))
        union_out = frames[0]
        for f in frames[1:]:
            union_out = union_out.unionByName(f)
        if not union_all:
            union_out = union_out.dropDuplicates(
                [f"__ck_{a}" for a in ref_anchors]
                + [ck for ck, _ in ref_rel_keys] + ref_names
                + ref_carry_cols)
        cond = None
        for ck, pc in ref_rel_keys:
            c = F.col(pc).eqNullSafe(F.col(ck))
            cond = c if cond is None else cond & c
        for a in ref_anchors:
            # NULL-SAFE keys (r9 advice): an import bound by OPTIONAL
            # MATCH is NULL for some outer rows; the all-aggregate
            # completion above emits their count-0/collect-[] row
            # under a NULL __ck key (anchor_rows.distinct() keeps one
            # NULL, the left join leaves it unmatched, the coalesce
            # fills it), so the attach join must match NULL to NULL —
            # a plain == would silently drop those outer rows, unlike
            # the single-arm path's LEFT join
            c = F.col(scope.get(a).id_pcol).eqNullSafe(
                F.col(f"__ck_{a}"))
            cond = c if cond is None else cond & c
        # at least one completed (all-aggregate) arm guarantees a row
        # per invocation, so inner join already keeps every outer row
        out = df.join(
            union_out, cond, "left" if optional else "inner"
        ).drop(*[f"__ck_{a}" for a in ref_anchors],
               *[ck for ck, _ in ref_rel_keys])
        for carry_b, _ in ref_carries:
            scope.bind(carry_b)
        out_dtypes = dict(out.dtypes)
        for name in ref_names:
            scope.bind(ScalarBinding(name, dtype=out_dtypes.get(name)))
        return out

    def _finish_call_part(self, sub_df, sub_scope, part, optionals,
                          anchors):
        """The post-MATCH tail of one correlated-block segment:
        OPTIONAL MATCHes, UNWIND, WHERE (pattern predicates and
        COUNT { } rewrites included), then the intermediate WITH —
        which implicitly carries the anchor aliases, so the
        per-invocation keys survive every projection: an aggregating
        WITH groups by them (per-invocation aggregation) and a
        DISTINCT WITH dedups including them (per-invocation
        DISTINCT). ORDER BY/SKIP/LIMIT attached to an intermediate
        WITH compile as a PER-ANCHOR window (top-N per invocation,
        never a global limit); order keys must be the WITH's output
        aliases or properties of a carried node. Returns the updated
        (sub_df, sub_scope)."""
        for mc in optionals:
            sub_df = self._apply_optional(sub_df, sub_scope, mc)
        for csub in part.calls:
            # nested blocks: an UNCORRELATED inner block is an
            # independent frame cross-joined per row, exactly as at
            # top level (r9); a CORRELATED inner block recurses into
            # _apply_correlated_call against this block's frame and
            # scope (r10). Outputs bind as block-local scalars, so
            # later WITHs must carry them.
            sub_df = self._apply_call_subquery(sub_df, sub_scope, csub)
        if part.unwind is not None:
            ec = ExprCompiler(sub_scope, self.params, self._prop_dtype)
            arr = ec.compile(part.unwind.expr)
            sub_df = sub_df.select(
                "*", F.explode(arr).alias(part.unwind.alias))
            sub_scope.bind(ScalarBinding(
                part.unwind.alias,
                dtype=dict(sub_df.dtypes).get(part.unwind.alias)))
        if part.where is not None:
            residual, pattern_preds = _split_pattern_predicates(
                part.where)
            for pred, negated in pattern_preds:
                sub_df = self._apply_pattern_predicate(
                    sub_df, sub_scope, pred, negated)
            if residual is not None:
                sub_df, residual = self._rewrite_count_subqueries(
                    sub_df, sub_scope, residual)
                ec = ExprCompiler(sub_scope, self.params, self._prop_dtype)
                sub_df = sub_df.filter(ec.compile(residual))
        if part.with_clause is not None:
            items = list(part.with_clause.items)
            carried = {
                it.expr.name for it in items
                if isinstance(it.expr, ast.Variable)
                and (it.alias is None or it.alias == it.expr.name)
            }
            items += [ast.ReturnItem(ast.Variable(a))
                      for a in anchors if a not in carried]
            sub_df, sub_scope = self._project(
                sub_df, sub_scope, items,
                distinct=part.with_clause.distinct,
                order_by=[], skip=None, limit=None, final=False)
            if part.skip is not None or part.limit is not None:
                sub_df = self._call_with_window(
                    sub_df, sub_scope, part, anchors)
            # a bare mid-pipeline ORDER BY (no SKIP/LIMIT) is a
            # relational no-op: row order carries no meaning between
            # WITH boundaries, so nothing to compile
        return sub_df, sub_scope

    def _call_with_window(self, sub_df, sub_scope, part, anchors):
        """Per-anchor SKIP/LIMIT for an intermediate WITH inside a
        correlated CALL block: rank within the anchor-id partition by
        the WITH's order keys (output aliases or carried-node
        properties), with every scalar output and carried-node id
        appended as tiebreakers so the kept rows are deterministic
        under any partitioning."""
        scalar_names = []
        node_ids = []
        for name, b in sub_scope.bindings.items():
            if isinstance(b, ScalarBinding):
                scalar_names.append(name)
            elif isinstance(b, NodeBinding):
                node_ids.append(b.id_pcol)
        known = set(scalar_names)
        order_cols = []
        for ob in part.order_by:
            e = ob.expr
            if isinstance(e, ast.Variable) and e.name in known:
                c = F.col(e.name)
            elif (isinstance(e, ast.PropertyAccess)
                  and isinstance(sub_scope.get(e.alias), NodeBinding)
                  and e.key in sub_scope.get(e.alias).columns):
                c = F.col(pcol(e.alias, e.key))
            else:
                raise PlanError(
                    "ORDER BY on an intermediate WITH inside a "
                    "correlated CALL { } must use the WITH's output "
                    "aliases or a carried node's properties")
            order_cols.append(c.asc() if ob.ascending else c.desc())
        order_cols += [F.col(n).asc() for n in sorted(scalar_names)]
        order_cols += [F.col(c).asc() for c in sorted(node_ids)]
        part_cols = []
        for a in anchors:
            b = sub_scope.get(a)
            if isinstance(b, RelBinding):
                # rel-import invocation keys (r11): endpoints + props
                part_cols += [F.col(b.src_pcol), F.col(b.dst_pcol)]
                part_cols += [F.col(pcol(a, c)) for c in b.columns]
            else:
                part_cols.append(F.col(b.id_pcol))
        w = Window.partitionBy(*part_cols).orderBy(*order_cols)
        lo = part.skip or 0
        hi = lo + part.limit if part.limit is not None else None
        sub_df = sub_df.withColumn("__cwrn", F.row_number().over(w))
        cond = F.col("__cwrn") > lo
        if hi is not None:
            cond = cond & (F.col("__cwrn") <= hi)
        return sub_df.filter(cond).drop("__cwrn")

    def _rewrite_count_subqueries(
        self, df: DataFrame, scope: Scope, expr: ast.Expr,
    ) -> tuple[DataFrame, ast.Expr]:
        """Replace every ``COUNT { ... }`` node inside ``expr`` with a
        hidden scalar column: the block compiles like a pattern
        predicate, but instead of a semi-join its matches are counted
        per anchor-id tuple and LEFT-joined back (0 when no match).
        Returns the augmented DataFrame and the rewritten expression;
        a no-subquery expression passes through untouched."""
        if not getattr(self, "_maybe_csq", True):
            return df, expr  # parser saw no COUNT { }: skip the walk
        import dataclasses

        state = {"df": df}

        def attach(e: ast.CountSubquery) -> ast.Expr:
            dexpr = getattr(e, "distinct_expr", None)
            drefs: set[str] = set()
            if dexpr is not None:
                collect_aliases(dexpr, drefs)
            sub_df, sub_scope, anchors = self._subquery_assembly(
                scope, e.path, e.where, keep_aliases=drefs)
            self._anon_counter += 1
            name = f"__csq{self._anon_counter}"
            keys = [f"{name}_k{i}" for i in range(len(anchors))]
            key_cols = [
                F.col(sub_scope.get(a).id_pcol).alias(k)
                for a, k in zip(anchors, keys)
            ]
            if dexpr is None:
                sub = sub_df.select(*key_cols)
                grouped = sub.groupBy(*keys).agg(
                    F.count(F.lit(1)).alias(name))
            else:
                # COUNT { ... RETURN DISTINCT e }: count distinct
                # VALUES of e per anchor tuple — a NULL counts once
                # (openCypher's distinct-ROWS semantics; Spark's
                # count_distinct drops NULLs, so add the null-row
                # indicator back)
                unknown = drefs - set(sub_scope.bindings)
                if unknown:
                    raise PlanError(
                        f"COUNT {{ }} RETURN DISTINCT expression "
                        f"references {sorted(unknown)} not bound "
                        f"inside the pattern")
                val = ExprCompiler(sub_scope, self.params, self._prop_dtype).compile(dexpr)
                sub = sub_df.select(*key_cols, val.alias(f"{name}_v"))
                grouped = sub.groupBy(*keys).agg(
                    (F.count_distinct(F.col(f"{name}_v"))
                     + F.max(F.when(F.col(f"{name}_v").isNull(),
                                    F.lit(1)).otherwise(F.lit(0))))
                    .alias(name))
            cond = None
            for a, k in zip(anchors, keys):
                c = F.col(scope.get(a).id_pcol) == F.col(k)
                cond = c if cond is None else cond & c
            state["df"] = (
                state["df"].join(grouped, cond, "left").drop(*keys)
                .withColumn(name, F.coalesce(
                    F.col(name), F.lit(0).cast("bigint")))
            )
            scope.bind(ScalarBinding(name))
            return ast.Variable(name)

        def attach_pc(e: "ast.PatternComprehension") -> ast.Expr:
            # pattern comprehension: like COUNT { } but collecting the
            # map expression per anchor-id tuple; [] when no match.
            # The list is sorted (values ascending, NULLs LAST) —
            # deterministic under any partitioning (openCypher leaves
            # the order unspecified) and replayable by list_sort. NULL
            # map values are KEPT (openCypher semantics — collect_list
            # would silently drop them, r7 review): values ride inside
            # a (is_null, v) struct through the collect, sort by the
            # struct, then unwrap.
            map_refs: set[str] = set()
            collect_aliases(e.map, map_refs)
            sub_df, sub_scope, anchors = self._subquery_assembly(
                scope, e.path, e.where, keep_aliases=map_refs)
            unknown = map_refs - set(sub_scope.bindings)
            if unknown:
                raise PlanError(
                    f"pattern comprehension | expression references "
                    f"{sorted(unknown)} not bound inside the pattern")
            self._anon_counter += 1
            name = f"__csq{self._anon_counter}"
            keys = [f"{name}_k{i}" for i in range(len(anchors))]
            ec = ExprCompiler(sub_scope, self.params, self._prop_dtype)
            val = ec.compile(e.map)
            sub = sub_df.select(
                *[F.col(sub_scope.get(a).id_pcol).alias(k)
                  for a, k in zip(anchors, keys)],
                F.struct(
                    val.isNull().cast("int").alias("n"),
                    val.alias("v"),
                ).alias(f"{name}_v"),
            )
            # COLLECT { ... RETURN DISTINCT e } dedups the sorted
            # struct array BEFORE unwrapping (array_distinct over
            # (is_null, v) structs keeps one NULL — collect_set would
            # drop them all)
            collected = F.array_sort(F.collect_list(f"{name}_v"))
            if getattr(e, "distinct", False):
                collected = F.array_distinct(collected)
            grouped = sub.groupBy(*keys).agg(
                F.transform(collected, lambda s: s["v"]).alias(name))
            cond = None
            for a, k in zip(anchors, keys):
                c = F.col(scope.get(a).id_pcol) == F.col(k)
                cond = c if cond is None else cond & c
            state["df"] = (
                state["df"].join(grouped, cond, "left").drop(*keys)
                .withColumn(name, F.coalesce(F.col(name), F.array()))
            )
            scope.bind(ScalarBinding(name))
            return ast.Variable(name)

        def conv(v):
            if isinstance(v, ast.CountSubquery):
                return attach(v)
            if isinstance(v, ast.PatternComprehension):
                return attach_pc(v)
            # size([ pattern | expr ]) never needs the list: the map
            # is total, so the size IS the match count — compile it
            # as the (cheaper) grouped count instead of collect+sort.
            # (NOT valid for COLLECT { RETURN DISTINCT e }: distinct
            # values can be fewer than matches — that keeps the list.)
            if (isinstance(v, ast.FnCall) and v.name.lower() == "size"
                    and len(v.args) == 1
                    and isinstance(v.args[0], ast.PatternComprehension)
                    and not v.args[0].distinct):
                pc = v.args[0]
                return attach(ast.CountSubquery(pc.path, pc.where))
            if hasattr(v, "__dataclass_fields__"):
                changes = {
                    f.name: conv(getattr(v, f.name))
                    for f in dataclasses.fields(v)
                }
                return dataclasses.replace(v, **changes)
            if isinstance(v, tuple):
                return tuple(conv(x) for x in v)
            if isinstance(v, list):
                return [conv(x) for x in v]
            if isinstance(v, dict):
                return {k: conv(x) for k, x in v.items()}
            return v

        if not _contains_count_subquery(expr):
            return df, expr
        out = conv(expr)
        return state["df"], out

    def _build_pattern(self, matches: list[ast.MatchClause], scope: Scope) -> Pattern:
        pattern = Pattern()
        for mc in matches:
            clause_aliases: set[str] = set()
            for pi, path in enumerate(mc.paths):
                path_aliases: set[str] = set()
                node_aliases: list[str] = []
                rel_aliases: list[str] = []
                for np in path.nodes:
                    alias = np.alias or self._anon()
                    node_aliases.append(alias)
                    path_aliases.add(alias)
                    existing = pattern.nodes.get(alias)
                    if existing is None:
                        prebound = isinstance(scope.get(alias), NodeBinding)
                        label = np.label
                        if prebound and label is None:
                            label = scope.get(alias).label
                        pattern.nodes[alias] = NodeEntity(
                            alias=alias, label=label,
                            properties=dict(np.properties), prebound=prebound,
                            in_path_var=path.var is not None,
                        )
                    else:
                        if np.label is not None:
                            if existing.label is not None and existing.label != np.label:
                                raise PlanError(
                                    f"alias '{alias}' bound to two labels: "
                                    f"{existing.label} vs {np.label}"
                                )
                            existing.label = np.label
                        existing.properties.update(np.properties)
                        existing.in_path_var |= path.var is not None
                if path.shortest is not None and len(path.rels) != 1:
                    raise PlanError(
                        "shortestPath() takes a single-relationship "
                        "pattern (a)-[:T*..k]->(b)"
                    )
                for ri, rp in enumerate(path.rels):
                    alias = rp.alias or self._anon()
                    rel_aliases.append(alias)
                    if any(r.alias == alias for r in pattern.rels):
                        raise PlanError(
                            f"relationship alias '{alias}' used more than once"
                        )
                    # Unbounded * / *n.. (parser sentinel None) takes
                    # this compiler's cost-guard bound, so a
                    # per-session max_var_hops override applies to
                    # unbounded walks too.
                    eff_max_hops = (
                        rp.max_hops if rp.max_hops is not None
                        else self.max_var_hops
                    )
                    if eff_max_hops > self.max_var_hops:
                        raise PlanError(
                            f"variable-length upper bound *..{eff_max_hops} "
                            f"exceeds the cost guard ({self.max_var_hops}): "
                            "each extra hop adds an edge self-join (and a "
                            "shuffle at scale). Raise it explicitly with "
                            "GraphSession(max_var_hops=...) if the walk is "
                            "intentional"
                        )
                    # *9.. with max_var_hops=6 would otherwise resolve
                    # to an empty hop range (min 9 > effective max 6)
                    # and silently return nothing — surface the cost
                    # guard instead.
                    if rp.min_hops is not None and rp.min_hops > eff_max_hops:
                        raise PlanError(
                            f"variable-length lower bound *{rp.min_hops}.. "
                            f"exceeds the effective upper bound "
                            f"({eff_max_hops}, from the cost guard): raise "
                            "it with GraphSession(max_var_hops=...) if the "
                            "walk is intentional"
                        )
                    pattern.rels.append(RelEntity(
                        alias=alias, type_name=rp.type_name,
                        direction=rp.direction,
                        src=node_aliases[ri], dst=node_aliases[ri + 1],
                        properties=dict(rp.properties),
                        min_hops=rp.min_hops,
                        max_hops=eff_max_hops,
                        alt_types=tuple(rp.alt_types),
                        shortest=path.shortest is not None,
                        in_path_var=path.var is not None,
                    ))
                # Comma-separated patterns in one MATCH must connect
                # (reference errors on disconnected patterns,
                # logical_plan/match_clause.rs:200-205). Separate MATCH
                # clauses may cartesian-join (our upgrade).
                if pi > 0 and not (clause_aliases & path_aliases):
                    raise PlanError(
                        "comma-separated patterns must share an alias"
                    )
                clause_aliases |= path_aliases
                if path.var is not None:
                    if (path.var in pattern.nodes
                            or any(r.alias == path.var for r in pattern.rels)
                            or path.var in pattern.path_vars
                            or scope.get(path.var) is not None):
                        raise PlanError(
                            f"path variable '{path.var}' collides with an "
                            "existing alias"
                        )
                    pattern.path_vars[path.var] = (
                        list(node_aliases), list(rel_aliases)
                    )
        return pattern

    def _infer(self, pattern: Pattern) -> None:
        """Label/type inference + orientation validation
        (analyzer/schema_inference.rs:240-339 +
        analyzer/query_validation.rs:76-131)."""
        changed = True
        while changed:
            changed = False
            for rel in pattern.rels:
                if rel.orientation is not None and rel.schema is not None:
                    continue
                src = pattern.nodes[rel.src]
                dst = pattern.nodes[rel.dst]
                if rel.type_name is not None:
                    sch = self.catalog.relationship(rel.type_name)
                else:
                    cands = []
                    for sch_ in self.catalog.relationships.values():
                        if self._orient(sch_, rel.direction, src.label, dst.label):
                            cands.append(sch_)
                    if len(cands) != 1:
                        if src.label is None or dst.label is None:
                            continue  # wait for more labels
                        raise PlanError(
                            f"cannot infer relationship type between "
                            f"({src.label}) and ({dst.label}): "
                            f"{len(cands)} candidates"
                        )
                    sch = cands[0]
                    rel.type_name = sch.type_name
                    changed = True
                rel.schema = sch
                orientation = self._orient(sch, rel.direction, src.label, dst.label)
                if orientation is None:
                    rel.orientation = "invalid"
                    # Invalid patterns still need labels for scan schemas;
                    # claim the schema's own endpoints arbitrarily.
                    if src.label is None:
                        src.label = sch.from_node
                        changed = True
                    if dst.label is None:
                        dst.label = sch.to_node
                        changed = True
                    continue
                rel.orientation = orientation
                want_src = sch.from_node if orientation in ("fwd", "both") else sch.to_node
                want_dst = sch.to_node if orientation in ("fwd", "both") else sch.from_node
                if src.label is None:
                    src.label = want_src
                    changed = True
                if dst.label is None:
                    dst.label = want_dst
                    changed = True
        # Multi-type arms (-[:X|Y]->): each extra type contributes its own
        # (schema, orientation) arm; schema-incompatible arms match zero
        # relationships and are dropped.
        for rel in pattern.rels:
            if rel.alt_types and not rel.alt_resolved:
                src = pattern.nodes[rel.src]
                dst = pattern.nodes[rel.dst]
                for t in rel.alt_types:
                    sch2 = self.catalog.relationship(t)
                    o2 = self._orient(sch2, rel.direction,
                                      src.label, dst.label)
                    if o2 is None:
                        # This arm cannot connect the endpoints AT these
                        # labels. Distinguish "matches zero rows" (labels
                        # pinned by the user) from "would need a
                        # different node table" (labels inferred from the
                        # first type) — the latter is unsupported.
                        raise PlanError(
                            f"multi-type relationship arm '{t}' connects "
                            f"{sch2.from_node}->{sch2.to_node}, which "
                            f"does not fit ({src.label})-({dst.label}); "
                            "write the arms as separate MATCHes with "
                            "UNION instead"
                        )
                    rel.alt_resolved.append((sch2, o2))
        for node in pattern.nodes.values():
            if node.label is None:
                if len(self.catalog.nodes) == 1:
                    node.label = next(iter(self.catalog.nodes))
                else:
                    raise PlanError(
                        f"cannot infer label for node '{node.alias}'"
                    )

    @staticmethod
    def _orient(
        sch: RelationshipSchema, direction: str,
        src_label: Optional[str], dst_label: Optional[str],
    ) -> Optional[str]:
        """'fwd' if src=from/dst=to fits, 'rev' if mirrored, 'both' for
        a valid undirected self-type hop, None if schema-invalid."""
        fwd_ok = (src_label in (None, sch.from_node)) and (
            dst_label in (None, sch.to_node))
        rev_ok = (src_label in (None, sch.to_node)) and (
            dst_label in (None, sch.from_node))
        if direction == "out":
            return "fwd" if fwd_ok else None
        if direction == "in":
            return "rev" if rev_ok else None
        # either
        if fwd_ok and rev_ok:
            return "both"
        if fwd_ok:
            return "fwd"
        if rev_ok:
            return "rev"
        return None

    # ------------------------------------------------------------------
    # DataFrame assembly
    # ------------------------------------------------------------------
    def _scan_node(self, node: NodeEntity, scope: Scope) -> DataFrame:
        sch = self.catalog.node(node.label)
        df = self.load_table(node.label)
        raw_cols = list(df.columns)
        df = df.toDF(*[pcol(node.alias, c) for c in raw_cols])
        scope.bind(NodeBinding(
            alias=node.alias, label=node.label, id_column=sch.node_id,
            columns=sch.column_names or raw_cols,
        ))
        if node.properties:
            ec = ExprCompiler(scope, self.params, self._prop_dtype)
            for key, expr in node.properties.items():
                # Inline {k: v} props are per-table equality filters
                # (logical_plan/match_clause.rs:26-57).
                df = df.filter(
                    ref(pcol(node.alias, key)) == ec.compile(expr)
                )
        return df

    def _adjacency_edge_df(
        self, rel: RelEntity, scope: Scope
    ) -> Optional[DataFrame]:
        """Compile a hop through the materialized grouped-adjacency
        tables instead of the edge list — the reference's bitmap-index
        traversal (``arrayJoin(bitmapToArray(to_id))`` over
        ``{REL}_outgoing`` / ``{REL}_incoming``,
        graph_traversal_planning.rs:678-807).

        Eligibility mirrors the reference's gate
        (query_validation.rs:103-124 plus the edge-list tagging passes:
        match_clause.rs:52, filter_tagging.rs:153, 174,
        projection_tagging.rs:198): `_adjacency_rows` finds both
        direction tables, and the hop is a plain single hop whose rel
        alias is never filtered or projected. Returns None when
        ineligible -> caller falls back to the edge list.

        Scale shape: the adjacency table has one row per source node
        (pre-grouped at write time), so the hop is scan -> equi-join on
        src -> multiplicity-exact neighbor explode — no edge-table
        shuffle; written bucketed by src it co-partitions with the
        frontier."""
        if (
            _is_var(rel) or rel.shortest or rel.in_path_var
            or rel.alias in self._referenced
            or "*" in self._referenced
            # The edge-list 'both' plan dedups over (src, dst, props);
            # the prop-less adjacency tables dedup over bare pairs. The
            # two cardinalities only agree when the rel carries no
            # property columns (reciprocal edges with distinct props
            # must NOT collapse).
            or (rel.orientation == "both"
                and self._rel_props(rel.schema))
        ):
            return None
        a = rel.alias
        src_name, dst_name = pcol(a, "from_id"), pcol(a, "to_id")
        df = self._adjacency_rows(rel, src_name, dst_name)
        if df is None:
            return None
        scope.bind(RelBinding(
            alias=a, type_name=rel.schema.type_name, columns=[],
            src_pcol=src_name, dst_pcol=dst_name,
            fwd_storage={"fwd": True, "rev": False}.get(rel.orientation),
        ))
        return df

    def _adjacency(self, rel: RelEntity) -> Optional[tuple]:
        """``({REL}_outgoing, {REL}_incoming)`` grouped-adjacency tables
        a traversal of ``rel`` can read, or None: the type is declared
        ``ADJ INDEX(true)``, both tables are materialized (a write
        drops them while ``adj_index`` stays True), and the hop is a
        valid single-type one without inline properties (the grouped
        tables carry none)."""
        sch = rel.schema
        if (self.load_adjacency is None or not sch.adj_index
                or rel.orientation == "invalid" or rel.properties
                or rel.alt_resolved or rel.alt_types):
            return None
        outgoing = self.load_adjacency(f"{sch.type_name}_outgoing")
        incoming = self.load_adjacency(f"{sch.type_name}_incoming")
        if outgoing is None or incoming is None:
            return None
        return outgoing, incoming

    def _adjacency_rows(
        self, rel: RelEntity, src: str = "src", dst: str = "dst",
    ) -> Optional[DataFrame]:
        """Oriented ``(src, dst)`` pairs re-expanded from the
        `_adjacency` tables, or None. Each neighbor repeats by its
        stored multiplicity, so the pairs are row-for-row the edge
        list's (parallel edges count as distinct relationships);
        'both' is the UNION DISTINCT of the two direction tables
        (graph_traversal_planning.rs:695-721)."""
        tables = self._adjacency(rel)
        if tables is None:
            return None
        outgoing, incoming = tables
        if rel.orientation == "fwd":
            return expand_pairs(outgoing, src, dst)
        if rel.orientation == "rev":
            return expand_pairs(incoming, src, dst)
        return expand_pairs(outgoing, src, dst).union(
            expand_pairs(incoming, src, dst)).distinct()

    def _fk_endpoints(
        self, rel: RelEntity,
    ) -> Optional[tuple[str, str, str]]:
        """FK-edge fusion eligibility, shared by both flavors: the rel
        must be FK-backed (``GraphSchema.fk_side``) and a plain
        single-type, single-hop, directed hop whose alias is never
        referenced as a bare variable (bare rel refs expand all rel
        columns). Returns the side whose node rows hold the edges and
        the pattern aliases on its (from, to) sides under the hop's
        orientation, or None."""
        if (rel.alt_resolved or rel.alt_types or _is_var(rel)
                or rel.shortest
                or rel.orientation not in ("fwd", "rev")
                or rel.alias in self._bare_refs
                or "*" in self._bare_refs):
            return None
        side = self.catalog.fk_side(rel.schema)
        if side is None:
            return None
        if rel.orientation == "fwd":
            return side, rel.src, rel.dst
        return side, rel.dst, rel.src

    def _fk_edge(
        self, rel: RelEntity, df: DataFrame, scope: Scope, backing: str,
        src_col: str, dst_col: str,
    ) -> DataFrame:
        """Derive a fused hop's edge inside ``backing``'s node scan:
        from_id/to_id copy ``src_col``/``dst_col``, each accessed rel
        property copies the node column it physically is (only those
        are advertised — bare rel refs disable fusion), and inline
        ``{k: v}`` maps filter the node's own columns."""
        a = rel.alias
        props = [c for c in self._rel_props(rel.schema)
                 if c in self._prop_refs.get(a, set())]
        df = _with_copies(df, {
            pcol(a, "from_id"): src_col, pcol(a, "to_id"): dst_col,
            **{pcol(a, c): pcol(backing, c) for c in props}})
        scope.bind(RelBinding(
            alias=a, type_name=rel.schema.type_name, columns=props,
            src_pcol=pcol(a, "from_id"), dst_pcol=pcol(a, "to_id"),
        ))
        if rel.properties:
            ec = ExprCompiler(scope, self.params, self._prop_dtype)
            for key, expr in rel.properties.items():
                df = df.filter(ref(pcol(backing, key)) == ec.compile(expr))
        return df

    def _fusion_endpoint(
        self, rel: RelEntity, pattern: Pattern,
        find_component,
    ) -> Optional[tuple[str, str]]:
        """FK-edge fusion: when the relationship's backing table IS one
        endpoint's node table (derived-FK graphs — the edge "table" is
        just (fk, id) projected from the node table), the hop needs no
        separate edge scan: the endpoint's node scan carries the FK
        column. Returns (fused pattern alias, fk column in that node
        table) or None.

        The fused endpoint must be a plain fresh binding: not already
        in a component (a second scan would duplicate its prefixed
        columns), not prebound."""
        ends = self._fk_endpoints(rel)
        if ends is None:
            return None
        side, from_alias, to_alias = ends
        sch = rel.schema
        # to-flavor: the to-node's rows hold the FK from_column
        alias, fk = ((to_alias, sch.from_column) if side == "to"
                     else (from_alias, sch.to_column))
        if find_component(alias) is None and \
                not pattern.nodes[alias].prebound:
            return alias, fk
        return None

    def _fused_edge_df(
        self, rel: RelEntity, pattern: Pattern, scope: Scope,
        fused_alias: str, fk_col: str,
    ) -> DataFrame:
        """Build the hop's "edge" as the fused endpoint's node scan:
        the node columns come along (binding the endpoint), and the
        oriented edge id columns are derived — the fused side exposes
        its own id, the other side the FK column. Rel-property access
        resolves to the node's own columns (they are the same physical
        columns)."""
        fk = pcol(fused_alias, fk_col)
        # a NULL foreign key is no edge (GraphSchema.edge_rows)
        df = self._scan_node(pattern.nodes[fused_alias], scope) \
            .filter(ref(fk).isNotNull())
        own_id = scope.get(fused_alias).id_pcol
        if fused_alias == rel.dst:
            return self._fk_edge(rel, df, scope, fused_alias, fk, own_id)
        return self._fk_edge(rel, df, scope, fused_alias, own_id, fk)

    def _virtual_edge(
        self, rel: RelEntity, pattern: Pattern, find_component, scope: Scope,
    ) -> Optional[tuple[str, str, str]]:
        """The second FK-fusion flavor: the relationship's backing node
        is ALREADY bound in a component, so its scan carries the FK
        column and the hop needs no edge scan at all — just one join
        (or a filter, for cycles) against the other endpoint. Returns
        (bound backing alias, other endpoint alias, fk column) or
        None."""
        ends = self._fk_endpoints(rel)
        if ends is None:
            return None
        side, from_alias, to_alias = ends
        sch = rel.schema
        # the backing endpoint bound -> its FK column reaches the other
        backing, other, label, fk = (
            (to_alias, from_alias, sch.to_node, sch.from_column)
            if side == "to"
            else (from_alias, to_alias, sch.from_node, sch.to_column))
        if find_component(backing) is None:
            return None
        b = scope.get(backing)
        if (isinstance(b, NodeBinding) and b.label == label
                and fk in b.columns):
            return backing, other, fk
        return None

    def _apply_virtual_hop(
        self, rel: RelEntity, pattern: Pattern, components, scope,
        find_component, backing_alias: str, other_alias: str, fk: str,
    ) -> None:
        """Execute a hop whose edge is virtual (see _virtual_edge)."""
        a = rel.alias
        ci = find_component(backing_alias)
        df, bound = components[ci]
        fk_col = pcol(backing_alias, fk)
        df = df.filter(ref(fk_col).isNotNull())  # a NULL FK is no edge
        own_id = scope.get(backing_alias).id_pcol
        if backing_alias == rel.src:
            df = self._fk_edge(rel, df, scope, backing_alias, own_id, fk_col)
        else:
            df = self._fk_edge(rel, df, scope, backing_alias, fk_col, own_id)
        other_node = pattern.nodes[other_alias]
        oi = find_component(other_alias)
        if oi == ci:  # cycle: both endpoints already here -> filter
            df = df.filter(eq((fk_col, scope.get(other_alias).id_pcol)))
            bound.add(a)
            components[ci] = (df, bound)
        elif oi is not None:
            odf, obound = components[oi]
            df = df.join(odf, eq((fk_col, scope.get(other_alias).id_pcol)),
                         "inner")
            merged = bound | obound | {a}
            for idx in sorted((ci, oi), reverse=True):
                components.pop(idx)
            components.append((df, merged))
        elif self._elidable(other_node):
            df = self._bind_endpoint(df, other_node, fk_col, scope)
            bound |= {a, other_alias}
            components[ci] = (df, bound)
        else:
            other_df = self._scan_node(other_node, scope)
            df = df.join(other_df,
                         eq((fk_col, scope.get(other_alias).id_pcol)),
                         "inner")
            bound |= {a, other_alias}
            components[ci] = (df, bound)

    def _arms(self, rel: RelEntity) -> list[tuple]:
        """The ``(schema, orientation)`` arms a hop traverses: the
        primary schema, plus each resolved ``-[:X|Y]->`` arm. A
        multi-type hop drops a schema-invalid primary (it matches zero
        relationships); a single-type hop keeps it, so its
        constant-empty rows still carry the type's columns."""
        if not rel.alt_resolved:
            return [(rel.schema, rel.orientation)]
        primary = ([] if rel.orientation == "invalid"
                   else [(rel.schema, rel.orientation)])
        return primary + list(rel.alt_resolved)

    def _rel_props(self, sch: RelationshipSchema) -> list[str]:
        """The declared property surface of a relationship type: its
        ``column_names`` minus the endpoint columns, restricted to
        columns its table has. Empty ``column_names`` means every table
        column, except on a node-table-backed relationship (FK fusion
        declaration): there it declares no properties, so the node's
        columns never leak as rel properties."""
        raw_cols = self.load_table(sch.type_name).columns
        node_backed = any(n.table_name == sch.table_name
                          for n in self.catalog.nodes.values())
        declared = (sch.column_names if sch.column_names or node_backed
                    else raw_cols)
        return [c for c in declared
                if c not in (sch.from_column, sch.to_column)
                and c in raw_cols]

    def _arm_props(self, rel: RelEntity) -> list[str]:
        """The union of the arms' property surfaces, first-appearance
        order — a multi-type hop carries every arm's properties, NULL
        where the matched type lacks one (openCypher)."""
        props: list[str] = []
        for sch, _ in self._arms(rel):
            props += [c for c in self._rel_props(sch) if c not in props]
        return props

    def _oriented_rows(
        self, rel: RelEntity, src: str, dst: str,
        cols: Optional[dict] = None, walk: bool = False,
    ) -> DataFrame:
        """The rows a hop traverses, built in this one place: every arm
        of `_arms` selects its edge table as ``src``/``dst`` in its
        orientation — 'fwd' as stored, 'rev' mirrored, 'both' the
        UNION DISTINCT of the two (graph_traversal_planning.rs:524-616;
        this collapses reciprocal edge pairs like the reference — a
        documented divergence from Neo4j bag semantics), 'invalid' a
        constant-empty frame (query_planner/mod.rs:50-60) — and the
        arms bag-union by name. ``cols`` maps each further output
        column to the arm property it reads (NULL where the arm's
        declared surface lacks it) or to None for the arm's type name.

        ``walk`` applies the rel's inline ``{k: v}`` map to every arm's
        edge scan (`_inline_prop_filter`): a multi-type walk skips arms
        whose table lacks a key (NULL never equals), so when no arm
        survives the result is the primary schema's constant-empty
        frame. Single hops filter their bound columns instead."""
        cols = cols or {}

        def arm(sch: RelationshipSchema, orient: str,
                raw: DataFrame) -> DataFrame:
            have = (self._rel_props(sch)
                    if any(c is not None for c in cols.values()) else ())
            tag = "'{}'".format(
                sch.type_name.replace("\\", "\\\\").replace("'", "\\'"))
            extra = [
                quote(c) if c == name and c in have
                else as_sql(c, name) if c in have
                else f"{tag if c is None else 'NULL'} AS {quote(name)}"
                for name, c in cols.items()]

            def select(s: str, d: str) -> DataFrame:
                return raw.selectExpr(as_sql(s, src), as_sql(d, dst),
                                      *extra)

            if orient == "rev":
                return select(sch.to_column, sch.from_column)
            fwd = select(sch.from_column, sch.to_column)
            if orient == "invalid":
                return fwd.filter("false")
            if orient == "fwd":
                return fwd
            return fwd.union(select(sch.to_column, sch.from_column)) \
                .distinct()

        arms: list[DataFrame] = []
        for sch, orient in self._arms(rel):
            raw = self.catalog.edge_rows(sch, self.load_table(sch.type_name))
            if walk and rel.properties:
                if rel.alt_resolved and any(
                        k not in raw.columns for k in rel.properties):
                    continue
                raw = self._inline_prop_filter(rel, raw)
            arms.append(arm(sch, orient, raw))
        if not arms:
            return arm(rel.schema, "invalid",
                       self.load_table(rel.schema.type_name))
        df = arms[0]
        for other in arms[1:]:
            df = df.unionByName(other)
        return df

    def _edge_df(self, rel: RelEntity, scope: Scope) -> DataFrame:
        """Oriented edge DataFrame with columns
        ``{alias}__from_id`` (matches rel.src), ``{alias}__to_id``
        (matches rel.dst), plus renamed property columns. A multi-type
        hop also carries a hidden ``{alias}____type`` column so type(r)
        resolves per row; Catalyst prunes it and unused property
        reads."""
        adj = self._adjacency_edge_df(rel, scope)
        if adj is not None:
            return adj
        a = rel.alias
        src_name, dst_name = pcol(a, "from_id"), pcol(a, "to_id")
        props = self._arm_props(rel)
        cols: dict = {pcol(a, c): c for c in props}
        type_col = pcol(a, "__type") if rel.alt_resolved else None
        if type_col:
            cols[type_col] = None
        df = self._oriented_rows(rel, src_name, dst_name, cols)
        scope.bind(RelBinding(
            alias=a, type_name=rel.schema.type_name, columns=props,
            src_pcol=src_name, dst_pcol=dst_name,
            fwd_storage=None if rel.alt_resolved else {
                "fwd": True, "rev": False, "invalid": True,
            }.get(rel.orientation),
            type_pcol=type_col,
        ))
        if rel.properties:
            ec = ExprCompiler(scope, self.params, self._prop_dtype)
            for key, expr in rel.properties.items():
                # a multi-type arm whose type lacks the key contributes
                # nothing (NULL never equals) — the openCypher reading
                if rel.alt_resolved and key not in props:
                    raise PlanError(
                        f"unknown property '{key}' on any arm of "
                        f"the multi-type pattern")
                df = df.filter(ref(pcol(a, key)) == ec.compile(expr))
        return df

    def _oriented_pairs(self, rel: RelEntity) -> DataFrame:
        """Oriented (src, dst) id pairs — the traversal base for
        variable-length and shortest-path hops. A multi-type walk
        tags each pair with its arm's type (``rt``) so variable-length
        relationship-uniqueness can tell an A edge from a B edge over
        the same endpoint pair (Cypher: distinct relationships).

        When the rel carries an adjacency index, the pairs re-expand
        from the grouped tables instead of scanning the edge list: the
        adjacency scan is narrower (two packed arrays, no prop
        columns), pre-grouped by src, and cardinality-exact, so
        Cypher's parallel-edges-count-as-distinct-walks semantics
        survive."""
        adj = self._adjacency_rows(rel)
        if adj is not None:
            return adj
        return self._oriented_rows(
            rel, "src", "dst", {"rt": None} if rel.alt_resolved else None,
            walk=True)

    def _inline_prop_filter(self, rel: RelEntity,
                            raw: DataFrame) -> DataFrame:
        """Apply a traversal rel's inline ``{k: v}`` property map to
        the raw edge table (r9): every traversed edge must satisfy it
        — the var-length/shortestPath meaning of
        ``-[:T*1..3 {since: 2020}]->``. Values are literals or
        parameters (a per-hop map cannot reference pattern variables),
        so they compile against an empty scope. Filtering the edge
        SCAN (pushes to parquet) rather than the walked pairs keeps
        every k-fold join smaller."""
        if not rel.properties:
            return raw
        ec = ExprCompiler(Scope(), self.params, self._prop_dtype)
        for key, expr in rel.properties.items():
            if key not in raw.columns:
                raise PlanError(
                    f"unknown property '{key}' on relationship "
                    f"'{rel.schema.type_name}'")
            raw = raw.filter(ref(key) == ec.compile(expr))
        return raw

    def _zero_hop_rows(self, rel: RelEntity) -> DataFrame:
        """``(id, id, 0)`` identity rows for a zero-length lower bound
        ``*0..n`` (r13): every node of the walk's SHARED endpoint
        label is a zero-length path to itself. When the oriented
        endpoint labels differ, no single node can satisfy both — the
        arm is a constant-empty frame (same rule as the reference's
        invalid-direction plans). Catalyst prunes the node scan to
        the id column; no shuffle."""
        arms = self._arms(rel)
        # Zero-length paths traverse no edges, so EVERY arm whose
        # oriented endpoint labels coincide contributes that label's
        # identity rows — not just the first arm's (ADVICE r13: a
        # multi-type rel whose first arm had differing labels silently
        # dropped the other arms' valid zero-hop matches). Each arm
        # uses its OWN orientation; duplicate labels collapse here, so
        # the common single-label case stays one pruned scan.
        # A schema-invalid arm has no zero-length path either: one node
        # cannot carry both pattern labels.
        labels: list[str] = []
        for sch, orient in arms:
            if orient == "invalid":
                continue
            lsrc, ldst = ((sch.to_node, sch.from_node)
                          if orient == "rev"
                          else (sch.from_node, sch.to_node))
            if lsrc == ldst and lsrc not in labels:
                labels.append(lsrc)

        def ident(label: str) -> DataFrame:
            node_sch = self.catalog.node(label)
            return self.load_table(label).select(
                F.col(node_sch.node_id).alias("src"),
                F.col(node_sch.node_id).alias("dst"),
                F.lit(0).alias("hops"))

        if not labels:
            sch0, orient0 = arms[0]
            lbl = (sch0.to_node if orient0 == "rev"
                   else sch0.from_node)
            return ident(lbl).filter(F.lit(False))
        out = ident(labels[0])
        for label in labels[1:]:
            out = out.unionByName(ident(label))
        if len(labels) > 1:
            # distinct arms may share an id space; a node must appear
            # as a zero-length path once
            out = out.dropDuplicates(["src"])
        return out

    def _shortest_path_df(self, rel: RelEntity) -> DataFrame:
        """(src, dst, hops) pairs where hops is the SHORTEST directed
        distance <= max_hops — frontier BFS as iterative join-antijoin
        (the Pregel superstep expressed relationally; same shape as
        ops/algos.bfs_distances but per-source). Each level joins the
        frontier to the edge list, drops already-reached (root, node)
        pairs, and localCheckpoints to truncate lineage.

        shortestPath/allShortestPaths both compile here: we return the
        per-pair minimum distance, not materialized path objects, so
        the two coincide (documented divergence from Neo4j, which
        enumerates tied paths for allShortestPaths).

        Scale: level-synchronous BFS — k bounded shuffles on the node
        id; the reached set grows monotonically and is the natural
        candidate for bucketed storage at 100 TB.

        Inline ``{k: v}`` property maps restrict every traversed edge
        (r9 — applied to the edge scan by `_inline_prop_filter` via
        `_oriented_pairs`; the adjacency tables are skipped because
        they carry no properties). Per-hop property
        ACCESS (relationships(p)) stays rejected for shortest
        segments: only the per-pair minimum distance is materialized,
        not the path's edges."""
        # the walk's own base: each level's dropDuplicates(["root",
        # "node"]) collapses parallel edges, so the multiplicity-exact
        # adjacency expansion serves BFS as it serves var-length walks
        base = self._oriented_pairs(rel).persist()
        # each level's frontier size rides its localCheckpoint job as an
        # observed metric (r14, guide §2.4) — the per-level isEmpty
        # probe job is gone
        from pyspark.sql import Observation

        obs = Observation()
        frontier = base.select(
            F.col("src").alias("root"), F.col("dst").alias("node"),
            F.lit(1).alias("hops"),
        ).dropDuplicates(["root", "node"]) \
            .observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
        n_frontier = obs.get["n"]
        reached = frontier
        for k in range(2, rel.max_hops + 1):
            if n_frontier == 0:
                break
            obs = Observation()
            frontier = (
                frontier.join(
                    base, frontier["node"] == base["src"], "inner"
                )
                .select(
                    F.col("root"), base["dst"].alias("node"),
                    F.lit(k).alias("hops"),
                )
                .dropDuplicates(["root", "node"])
                .join(reached.select("root", "node"),
                      ["root", "node"], "left_anti")
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint()
            )
            n_frontier = obs.get["n"]
            reached = reached.unionByName(frontier)
        # Every level is eagerly localCheckpoint-ed, so nothing still
        # reads `base` after the loop — release its cached blocks now
        # (same cache discipline as the batch dedup operators).
        base.unpersist()
        # root == node pairs are excluded: the legal a==b shortest path
        # is the zero-length one (outside min_hops >= 1), while any
        # hops >= 2 self-walk found by BFS reuses an edge back-and-forth
        # — illegal under Cypher relationship-uniqueness.
        res = reached.filter(
            (F.col("hops") >= F.lit(rel.min_hops))
            & (F.col("root") != F.col("node"))
        )
        if rel.min_hops == 0:
            # *0..k: the a==b pair's shortest path is the zero-length
            # one — identity rows over the shared endpoint label (r13)
            res = res.unionByName(
                self._zero_hop_rows(rel).select(
                    F.col("src").alias("root"),
                    F.col("dst").alias("node"), "hops"))
        return res.select(
            F.col("root").alias(pcol(rel.alias, "from_id")),
            F.col("node").alias(pcol(rel.alias, "to_id")),
            F.col("hops").alias(pcol(rel.alias, "hops")),
        )

    def _var_length_df(self, rel: RelEntity) -> DataFrame:
        """k-hop reachability pairs for ``-[:T*min..max]->``: union over k
        of k-fold edge self-joins with pairwise edge-distinctness (Cypher
        relationship-uniqueness). Extension — the reference has no
        variable-length support (no ``..`` in path_pattern.rs).

        Inline ``{k: v}`` property maps restrict every traversed edge
        (`_inline_prop_filter` via `_oriented_pairs`, r9). When the
        rel rides a PATH VARIABLE and its type declares properties,
        each row additionally carries ``{alias}__rels`` — the ordered
        array of per-hop (src, dst, properties...) structs — so
        ``relationships(p)`` / ``[x IN relationships(p) | x.prop]``
        compile (r9; `_assemble` sets ``carry_props``). The array is
        built from the same scan, adds no shuffle, and Catalyst prunes
        both it and the property reads when the final projection never
        touches them.

        Documented divergence (carry mode only): the 'both'
        orientation dedups over (src, dst, properties) — reciprocal
        edges with DISTINCT props stay distinct paths, matching the
        single-hop `_edge_df` semantics — while the prop-free pair
        walk collapses them (its narrow scan never sees props, the
        reference's own collapse). Binding a path variable can
        therefore surface reciprocal-edge paths the plain pattern
        folds together."""
        carry = bool(getattr(rel, "carry_props", False))
        if carry:
            # per-hop struct of (src, dst[, type], properties...): the
            # carried property names are the arms' union (NULL where
            # the matched type lacks one — the _edge_df single-hop
            # rule); a multi-type walk's rt tag is the struct's 'type'
            # and also keys relationship-uniqueness below
            prop_cols = list(rel.carry_prop_names)
            tag = {"rt": None} if rel.alt_resolved else {}
            base = self._oriented_rows(
                rel, "src", "dst", {**tag, **{c: c for c in prop_cols}},
                walk=True)
            base = base.selectExpr(
                "src", "dst", *tag,
                "struct({}) AS rs".format(", ".join(
                    ["src AS src", "dst AS dst"]
                    + ["rt AS type" for _ in tag]
                    + [as_sql(c, c) for c in prop_cols])))
        else:
            base = self._oriented_pairs(rel)
        tagged = bool(rel.alt_resolved)  # multi-type: type tag 'rt'
        step_cols = (["src", "dst"] + (["rs"] if carry else [])
                     + (["rt"] if tagged else []))
        # relationship-uniqueness compares TYPE and endpoints — an A
        # edge and a B edge over the same pair are distinct
        same_cols = ("src", "dst") + (("rt",) if tagged else ())
        lo, hi = max(rel.min_hops, 1), max(rel.max_hops, 1)
        out: Optional[DataFrame] = None
        # One chain of k-fold self-joins; each k in [lo, hi] projects
        # its prefix. Degenerate `*0`: build the k=1 frame anyway
        # (harvesting its exact schema, incl. the carry struct type)
        # and constant-fold it away below — only the zero-hop identity
        # rows survive.
        chain = base.selectExpr(*[as_sql(c, f"e1_{c}") for c in step_cols])
        for k in range(1, hi + 1):
            if k > 1:
                nxt = base.selectExpr(
                    *[as_sql(c, f"e{k}_{c}") for c in step_cols])
                chain = chain.join(
                    nxt, eq((f"e{k - 1}_dst", f"e{k}_src")), "inner")
                # relationship-uniqueness: no edge repeated in a path
                for p in range(1, k):
                    chain = chain.filter("NOT ({})".format(eq_sql(
                        *[(f"e{p}_{c}", f"e{k}_{c}") for c in same_cols])))
            if k < lo:
                continue
            out_cols = [as_sql("e1_src", "src"), as_sql(f"e{k}_dst", "dst"),
                        f"{k} AS hops"]  # actual hop count for length(p)
            if carry:
                out_cols.append("array({}) AS rels".format(", ".join(
                    quote(f"e{s}_rs") for s in range(1, k + 1))))
            df_k = chain.selectExpr(*out_cols)
            out = df_k if out is None else out.unionByName(df_k)
        assert out is not None
        if rel.max_hops == 0:
            out = out.filter("false")  # degenerate *0: schema only
        if rel.min_hops == 0:
            # zero-length arm (r13): (id, id, 0) for every node of the
            # shared endpoint label — traverses no edges, so inline
            # property maps are vacuously true and uniqueness is moot;
            # relationships(p) on the zero-length row is []
            ident = self._zero_hop_rows(rel)
            if carry:
                ident = ident.withColumn("rels", F.expr(
                    f"CAST(array() AS {dict(out.dtypes)['rels']})"))
            out = out.unionByName(ident.select(*out.columns))
        final = {"src": "from_id", "dst": "to_id", "hops": "hops"}
        if carry:
            final["rels"] = "rels"
        return out.selectExpr(*[as_sql(c, pcol(rel.alias, name))
                                for c, name in final.items()])

    def _filter_score(
        self, pattern: Pattern, part: ast.QueryPart
    ) -> tuple[dict[str, int], dict[str, bool]]:
        """Anchor heuristic inputs: per-alias filter counts (inline
    props + WHERE conjuncts touching exactly one alias) and whether
    any of that alias's filters contains an OR — for both node AND
    relationship aliases (the reference scores every table ctx,
    optimizer/anchor_node_selection.rs:42-52, so a filtered rel can
    anchor the fold: ``is_rel_anchor``)."""
        score = {a: len(n.properties) for a, n in pattern.nodes.items()}
        has_or = {a: False for a in score}
        for rel in pattern.rels:
            score[rel.alias] = len(rel.properties)
            has_or[rel.alias] = False

        def visit(e: ast.Expr):
            if isinstance(e, ast.Binary) and e.op == "AND":
                visit(e.left)
                visit(e.right)
                return
            aliases: set[str] = set()
            collect_aliases(e, aliases)
            if len(aliases) == 1:
                a = next(iter(aliases))
                if a in score:
                    score[a] = score.get(a, 0) + 1
                    if _contains_or(e):
                        has_or[a] = True

        if part.where is not None:
            visit(part.where)
        return score, has_or

    def _select_anchor(
        self, pattern: Pattern, part: ast.QueryPart
    ) -> Optional[str]:
        """The reference's find_anchor_node
        (anchor_node_selection.rs:38-78): the alias with the most
        filters wins; on a tie, the first candidate with an OR filter
        (OR means the predicate is less selective per-branch, so the
        planner prefers to scan it first rather than inherit it late);
        otherwise the first candidate in pattern order. None when
        nothing is filtered."""
        score, has_or = self._filter_score(pattern, part)
        best = max(score.values(), default=0)
        if best == 0:
            return None
        # pattern order: nodes in appearance order, then rels
        ordered = list(pattern.nodes) + [r.alias for r in pattern.rels]
        candidates = [a for a in ordered if score.get(a) == best]
        if len(candidates) == 1:
            return candidates[0]
        for a in candidates:
            if has_or.get(a):
                return a
        return candidates[0]

    def _assemble(
        self, in_df: Optional[DataFrame], scope: Scope,
        pattern: Pattern, part: ast.QueryPart,
    ) -> DataFrame:
        # components: list of (DataFrame, set-of-bound-aliases)
        components: list[tuple[DataFrame, set[str]]] = []
        if in_df is not None:
            components.append((in_df, set(scope.bindings.keys())))

        # r9: a variable-length rel that rides a PATH VARIABLE
        # carries per-hop rel structs, so relationships(p) /
        # nodes(p) work downstream — always when its arms declare
        # properties, and for prop-less types too unless the walk
        # reads the adjacency tables (the grouped-table fast path is
        # worth more than introspection there: drop the path var or
        # the index to introspect; a write drops the tables while
        # schema.adj_index stays True, and then the walk scans the
        # edge list and carries). Shortest segments materialize only
        # the min distance — never carried. A multi-type carry's
        # struct leads with the matched arm's 'type'.
        path_rel_aliases = {
            ra for _, rels in pattern.path_vars.values() for ra in rels}
        for r in pattern.rels:
            if (_is_var(r) and not r.shortest
                    and r.alias in path_rel_aliases
                    and r.schema is not None):
                props = tuple(self._arm_props(r))
                if props or self._adjacency(r) is None:
                    r.carry_props = True
                    r.carry_prop_names = props
                    r.carry_has_type = bool(r.alt_resolved)

        score, _ = self._filter_score(pattern, part)
        anchor = self._select_anchor(pattern, part)
        pending = list(pattern.rels)
        # Anchor selection: hops touching the anchor alias run first
        # (anchor_node_selection.rs:78-120 rearranges the traversal
        # chain around it); the most-filtered-endpoint sort stays as
        # the secondary order so later hops still prefer selective
        # scans.
        if pending:
            pending.sort(
                key=lambda r: (
                    0 if anchor in (r.src, r.dst, r.alias) else 1,
                    -max(score.get(r.src, 0), score.get(r.dst, 0),
                         score.get(r.alias, 0)),
                )
            )

        def find_component(alias: str) -> Optional[int]:
            for idx, (_, bound) in enumerate(components):
                if alias in bound:
                    return idx
            return None

        progress = True
        while pending and progress:
            progress = False
            for rel in list(pending):
                li = find_component(rel.src)
                ri = find_component(rel.dst)
                # Prefer hops that extend an existing component; defer
                # fully-unbound hops until nothing else can run (keeps the
                # fold connected from the anchor).
                if li is None and ri is None and components and \
                        len(pending) > 1 and any(
                            find_component(r.src) is not None
                            or find_component(r.dst) is not None
                            for r in pending if r is not rel):
                    continue
                pending.remove(rel)
                progress = True
                self._apply_hop(rel, pattern, components, scope, find_component)
                break
        for rel in pending:  # leftovers (shouldn't happen)
            self._apply_hop(rel, pattern, components, scope, find_component)

        # Isolated nodes never touched by a hop.
        for alias, node in pattern.nodes.items():
            if find_component(alias) is None and not node.prebound:
                components.append((self._scan_node(node, scope), {alias}))

        if not components:
            raise PlanError("empty MATCH pattern")
        df, bound = components[0]
        for other_df, other_bound in components[1:]:
            df = df.crossJoin(other_df)
            bound |= other_bound
        return df

    def _elidable(self, node: NodeEntity) -> bool:
        """FK-join elimination eligibility: the node contributes only
        its id, which the edge endpoint column already carries. Id-only
        property access (filters/projections on the node id) is
        satisfiable from that derived column, so it does not block
        elision — inline property maps and any other key do."""
        if not self.integrity or node.prebound or node.in_path_var:
            return False
        if node.alias in self._elide_override:
            # pattern-predicate anchors: the sub-assembly consumes only
            # their id as the semi-join key, whatever the outer query
            # references (property maps still block via node.properties)
            return not node.properties
        if "*" in self._bare_refs or node.alias in self._bare_refs:
            return False
        node_id = self.catalog.node(node.label).node_id
        accessed = self._prop_refs.get(node.alias, set())
        return not node.properties and accessed <= {node_id}

    def _bind_endpoint(
        self, df: DataFrame, node: NodeEntity, endpoint_col: str,
        scope: Scope,
    ) -> DataFrame:
        """Bind an elided endpoint: its id column IS the edge endpoint
        (no scan, no join). Later hops anchored on this alias join
        against the derived id column exactly as if it were scanned."""
        sch = self.catalog.node(node.label)
        scope.bind(NodeBinding(
            alias=node.alias, label=node.label, id_column=sch.node_id,
            columns=[sch.node_id],  # the one column the edge provides
        ))
        return df.withColumn(pcol(node.alias, sch.node_id),
                             ref(endpoint_col))

    def _apply_hop(self, rel, pattern: Pattern, components, scope, find_component):
        fused: Optional[str] = None
        if rel.shortest and _is_var(rel):
            edge = self._shortest_path_df(rel)
        elif _is_var(rel):
            edge = self._var_length_df(rel)
            # Bind the alias so RETURN * ignores it gracefully? No: a
            # var-length rel alias binds to a path list in Cypher, which we
            # don't support — leave it unbound (referencing it errors).
        else:
            # physical hop strategy: indexed adjacency > virtual FK
            # edge (backing node already bound) > FK-edge fusion
            # (backing node fresh) > plain edge-list join
            edge = self._adjacency_edge_df(rel, scope)
            if edge is None:
                virt = self._virtual_edge(rel, pattern, find_component, scope)
                if virt is not None:
                    self._apply_virtual_hop(
                        rel, pattern, components, scope, find_component,
                        *virt,
                    )
                    return
                fusion = self._fusion_endpoint(rel, pattern, find_component)
                if fusion is not None:
                    fused, fk_col = fusion
                    edge = self._fused_edge_df(
                        rel, pattern, scope, fused, fk_col
                    )
                else:
                    edge = self._edge_df(rel, scope)
        src_key = pcol(rel.alias, "from_id")
        dst_key = pcol(rel.alias, "to_id")

        li = find_component(rel.src)
        ri = find_component(rel.dst)
        if li is not None and ri is not None:
            lid = scope.get(rel.src).id_pcol
            rid = scope.get(rel.dst).id_pcol
            if li == ri:
                # cyclic pattern / re-used aliases: join the edge on both
                # endpoint keys (graph_join_inference.rs:251-256,
                # duplicate_scans_removing.rs:28-58).
                df, bound = components[li]
                df = df.join(edge, eq((src_key, lid), (dst_key, rid)),
                             "inner")
                bound.add(rel.alias)
                components[li] = (df, bound)
            else:
                ldf, lbound = components[li]
                rdf, rbound = components[ri]
                df = ldf.join(edge, eq((src_key, lid)), "inner") \
                    .join(rdf, eq((dst_key, rid)), "inner")
                merged = lbound | rbound | {rel.alias}
                for idx in sorted((li, ri), reverse=True):
                    components.pop(idx)
                components.append((df, merged))
        elif li is not None:
            df, bound = components[li]
            lid = scope.get(rel.src).id_pcol
            dst_node = pattern.nodes[rel.dst]
            df = df.join(edge, eq((src_key, lid)), "inner")
            if fused == rel.dst:  # dst rides inside the fused edge scan
                pass
            elif self._elidable(dst_node):
                df = self._bind_endpoint(df, dst_node, dst_key, scope)
            else:
                right = self._scan_node(dst_node, scope)
                df = df.join(
                    right, eq((dst_key, scope.get(rel.dst).id_pcol)),
                    "inner")
            bound |= {rel.alias, rel.dst}
            components[li] = (df, bound)
        elif ri is not None:
            df, bound = components[ri]
            rid = scope.get(rel.dst).id_pcol
            src_node = pattern.nodes[rel.src]
            df = df.join(edge, eq((dst_key, rid)), "inner")
            if fused == rel.src:  # src rides inside the fused edge scan
                pass
            elif self._elidable(src_node):
                df = self._bind_endpoint(df, src_node, src_key, scope)
            else:
                left = self._scan_node(src_node, scope)
                df = df.join(
                    left, eq((src_key, scope.get(rel.src).id_pcol)),
                    "inner")
            bound |= {rel.alias, rel.src}
            components[ri] = (df, bound)
        else:
            src_node = pattern.nodes[rel.src]
            dst_node = pattern.nodes[rel.dst]
            if fused == rel.src:
                df = edge  # src rides inside the fused edge scan
            elif self._elidable(src_node):
                df = self._bind_endpoint(edge, src_node, src_key, scope)
            else:
                ldf = self._scan_node(src_node, scope)
                lid = scope.get(rel.src).id_pcol
                df = ldf.join(edge, eq((src_key, lid)), "inner")
            if fused == rel.dst:
                pass  # dst already inside the fused edge scan
            elif self._elidable(dst_node):
                df = self._bind_endpoint(df, dst_node, dst_key, scope)
            else:
                right = self._scan_node(dst_node, scope)
                df = df.join(
                    right, eq((dst_key, scope.get(rel.dst).id_pcol)),
                    "inner")
            components.append((df, {rel.src, rel.alias, rel.dst}))

    # ------------------------------------------------------------------
    # Projection (WITH / RETURN)
    # ------------------------------------------------------------------
    def _project(
        self, df: DataFrame, scope: Scope, items: list[ast.ReturnItem],
        distinct: bool, order_by: list[ast.OrderByItem],
        skip: Optional[int], limit: Optional[int], final: bool,
    ) -> tuple[DataFrame, Scope]:
        # COUNT { ... } subquery items/order keys become hidden scalar
        # columns before any expression compiles.
        if getattr(self, "_maybe_csq", True):
            rewritten_items = []
            for item in items:
                if _contains_count_subquery(item.expr):
                    df, ne = self._rewrite_count_subqueries(
                        df, scope, item.expr)
                    item = ast.ReturnItem(ne, item.alias)
                rewritten_items.append(item)
            items = rewritten_items
            rewritten_ob = []
            for ob in order_by:
                if _contains_count_subquery(ob.expr):
                    df, ne = self._rewrite_count_subqueries(
                        df, scope, ob.expr)
                    ob = ast.OrderByItem(ne, ob.ascending)
                rewritten_ob.append(ob)
            order_by = rewritten_ob

        ec = ExprCompiler(scope, self.params, self._prop_dtype)

        # RETURN * expansion (analyzer/projection_tagging.rs:31-68).
        # Hidden internal bindings (COUNT{} subquery columns, "__csq*")
        # are implementation detail, never part of the user's *.
        expanded: list[ast.ReturnItem] = []
        for item in items:
            if isinstance(item.expr, ast.Star):
                for name in scope.bindings:
                    if not name.startswith("__csq"):
                        expanded.append(
                            ast.ReturnItem(ast.Variable(name)))
            else:
                expanded.append(item)

        group_mode = any(contains_aggregate(it.expr) for it in expanded)

        # Build (output_name, Column | source column name, is_agg,
        # src_expr) tuples; bare node/rel variables expand to their
        # property columns. Items that only read a column keep its name,
        # so the projection renders them as SQL in one call.
        sel: list[tuple[str, "Column | str", bool, object]] = []
        new_scope = Scope()
        for item in expanded:
            e = item.expr
            if isinstance(e, ast.Variable) and isinstance(
                scope.get(e.name), PathBinding
            ):
                # Bare path variable: project as the ordered node-id
                # array (the relational rendering of a Cypher path);
                # downstream of a WITH it becomes a plain array scalar.
                name = item.alias or e.name
                col = ec.compile(e)
                sel.append((name, col, False, e))
                if not final:
                    new_scope.bind(ScalarBinding(name))
                continue
            if isinstance(e, ast.Variable) and isinstance(
                scope.get(e.name), (NodeBinding, RelBinding)
            ):
                b = scope.get(e.name)
                out_alias = item.alias or e.name
                if final:
                    for c in b.columns:
                        sel.append((
                            f"{out_alias}.{c}", pcol(e.name, c), False, None,
                        ))
                else:
                    # WITH a [AS x]: carry the whole binding forward.
                    for c in list(b.columns):
                        sel.append((
                            pcol(out_alias, c), pcol(e.name, c), False, None,
                        ))
                    if isinstance(b, NodeBinding):
                        new_scope.bind(NodeBinding(
                            alias=out_alias, label=b.label,
                            id_column=b.id_column, columns=list(b.columns),
                        ))
                    else:
                        new_scope.bind(RelBinding(
                            alias=out_alias, type_name=b.type_name,
                            columns=list(b.columns),
                            src_pcol=b.src_pcol, dst_pcol=b.dst_pcol,
                            fwd_storage=b.fwd_storage,
                            type_pcol=b.type_pcol,
                        ))
                        # src/dst pcols must be carried too
                        sel.append((b.src_pcol, b.src_pcol, False, None))
                        sel.append((b.dst_pcol, b.dst_pcol, False, None))
                        if b.type_pcol:
                            # multi-type rels: the per-row type column
                            # rides the WITH re-carry (r12 — type(r)
                            # and rel-import correlation keys survive
                            # an intermediate WITH)
                            sel.append((b.type_pcol, b.type_pcol,
                                        False, None))
                continue
            if not final and item.alias is None and not isinstance(
                e, ast.Variable
            ):
                raise PlanError(
                    "expressions in WITH must be aliased "
                    f"(add AS <name> to {expr_text(e)!r})"
                )
            name = item.alias or self._output_name(e, final)
            col = ec.column_name(e) or ec.compile(e)
            is_agg = contains_aggregate(e)
            sel.append((name, col, is_agg, e))
            if not final:
                new_scope.bind(ScalarBinding(name))

        def named(name: str, col: "Column | str") -> Column:
            if isinstance(col, str):
                return F.expr(as_sql(col, name))
            return col.alias(name)

        if group_mode:
            keys = [named(name, col) for name, col, is_agg, _ in sel
                    if not is_agg]
            aggs = [named(name, col) for name, col, is_agg, _ in sel
                    if is_agg]
            if keys:
                out = df.groupBy(*keys).agg(*aggs)
            else:
                out = df.agg(*aggs)  # global aggregate
                # (group_by_building.rs:30-41: all-agg projection -> no keys)
            out = out.selectExpr(*[quote(name) for name, *_ in sel])
        elif all(isinstance(col, str) for _, col, _, _ in sel):
            out = df.selectExpr(*[as_sql(col, name) for name, col, _, _ in sel])
        else:
            out = df.select(*[named(name, col) for name, col, _, _ in sel])

        if distinct:
            out = out.distinct()

        out = self._order_page(
            out, scope, sel, order_by, skip, limit, group_mode or distinct
        )
        # Backfill scalar dtypes now that the projected frame exists —
        # temporal accessors (d.year) dispatch on them (r10).
        if not final:
            dtypes = dict(out.dtypes)
            for b in new_scope.bindings.values():
                if isinstance(b, ScalarBinding) and b.dtype is None:
                    b.dtype = dtypes.get(b.alias)
        return out, new_scope

    def _output_name(self, e: ast.Expr, final: bool) -> str:
        if isinstance(e, ast.PropertyAccess):
            return f"{e.alias}.{e.key}" if final else e.key
        if isinstance(e, ast.Variable):
            return e.name
        return expr_text(e)

    def _order_page(
        self, df: DataFrame, in_scope: Scope, sel, order_by,
        skip: Optional[int], limit: Optional[int], output_only: bool,
    ) -> DataFrame:
        if order_by:
            by_expr = {repr(e): name for name, _, _, e in sel if e is not None}
            out_names = {name for name, *_ in sel}
            cols = []
            for ob in order_by:
                e = ob.expr
                if repr(e) in by_expr:
                    c = ref(by_expr[repr(e)])
                elif isinstance(e, ast.Variable) and e.name in out_names:
                    c = ref(e.name)
                elif isinstance(e, ast.PropertyAccess) and \
                        f"{e.alias}.{e.key}" in out_names:
                    # the output name contains a literal dot
                    c = ref(f"{e.alias}.{e.key}")
                else:
                    if output_only:
                        raise PlanError(
                            "ORDER BY after aggregation/DISTINCT must "
                            "reference returned items"
                        )
                    # Fall back to output-scope compilation (post-select
                    # the prefixed columns are gone, so only output names
                    # resolve; this handles e.g. ORDER BY count(*) when
                    # count(*) was returned under an alias).
                    ec = ExprCompiler(in_scope, self.params, self._prop_dtype)
                    c = ec.compile(e)
                # NULLS LAST in both directions — ClickHouse's (and
                # DuckDB's) default; Spark's asc() would put them first.
                cols.append(
                    c.asc_nulls_last() if ob.ascending
                    else c.desc_nulls_last()
                )
            df = df.orderBy(*cols)
        # ClickHouse `LIMIT skip, n` = offset-then-limit
        # (to_sql_query.rs:25-33 -> Spark offset+limit).
        if skip is not None:
            df = df.offset(skip)
        if limit is not None:
            df = df.limit(limit)
        return df


def _contains_or(e: ast.Expr) -> bool:
    """Whether an expression tree contains an OR operator anywhere
    (anchor_node_selection.rs:81-120 has_or_operator)."""
    if isinstance(e, ast.Binary):
        if e.op == "OR":
            return True
        return _contains_or(e.left) or _contains_or(e.right)
    if isinstance(e, ast.Unary):
        return _contains_or(e.operand)
    if isinstance(e, ast.IsNull):
        return _contains_or(e.operand)
    if isinstance(e, ast.FnCall):
        return any(_contains_or(a) for a in e.args)
    if isinstance(e, ast.ListLiteral):
        return any(_contains_or(x) for x in e.items)
    if isinstance(e, ast.CaseExpr):
        for c, v in e.whens:
            if _contains_or(c) or _contains_or(v):
                return True
        if e.else_ is not None and _contains_or(e.else_):
            return True
        return e.operand is not None and _contains_or(e.operand)
    return False


def _call_import_aliases(q) -> Optional[list[str]]:
    """The CALL-block import aliases when the block opens with the
    openCypher import clause — a leading ``WITH`` of bare, unaliased
    variables and nothing else in its first part; ``None`` means the
    block is uncorrelated (including a leading WITH that computes
    expressions, which compiles as an ordinary pipeline head)."""
    if len(q.parts) < 2:
        return None
    p0 = q.parts[0]
    if (p0.matches or p0.unwind is not None or p0.where is not None
            or p0.calls or p0.order_by or p0.skip is not None
            or p0.limit is not None):
        return None
    wc = p0.with_clause
    if wc is None or wc.distinct:
        return None
    names: list[str] = []
    for it in wc.items:
        if isinstance(it.expr, ast.Variable) and it.alias is None:
            names.append(it.expr.name)
        else:
            return None
    return names or None


def _bind_path_vars(pattern, scope: Scope,
                    null_when: Optional[str] = None) -> None:
    """Bind PathBindings for a just-assembled pattern's path
    variables (shared by _compile_part-style segment loops).
    ``null_when`` (r12): OPTIONAL-MATCH guard column — see
    scope.PathBinding."""
    for var, (nodes, rels) in pattern.path_vars.items():
        hops = []
        structs = []
        for r in pattern.rels:
            if r.alias in rels:
                if _is_var(r):
                    hops.append(pcol(r.alias, "hops"))
                    fields = tuple(r.carry_prop_names)
                    if r.carry_has_type:
                        fields = ("type",) + fields
                    structs.append(
                        (pcol(r.alias, "rels"), fields)
                        if r.carry_props else ("", ()))
                else:
                    hops.append(None)
                    structs.append(None)
        scope.bind(PathBinding(
            alias=var, node_aliases=nodes, rel_aliases=rels,
            rel_hops=hops, rel_structs=structs,
            null_when=null_when))


def _contains_count_subquery(e) -> bool:
    if isinstance(e, (ast.CountSubquery, ast.PatternComprehension)):
        return True
    if hasattr(e, "__dataclass_fields__"):
        for f in e.__dataclass_fields__:
            if _contains_count_subquery(getattr(e, f)):
                return True
        return False
    if isinstance(e, (list, tuple)):
        return any(_contains_count_subquery(x) for x in e)
    if isinstance(e, dict):
        return any(_contains_count_subquery(x) for x in e.values())
    return False


def _split_pattern_predicates(expr: ast.Expr):
    """Split a WHERE tree into (residual boolean expr | None, list of
    (PatternPredicate, negated)). Pattern predicates are recognized at
    top-level AND conjuncts only — under OR/XOR or other operators they
    raise in the expression compiler with a clear message."""
    if isinstance(expr, ast.PatternPredicate):
        return None, [(expr, False)]
    if isinstance(expr, ast.Unary) and expr.op == "NOT" and isinstance(
        expr.operand, ast.PatternPredicate
    ):
        return None, [(expr.operand, True)]
    if isinstance(expr, ast.Binary) and expr.op == "AND":
        lres, lpreds = _split_pattern_predicates(expr.left)
        rres, rpreds = _split_pattern_predicates(expr.right)
        if lres is None:
            residual = rres
        elif rres is None:
            residual = lres
        else:
            residual = ast.Binary("AND", lres, rres)
        return residual, lpreds + rpreds
    return expr, []


def expr_text(e: ast.Expr) -> str:
    """Stable textual name for an unaliased projection expression."""
    if isinstance(e, ast.Literal):
        return repr(e.value)
    if isinstance(e, ast.Star):
        return "*"
    if isinstance(e, ast.Variable):
        return e.name
    if isinstance(e, ast.PropertyAccess):
        return f"{e.alias}.{e.key}"
    if isinstance(e, ast.Parameter):
        return f"${e.name}"
    if isinstance(e, ast.ListLiteral):
        return "[" + ", ".join(expr_text(x) for x in e.items) + "]"
    if isinstance(e, ast.FnCall):
        inner = ", ".join(expr_text(a) for a in e.args)
        if e.distinct:
            inner = "DISTINCT " + inner
        return f"{e.name}({inner})"
    if isinstance(e, ast.Unary):
        return f"{e.op} {expr_text(e.operand)}"
    if isinstance(e, ast.Binary):
        return f"{expr_text(e.left)} {e.op} {expr_text(e.right)}"
    if isinstance(e, ast.IsNull):
        return f"{expr_text(e.operand)} IS {'NOT ' if e.negated else ''}NULL"
    if isinstance(e, ast.CaseExpr):
        return "CASE"
    return "expr"
