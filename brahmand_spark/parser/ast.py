"""openCypher AST.

Mirrors the reference AST (/root/reference/brahmand/src/open_cypher_parser/
ast.rs:5-359): node/rel patterns with direction (ast.rs:140-186), literal
kinds (ast.rs:197-204), operator applications (ast.rs:206-231), clause
structs. Two deliberate upgrades over the reference:

- A query is a list of ``QueryPart`` so WITH acts as a real pipeline
  boundary (the reference parses WITH but never plans it,
  logical_plan/plan_builder.rs:16-48).
- Variable-length relationships ``*min..max`` carry (min_hops, max_hops)
  (the reference has no ``..`` handling in path_pattern.rs).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Union


# --------------------------------------------------------------------------
# Expressions
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class Literal:
    """Integer / Float / Boolean / String / Null (ast.rs:197-204)."""

    value: object  # int | float | bool | str | None


@dataclass(frozen=True)
class Star:
    """``*`` in RETURN or count(*) (ast.rs Star variant)."""


@dataclass(frozen=True)
class Variable:
    """Bare alias reference, e.g. ``a`` (TableAlias in the reference)."""

    name: str


@dataclass(frozen=True)
class PropertyAccess:
    """``a.name`` (logical_expr PropertyAccess)."""

    alias: str
    key: str


@dataclass(frozen=True)
class Parameter:
    """``$name`` (expression.rs:300-306)."""

    name: str


@dataclass(frozen=True)
class ListLiteral:
    items: tuple  # tuple[Expr, ...]


@dataclass(frozen=True)
class FnCall:
    """Function call; aggregate-vs-scalar classified later by name
    (logical_expr/mod.rs:253-268)."""

    name: str
    args: tuple  # tuple[Expr, ...]
    distinct: bool = False  # count(DISTINCT x)


@dataclass(frozen=True)
class Unary:
    op: str  # 'NOT' | '-' | '+' | 'DISTINCT'
    operand: "Expr"


@dataclass(frozen=True)
class Binary:
    op: str  # + - * / % ^ = <> < > <= >= AND OR IN NOT_IN
    left: "Expr"
    right: "Expr"


@dataclass(frozen=True)
class IsNull:
    operand: "Expr"
    negated: bool = False  # True -> IS NOT NULL


@dataclass(frozen=True)
class CaseExpr:
    """CASE WHEN ... THEN ... [ELSE ...] END (extension; the reference
    commented CASE out of its AST, ast.rs:306-312)."""

    whens: tuple  # tuple[tuple[Expr, Expr], ...]
    else_: Optional["Expr"] = None
    operand: Optional["Expr"] = None  # CASE <operand> WHEN v THEN ...


@dataclass(frozen=True)
class ListComprehension:
    """``[x IN source WHERE pred | out]`` (extension; not in the
    reference). Filter and map parts are each optional."""

    var: str
    source: "Expr"
    where: Optional["Expr"] = None
    map: Optional["Expr"] = None


@dataclass(frozen=True)
class Quantifier:
    """``any/all/none/single(x IN source WHERE pred)`` (extension)."""

    kind: str  # 'any' | 'all' | 'none' | 'single'
    var: str
    source: "Expr"
    where: "Expr"


@dataclass(frozen=True)
class Reduce:
    """``reduce(acc = init, x IN source | expr)`` (extension)."""

    acc: str
    init: "Expr"
    var: str
    source: "Expr"
    expr: "Expr"


@dataclass(frozen=True)
class PatternPredicate:
    """Existential pattern predicate in WHERE (extension; not in the
    reference): ``WHERE (a)-[:T]->(b)`` / ``WHERE exists((a)-[:T]->())``
    / the full subquery form ``WHERE EXISTS { MATCH <path> [WHERE
    <expr>] }`` (``where`` carries the inner predicate). Compiles to a
    leftsemi join (leftanti under NOT)."""

    path: object  # PathPattern
    where: object = None  # Optional[Expr] — inner WHERE of EXISTS { }


@dataclass(frozen=True)
class CountSubquery:
    """``COUNT { MATCH <path> [WHERE <expr>] [RETURN [DISTINCT] e] }``
    scalar subquery (extension): per outer row, the number of
    sub-pattern matches anchored on the shared aliases. Compiles to a
    grouped count over the sub-assembly left-joined on the anchor ids
    (0 when none). A plain RETURN projection doesn't change the count
    (one result row per match) and is accepted-and-ignored; ``RETURN
    DISTINCT e`` (r8) sets ``distinct_expr`` and counts DISTINCT
    values of ``e`` instead — one NULL row counts once, per
    openCypher's distinct-rows semantics."""

    path: object  # PathPattern
    where: object = None  # Optional[Expr]
    distinct_expr: object = None  # Optional[Expr] — RETURN DISTINCT e


@dataclass(frozen=True)
class PatternComprehension:
    """``[ (a)-[:T]->(b) [WHERE pred] | expr ]`` (openCypher pattern
    comprehension, extension — r7): per outer row, the list of
    ``expr`` values over the sub-pattern's matches anchored on the
    shared aliases. Compiles like COUNT { } but collects instead of
    counting: a grouped ``collect_list`` over the sub-assembly,
    LEFT-joined back on the anchor ids ([] when no match). The list
    is SORTED for determinism (openCypher leaves comprehension order
    unspecified; a sorted list replays in any engine).

    Also the compiled form of ``COLLECT { MATCH <path> [WHERE p]
    RETURN [DISTINCT] <expr> }`` (openCypher COLLECT subquery, r8 —
    the third of the EXISTS/COUNT/COLLECT trio): identical semantics
    with ``distinct`` deduplicating the collected values."""

    path: object  # PathPattern
    where: object = None  # Optional[Expr]
    map: object = None  # Expr (mandatory per openCypher)
    distinct: bool = False  # COLLECT { ... RETURN DISTINCT e }


@dataclass(frozen=True)
class MapLiteral:
    """``{k: expr, ...}`` map literal (extension — r7): compiles to a
    named struct (Cypher maps with static keys ARE structs
    relationally)."""

    items: tuple  # tuple[(str key, Expr value), ...]


@dataclass(frozen=True)
class MapProjection:
    """``n {.prop, .*, key: expr, var}`` (openCypher map projection —
    r7): a named struct built from the variable's property columns
    and/or computed entries. Entry kinds: ("prop", key) for ``.key``,
    ("all", None) for ``.*``, ("kv", (key, Expr)) for ``key: expr``,
    ("var", name) for a bare variable entry."""

    alias: str
    entries: tuple


Expr = Union[
    Literal, Star, Variable, PropertyAccess, Parameter, ListLiteral,
    MapLiteral, MapProjection, FnCall, Unary, Binary, IsNull, CaseExpr,
    PatternPredicate, CountSubquery, PatternComprehension,
    ListComprehension, Quantifier, Reduce,
]


# --------------------------------------------------------------------------
# Patterns (ast.rs:140-186)
# --------------------------------------------------------------------------

@dataclass
class NodePattern:
    alias: Optional[str]
    label: Optional[str]
    properties: dict[str, Expr] = field(default_factory=dict)


@dataclass
class RelPattern:
    alias: Optional[str]
    type_name: Optional[str]
    direction: str  # 'out' | 'in' | 'either' (ast.rs:173-186)
    properties: dict[str, Expr] = field(default_factory=dict)
    min_hops: int = 1  # variable-length extension: -[*1..3]->
    # None = unbounded (* / *n..): resolved to the compiler's
    # max_var_hops cost guard at plan time, not at parse time.
    max_hops: Optional[int] = 1
    # multi-type extension -[:X|Y]-> ; type_name holds the first type,
    # alt_types the rest (empty for single-type patterns).
    alt_types: tuple = ()


@dataclass
class PathPattern:
    """Alternating nodes and rels: n0 r0 n1 r1 n2 ... (path_pattern.rs:27-100).

    ``var`` holds the path variable of ``p = (a)-[]->(b)`` (extension —
    the reference has no path variables, SURVEY §2.1). ``shortest`` is
    'single'/'all' for shortestPath(...)/allShortestPaths(...) wrappers
    (extension)."""

    nodes: list[NodePattern]
    rels: list[RelPattern]
    var: Optional[str] = None
    shortest: Optional[str] = None


# --------------------------------------------------------------------------
# Clauses
# --------------------------------------------------------------------------

@dataclass
class MatchClause:
    paths: list[PathPattern]
    optional: bool = False  # OPTIONAL MATCH (extension; ref TODO at query_planner/mod.rs:49)
    # WHERE directly following an OPTIONAL MATCH binds to it (filters
    # inside the left join), not to the whole part.
    where: Optional["Expr"] = None


@dataclass
class ReturnItem:
    expr: Expr
    alias: Optional[str] = None


@dataclass
class ReturnClause:
    items: list[ReturnItem]
    distinct: bool = False


@dataclass
class WithClause:
    items: list[ReturnItem]
    distinct: bool = False


@dataclass
class OrderByItem:
    expr: Expr
    ascending: bool = True


@dataclass
class UnwindClause:
    """UNWIND <list-expr> AS alias (extension; not in the reference)."""

    expr: Expr
    alias: str


@dataclass
class CallSubquery:
    """``CALL { <read query> }`` (extension — openCypher subquery
    composition; the reference has no CALL, ast.rs:5-20).
    Uncorrelated: the inner query reads no outer variables; its
    RETURN columns join the enclosing rows with cartesian semantics
    (one output row per outer-row x subquery-row pair), openCypher's
    definition for an uncorrelated CALL. ``optional=True`` (openCypher
    5 ``OPTIONAL CALL``) keeps outer rows whose block yields no rows,
    NULL-filling the block outputs."""

    query: object  # ReadQuery
    optional: bool = False
    # openCypher 25 `CALL (*) { }` (r12): import EVERY in-scope graph
    # variable — expanded at compile time (the parser cannot know the
    # enclosing scope); explicit lists desugar to the import WITH.
    scope_all: bool = False


@dataclass
class QueryPart:
    """One pipeline segment: MATCH* [UNWIND] [WHERE] ending in WITH or RETURN."""

    matches: list[MatchClause] = field(default_factory=list)
    calls: list[CallSubquery] = field(default_factory=list)
    unwind: Optional[UnwindClause] = None
    where: Optional[Expr] = None
    with_clause: Optional[WithClause] = None
    # ORDER BY/SKIP/LIMIT attached to a WITH boundary (openCypher allows it)
    order_by: list[OrderByItem] = field(default_factory=list)
    skip: Optional[int] = None
    limit: Optional[int] = None


@dataclass
class ReadQuery:
    parts: list[QueryPart]
    return_clause: Optional[ReturnClause] = None
    order_by: list[OrderByItem] = field(default_factory=list)
    skip: Optional[int] = None
    limit: Optional[int] = None
    # Cypher-level UNION chain (extension; the reference only uses Union
    # internally for either-direction traversals, SURVEY §2.6):
    # [(query, distinct), ...] appended to this one.
    unions: list[tuple] = field(default_factory=list)
    # Set False by the parser when no COUNT { ... } subquery was
    # parsed anywhere in this query (including union arms): lets the
    # compiler skip the per-item rewrite tree walks on the
    # overwhelmingly common subquery-free queries (VERDICT r5 #5).
    # Defaults to True (= always walk) so a programmatically built
    # AST containing CountSubquery nodes is rewritten correctly even
    # when the builder never sets the flag (ADVICE r6).
    has_count_subquery: bool = True


# --------------------------------------------------------------------------
# DDL (create_node_table_clause.rs / create_rel_table_clause.rs)
# --------------------------------------------------------------------------

@dataclass
class ColumnDef:
    name: str
    dtype: str
    default: Optional[Expr] = None


@dataclass
class CreateNodeTable:
    name: str
    columns: list[ColumnDef]
    primary_keys: list[str]
    node_id: Optional[str]  # exactly one required at DDL validation


@dataclass
class CreateRelTable:
    name: str
    from_node: str
    to_node: str
    columns: list[ColumnDef]
    adj_index: bool = False


# Parsed-but-unsupported write clauses (parity with the reference, which
# parses these and then routes them to an UnsupportedDDLQuery error,
# ddl_query.rs:339-352 + server/handlers.rs:65-76).

@dataclass
class CreateDataClause:
    paths: list[PathPattern]


@dataclass
class MergeClause:
    """MERGE <path> [ON CREATE SET ...] [ON MATCH SET ...] (extension;
    the reference has no MERGE at all)."""

    path: PathPattern
    on_create: list[tuple] = field(default_factory=list)  # [(PropertyAccess, Expr)]
    on_match: list[tuple] = field(default_factory=list)


@dataclass
class SetClause:
    assignments: list[tuple]  # [(PropertyAccess, Expr)]


@dataclass
class RemoveClause:
    targets: list[PropertyAccess]


@dataclass
class DeleteClause:
    aliases: list[str]
    detach: bool = False


@dataclass
class WriteQuery:
    """Write statement: parsed for parity, rejected at plan time."""

    match_clauses: list[MatchClause] = field(default_factory=list)
    where: Optional[Expr] = None
    merges: list[MergeClause] = field(default_factory=list)
    create: Optional[CreateDataClause] = None
    set_clause: Optional[SetClause] = None
    remove: Optional[RemoveClause] = None
    delete: Optional[DeleteClause] = None
    foreachs: list = field(default_factory=list)  # list[ForeachClause]
    return_clause: Optional[ReturnClause] = None


@dataclass
class CallInTransactions:
    """``MATCH ... CALL { WITH n <write clauses> } IN TRANSACTIONS
    [OF k ROWS]`` (r9 extension — openCypher's batched-commit device
    for large writes; the reference rejects all writes). The outer
    match rows are split into id-range batches over the FIRST
    imported variable's distinct ids and the block's write clauses
    execute once per batch with a per-batch commit, so a million-row
    delete/update neither builds one giant plan nor holds one giant
    snapshot."""

    match_clauses: list = field(default_factory=list)
    where: Optional[Expr] = None
    imports: list = field(default_factory=list)
    body: Optional["WriteQuery"] = None
    batch_rows: int = 1000  # openCypher default
    # ON ERROR mode: 'fail' (default — first failing batch raises,
    # earlier batches stay committed), 'continue' (skip the failing
    # batch, keep going), 'break' (stop after the failing batch);
    # every mode reports per-batch status in the output frame
    on_error: str = "fail"
    # REPORT STATUS AS <var> [RETURN <items over var>] (r10,
    # openCypher 9): the per-batch status rows surface as ONE struct
    # column named report_var; report_items (when present) project
    # expressions over it — e.g. RETURN s.batch AS b, s.committed.
    # None = the r9 flat status columns, unchanged.
    report_var: Optional[str] = None
    report_items: Optional[list] = None
    # ON ERROR RETRY [<n>] [THEN CONTINUE|BREAK|FAIL] (r12, openCypher
    # 25): a failing batch rolls back and re-runs up to n more times
    # (default 3 when RETRY is given bare) before on_error applies.
    retries: int = 0


@dataclass
class ForeachClause:
    """``FOREACH (x IN <list> | SET ... / DELETE x)`` (r7 — executable
    under ``GraphSession(allow_writes=True)``; the reference rejects
    all writes). ``sets`` holds (target PropertyAccess, value Expr)
    pairs; ``delete`` deletes per element. Nested FOREACH / CREATE /
    MERGE bodies stay rejected with guidance."""

    var: str
    list_expr: Expr
    sets: list = field(default_factory=list)
    delete: Optional[DeleteClause] = None


@dataclass
class CallProcedure:
    """Standalone procedure call (extension; Neo4j-GDS-style surface
    over ops/algos): ``CALL name(args) [YIELD col [AS alias], ...]
    [WHERE expr] [ORDER BY ...] [SKIP n] [LIMIT n]``. Args are
    literals or ``$parameters``."""

    name: str
    args: list[Expr] = field(default_factory=list)
    yields: list[ReturnItem] = field(default_factory=list)
    where: Optional[Expr] = None
    order_by: list[OrderByItem] = field(default_factory=list)
    skip: Optional[int] = None
    limit: Optional[int] = None


@dataclass
class ExplainQuery:
    """``EXPLAIN [COST|FORMATTED|EXTENDED|CODEGEN] <statement>`` /
    ``PROFILE <statement>`` (extension — the first thing a user
    debugging a slow traversal types; the reference has no EXPLAIN
    surface, but our statements execute on Spark so plans are
    meaningful). EXPLAIN returns the physical plan text as rows;
    PROFILE additionally runs the query and reports the plan-summary
    counters (scans/joins/exchanges)."""

    statement: "Statement"
    mode: str = "formatted"  # formatted | cost | extended | codegen
    profile: bool = False


@dataclass
class LoadCsv:
    """``LOAD CSV [WITH HEADERS] FROM '<path>' AS var
    [FIELDTERMINATOR '<c>'] <statement>`` (r12 extension — Neo4j's
    bulk-ingest clause; the reference ingests via ClickHouse instead).
    Every field arrives as a STRING, exactly Neo4j semantics: with
    headers ``var`` is a map/struct keyed by header, without it a
    list indexed ``var[0]``; cast with toInteger()/toFloat()."""

    path: str
    var: str
    with_headers: bool = False
    sep: Optional[str] = None
    statement: "Statement" = None


Statement = Union[ReadQuery, CreateNodeTable, CreateRelTable, WriteQuery,
                  CallProcedure, ExplainQuery, LoadCsv]
