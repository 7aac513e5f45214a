"""Executable write path: CREATE / SET / REMOVE / DELETE (extension).

The reference parses write clauses and rejects them at execution
(ddl_query.rs:339-352, server/handlers.rs:65-76); we keep that rejection
as the default for parity and offer ``GraphSession(allow_writes=True)``
as an upgrade. Writes are expressed as DataFrame transforms over the
session's registered tables:

- CREATE / MERGE -> per-match-row projection appended with unionByName
- SET / REMOVE / DELETE -> ``_rewrite``, the one rewrite of existing
  rows: the table left-joins the matched keys (a node's id, a
  relationship's (from, to) pair), then a SET replaces the assigned
  columns of matched rows and a DELETE keeps the unmatched ones.
  Each clause rewrites a table once per target alias; DETACH DELETE
  adds one rewrite per incident relationship table. An FK-backed
  relationship (``GraphSchema.fk_side``) is a foreign key column of its
  backing node's rows, so its DELETE sets that column to NULL through
  the SET branch and keeps the rows; every read of the relationship
  skips a row whose foreign key is NULL (``GraphSchema.edge_rows``).

Each mutated table is ``localCheckpoint``-ed eagerly: the write becomes
a materialized snapshot, so later reads don't re-run the update plan and
repeated writes don't stack lineage. The snapshot is a new frame
object, so identity is the table version: ``_store`` holds it as the
table's resident entry (``resident.Held``), and reads use it without
pinning it again; a write pins no table it reads. With a session
``write_path`` each committed snapshot is also overwritten as parquet at
``<write_path>/<table>`` (``_durable_persist``), and a new session on
the same path reloads it.

A write costs its table rewrites and nothing else. A rewrite's counter
rides its checkpoint job as an observed metric: ``properties_set`` is
rows rewritten times assignments, ``nodes_deleted`` and
``relationships_deleted`` are rows removed. A CREATE without a MATCH
counts its one row per pattern statically, and the statement's stats
row is a driver-local relation (``io.local_frame``: no Spark job and
no Python worker to collect it).

Divergences from Neo4j, documented: plain DELETE does not verify the
node has no incident relationships (use DETACH DELETE); RETURN after a
write is not supported; every value of one clause compiles against the
pre-clause state (``SET n.a = n.b, n.b = n.a`` swaps); a SET value
referencing OTHER bound variables (r12: ``SET p.age =
toInteger(row.age)``, ``SET a.x = b.y``) reduces to ONE value per
target key by max() — deterministic under any partitioning where
Neo4j's per-row sequential last-write is row-order-defined; clauses
execute in a FIXED order per statement (MERGE, CREATE, SET, REMOVE,
DELETE, FOREACH) rather than textual order — split a write that needs
a later clause to run first into two statements.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from .compile.expressions import ExprCompiler, collect_aliases
from .compile.scope import (
    NodeBinding, RelBinding, ScalarBinding, Scope, pcol,
)
from .errors import PlanError, UnsupportedError
from .io import local_frame
from .parser import ast
from .resident import Held

#: write counters, in output order — one source of truth for
#: apply_write's stats row and the IN TRANSACTIONS status rows
WRITE_STAT_KEYS = (
    "nodes_created", "relationships_created", "properties_set",
    "nodes_deleted", "relationships_deleted",
)


def apply_write(session, wq: ast.WriteQuery, params=None,
                anchor_ids=None, initial=None) -> DataFrame:
    """Execute one write statement. ``anchor_ids`` (internal — the
    CALL { } IN TRANSACTIONS batching hook): an ``(alias, ids_df)``
    pair restricting the matched rows to the batch's ids via a
    broadcast semi-join before any mutation. ``initial`` (r12, the
    LOAD CSV hook): a pre-bound ``(frame, scope)`` the statement
    starts from — each csv row drives the writes once."""
    compiler = session._compiler(params)
    df = initial[0] if initial else None
    scope = initial[1].copy() if initial else Scope()
    if wq.match_clauses:
        part = ast.QueryPart(matches=wq.match_clauses, where=wq.where)
        df, scope = compiler.compile_write_match(df, scope, part)
        if anchor_ids is not None:
            alias, ids_df = anchor_ids
            b = scope.get(alias)
            # same key rule as the batch assignment: node -> id,
            # relationship -> src endpoint (RelBinding has no id_pcol
            # — r9 review: a rel-anchored batch crashed here)
            key = b.id_pcol if isinstance(b, NodeBinding) else b.src_pcol
            df = df.join(
                F.broadcast(ids_df.select(F.col("id").alias(key))),
                key, "leftsemi")
    if wq.return_clause is not None:
        raise UnsupportedError("RETURN after a write is not supported")

    stats = {k: 0 for k in WRITE_STAT_KEYS}
    for mc in wq.merges:
        _apply_merge(session, df, scope, mc, params, stats)
    if wq.create is not None:
        _apply_create(session, df, scope, wq.create, params, stats)
    if wq.set_clause is not None:
        _apply_sets(session, df, scope, [
            (t, v, False) for t, v in wq.set_clause.assignments],
            params, stats)
    if wq.remove is not None:
        _apply_sets(session, df, scope, [
            (t, ast.Literal(None), True) for t in wq.remove.targets],
            params, stats)
    if wq.delete is not None:
        _apply_delete(session, df, scope, wq.delete, stats)
    for fc in wq.foreachs:
        _apply_foreach(session, df, scope, fc, params, stats)

    return local_frame(
        session.spark, [tuple(stats.values())],
        ", ".join(f"{k} bigint" for k in stats))


# ----------------------------------------------------------------------
def apply_call_in_transactions(
    session, cit: "ast.CallInTransactions", params=None,
) -> DataFrame:
    """Execute ``MATCH ... CALL { WITH n <writes> } IN TRANSACTIONS
    [OF k ROWS]`` (r9): split the outer match into id-range batches
    over the first imported variable's DISTINCT ids and run the
    block's write clauses once per batch — each batch is its own
    commit (every mutated table snapshots per batch via ``_store``),
    so a million-row mutation neither builds one giant plan nor
    holds one giant undo. Returns one status row PER BATCH
    (``batch``, ``committed``, ``error`` + the usual write counters)
    with semantic parity with the equivalent one-shot write; ``ON
    ERROR CONTINUE|BREAK|FAIL`` governs what a failing batch does
    (see the loop below).

    Scale notes: the batch assignment range-sorts the (narrow)
    per-id row counts once — range repartition + in-partition sort +
    a two-pass distributed cumulative sum (per-partition totals to
    the driver, P numbers, then per-partition prefix + offset; no
    single-task global window) — and pins the assignment with a
    localCheckpoint; the per-batch id set is broadcast into a
    semi-join, so each batch's plan touches only its own slice.

    ``OF k ROWS`` counts ROWS of the outer match (openCypher), not
    distinct anchor ids (r10 — ids and rows coincide only for the
    canonical ``MATCH (n) CALL { WITH n ... }``): each distinct
    anchor id is weighted by its outer-row count and ids pack into
    batches by cumulative row count. One documented divergence
    remains: all rows of the SAME anchor id stay in one batch
    (per-anchor atomicity — splitting an anchor's rows across
    commits would let a failing second half roll back while the
    first half stays committed). Consequently a batch can exceed k
    by up to one anchor's rows minus one: an anchor whose rows
    straddle a k-boundary lands whole in the earlier batch (the
    floor(cumulative/k) rule), so batch size is bounded by
    k - 1 + max(rows per anchor), not by k. No rollback isolation
    beyond the per-batch snapshot (matching the module's
    snapshot-overwrite posture); a failure mid-sequence leaves
    earlier batches committed, exactly openCypher's documented
    IN TRANSACTIONS behavior.

    ``IN [n] CONCURRENT TRANSACTIONS`` runs through this same serial
    loop: batch order is one valid schedule of non-conflicting
    batches, and ``n`` bounds concurrency without promising it.
    Overlapping batches raise no conflict error; they apply in batch
    order."""
    if not session.allow_writes:
        raise UnsupportedError(
            "CALL { } IN TRANSACTIONS is a write statement — pass "
            "GraphSession(allow_writes=True) to enable the write path")
    compiler = session._compiler(params)
    if not cit.match_clauses:
        raise PlanError(
            "CALL { } IN TRANSACTIONS needs a preceding MATCH to "
            "batch over")
    # the block body's OWN matches and WHERE refine which rows the
    # writes touch (r9 review: they were silently dropped — a WHERE
    # inside the block then mutated every outer row); they merge into
    # one match part with the outer clauses, exactly as apply_write
    # compiles them below per batch
    all_matches = list(cit.match_clauses) + list(
        cit.body.match_clauses or [])
    where = cit.where
    if cit.body.where is not None:
        where = (cit.body.where if where is None
                 else ast.Binary("AND", where, cit.body.where))
    part = ast.QueryPart(matches=all_matches, where=where)
    df, scope = compiler.compile_write_match(None, Scope(), part)
    for a in cit.imports:
        if not isinstance(scope.get(a), (NodeBinding, RelBinding)):
            raise PlanError(
                f"CALL {{ }} IN TRANSACTIONS imports must be matched "
                f"variables; '{a}' is not one")
    anchor = cit.imports[0]
    b = scope.get(anchor)
    key = b.id_pcol if isinstance(b, NodeBinding) else b.src_pcol
    # Row-weighted batch assignment WITHOUT a single-task global
    # window (r9 review: row_number over an unpartitioned Window
    # funnels every id through one task — the opposite of this
    # feature's million-row purpose): per-id row counts are
    # range-sorted (range partitioner = ordered non-overlapping
    # ranges by partition index), per-partition row totals come back
    # to the driver (P numbers, metadata-sized), and each partition
    # assigns batches from its prefix offset — a distributed
    # cumulative sum. ``_b = floor(rows_before_this_id / k)``.
    from pyspark.sql.types import LongType, StructField, StructType

    k_rows = int(cit.batch_rows)
    sorted_counts = (
        df.groupBy(F.col(key).alias("id"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .repartitionByRange("id").sortWithinPartitions("id")
        # pin the range partitioning ONCE: the rdd below feeds two
        # separate jobs (partition totals, then the offset-based
        # assignment) and a recomputed map stage could re-sample the
        # range boundaries differently, misaligning the offsets
        # (r10 advice)
        .localCheckpoint()
    )
    count_rdd = sorted_counts.rdd.map(lambda r: (r["id"], r["cnt"]))
    part_totals = dict(count_rdd.mapPartitionsWithIndex(
        lambda i, it: [(i, sum(c for _, c in it))]).collect())
    offsets, running = {}, 0
    for i in sorted(part_totals):
        offsets[i] = running
        running += part_totals[i]

    def _assign(i, it, _offsets=offsets, _k=k_rows):
        cum = _offsets.get(i, 0)
        for id_, c in it:
            yield (id_, cum // _k)
            cum += c

    schema = StructType([sorted_counts.schema.fields[0],
                         StructField("_b", LongType())])
    ids = session.spark.createDataFrame(
        count_rdd.mapPartitionsWithIndex(_assign), schema,
    ).localCheckpoint()
    # dense batch sequence: a single anchor id heavier than k leaves a
    # gap in the floor(cum/k) numbering — iterate the batches that
    # actually exist (one driver-side value per batch, ~rows/k ints)
    batch_vals = [r["_b"] for r in
                  ids.select("_b").distinct().sort("_b").collect()]
    wq = ast.WriteQuery(
        match_clauses=all_matches, where=where,
        merges=cit.body.merges, create=cit.body.create,
        set_clause=cit.body.set_clause, remove=cit.body.remove,
        delete=cit.body.delete, foreachs=cit.body.foreachs,
    )
    # ON ERROR semantics (openCypher 9): 'fail' (default) re-raises
    # on the first failing batch — earlier batches STAY COMMITTED,
    # the documented IN TRANSACTIONS behavior; 'continue' skips the
    # failing batch and keeps going; 'break' stops issuing batches
    # after a failure. A FAILING batch rolls back completely: the
    # session's table registry is snapshotted before each batch and
    # restored on error, so clauses that ran before the failing one
    # leave no trace (our store is snapshot-valued — mutations build
    # NEW checkpointed frames, so restoring the dict restores the
    # data; r9 review: a multi-clause body previously half-committed
    # while its status row claimed nothing happened). Every row
    # reports (committed, error) alongside the write counters.
    out_rows = []
    for bi, bval in enumerate(batch_vals):
        batch_ids = ids.filter(F.col("_b") == bval).select("id")
        snapshot = dict(session.tables)
        # SET and CREATE append new keys to the catalog's column lists
        # on every attempt; a rollback puts them back with the tables
        columns = [(sch, list(sch.column_names)) for sch in (
            *session.schema.nodes.values(),
            *session.schema.relationships.values())]
        # ON ERROR RETRY <n> (r12, openCypher 25): each attempt
        # rolls back fully before the next; attempt 1 + n retries
        stats = exc = None
        for _attempt in range(1 + max(cit.retries, 0)):
            try:
                stats = apply_write(
                    session, wq, params,
                    anchor_ids=(anchor, batch_ids)).first()
                exc = None
                break
            except Exception as e:  # noqa: BLE001 — per batch
                exc = e
                dirty = [n for n, ti in session.tables.items()
                         if snapshot.get(n) is not ti]
                # restore key by key, never clear(): a read compiled
                # meanwhile finds every table at one version or the
                # other, never missing
                for n, t0 in snapshot.items():
                    if session.tables.get(n) is not t0:
                        session.tables[n] = t0
                for n in dirty:
                    if n not in snapshot:
                        session.tables.pop(n, None)
                _durable_rollback(session, snapshot, dirty)
                grown = [(sch, c0) for sch, c0 in columns
                         if list(sch.column_names) != c0]
                for sch, c0 in grown:
                    sch.column_names = c0
                if grown:
                    session._persist_catalog()
        if exc is not None:
            if cit.on_error == "fail":
                raise exc
            out_rows.append(
                (bi, False, f"{type(exc).__name__}: {exc}"[:500])
                + (0,) * len(WRITE_STAT_KEYS))
            if cit.on_error == "break":
                break
            continue
        out_rows.append((bi, True, None) + tuple(stats))
    cols = (["batch bigint", "committed boolean", "error string"]
            + [f"{c} bigint" for c in WRITE_STAT_KEYS])
    out = local_frame(session.spark, out_rows, ", ".join(cols))
    if cit.report_var is None:
        return out
    # REPORT STATUS AS <var> (r10): one struct column per batch;
    # the optional trailing RETURN projects expressions over it
    # (plain struct-field access through the expression compiler)
    out = out.select(F.struct(
        "batch", "committed", "error", *WRITE_STAT_KEYS
    ).alias(cit.report_var))
    if not cit.report_items:
        return out
    scope = Scope()
    scope.bind(ScalarBinding(
        cit.report_var, dtype=dict(out.dtypes)[cit.report_var]))
    ec = ExprCompiler(scope, params)
    sel = []
    for it in cit.report_items:
        if isinstance(it.expr, ast.Star):
            raise PlanError(
                "RETURN * after REPORT STATUS — project named fields "
                f"(e.g. {cit.report_var}.batch, "
                f"{cit.report_var}.committed)")
        if it.alias is not None:
            name = it.alias
        elif isinstance(it.expr, ast.Variable):
            name = it.expr.name
        elif isinstance(it.expr, ast.PropertyAccess):
            name = it.expr.key
        else:
            raise PlanError(
                "alias every computed RETURN item after REPORT "
                "STATUS (... AS name)")
        sel.append(ec.compile(it.expr).alias(name))
    return out.select(*sel)


def _store(session, table_name: str, df: DataFrame) -> None:
    """Snapshot the mutated table (see module docstring) and register.

    Invalidates any grouped-adjacency materialization of a mutated
    relationship: the planner requires both direction tables to take
    the indexed path, so dropping them falls every hop back to the
    (fresh) edge list until the user re-runs ``build_adj_index`` (or
    the streaming maintenance catches up). The checkpoint is already
    resident, so it is held as its own entry (resident.py) and the next
    read does not pin it again; the entry it replaces, with the loop
    projections built from the old frame, is dropped."""
    out = df.localCheckpoint(eager=True)
    _durable_persist(session, table_name, out)
    session._held[table_name] = Held(out, out)
    session.tables[table_name] = out
    for rel in session.schema.relationships.values():
        if table_name in (rel.type_name, rel.table_name):
            session.tables.pop(f"{rel.type_name}_outgoing", None)
            session.tables.pop(f"{rel.type_name}_incoming", None)


def _durable_persist(session, table_name: str, df: DataFrame) -> None:
    """Durable write commits (r12, VERDICT r11 missing #6): mirror a
    committed table to ``<write_path>/<table_name>`` as a full parquet
    snapshot. No-op without a session write_path."""
    wp = getattr(session, "write_path", None)
    if wp is None:
        return
    import os

    df.write.mode("overwrite").parquet(os.path.join(wp, table_name))


def _durable_rollback(session, snapshot: dict, dirty: list) -> None:
    """After an in-memory snapshot restore, re-align the durable
    copies the failed batch already overwrote: re-persist each dirty
    table's snapshot frame, and remove the directory of a table the
    batch CREATED (no snapshot entry) so a restart cannot resurrect
    rolled-back rows."""
    wp = getattr(session, "write_path", None)
    if wp is None:
        return
    import os
    import shutil

    for name in dirty:
        t0 = snapshot.get(name)
        if t0 is not None:
            _durable_persist(session, name, t0)
            continue
        p = os.path.join(wp, name)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)


def _align_append(table: DataFrame, rows: DataFrame) -> DataFrame:
    """unionByName with literal columns cast to the table's dtypes."""
    target = {f.name: f.dataType for f in table.schema.fields}
    rows = rows.select(*[
        F.col(c).cast(target[c]) if c in target else F.col(c)
        for c in rows.columns
    ])
    return table.unionByName(rows, allowMissingColumns=True)


# ----------------------------------------------------------------------
def _apply_create(session, df, scope, create, params, stats) -> None:
    spark = session.spark
    # without a MATCH, base is one row: each pattern creates exactly one
    # node or relationship, so only a MATCH-driven CREATE runs a count
    base = df if df is not None else spark.range(1).drop("id")
    for path in create.paths:
        if path.var is not None or path.shortest is not None:
            raise UnsupportedError(
                "path variables / shortestPath in CREATE"
            )
        ec = ExprCompiler(scope, params)
        # (label, id expression) per node position: a bound alias reads
        # its id column, a new node its id property expression,
        # evaluated per match row
        ends: list = []
        for np in path.nodes:
            b = scope.get(np.alias) if np.alias else None
            if isinstance(b, NodeBinding):
                if np.properties or (np.label and np.label != b.label):
                    raise PlanError(
                        f"CREATE on bound alias '{np.alias}' cannot "
                        "restate label/properties"
                    )
                ends.append((b.label, F.col(b.id_pcol)))
                continue
            if np.label is None:
                raise PlanError("CREATE node needs a label")
            sch = session.schema.node(np.label)
            if sch.node_id not in np.properties:
                raise PlanError(
                    f"CREATE (:{np.label}) must set the node id "
                    f"property '{sch.node_id}'"
                )
            cols = [
                ec.compile(v).alias(k) for k, v in np.properties.items()
            ]
            rows = base.select(*cols)
            table = session._load_for_label(np.label)
            new_cols = [c for c in rows.columns if c not in table.columns]
            _store(session, sch.table_name, _align_append(table, rows))
            if new_cols:
                sch.column_names = list(sch.column_names) + new_cols
                session._persist_catalog()
            stats["nodes_created"] += 1 if df is None else rows.count()
            ends.append((np.label, ec.compile(np.properties[sch.node_id])))
        for i, rp in enumerate(path.rels):
            rsch, src_e, dst_e = _rel_endpoints(
                session, rp, ends[i:i + 2], "CREATE")
            sel = [src_e.alias(rsch.from_column),
                   dst_e.alias(rsch.to_column)]
            sel += [ec.compile(v).alias(k)
                    for k, v in rp.properties.items()]
            rows = base.select(*sel)
            table = session._load_for_label(rp.type_name)
            _store(session, rsch.table_name, _align_append(table, rows))
            stats["relationships_created"] += (
                1 if df is None else rows.count())


def _rel_endpoints(session, rp, ends, verb: str):
    """``(schema, from id, to id)`` of the relationship a CREATE or
    MERGE writes: a single-type, single-hop, directed pattern whose
    endpoints — ``ends``, (label, id expression) in path order,
    swapped by ``<-`` — run from its type's from_node to its to_node."""
    if rp.type_name is None or rp.direction not in ("out", "in"):
        raise PlanError(
            f"{verb} relationship needs a type and a direction "
            "(-> or <-)")
    if rp.max_hops != 1 or rp.alt_types:
        raise UnsupportedError(f"variable-length / multi-type in {verb}")
    rsch = session.schema.relationship(rp.type_name)
    (src_l, src), (dst_l, dst) = (
        ends if rp.direction == "out" else ends[::-1])
    if (src_l, dst_l) != (rsch.from_node, rsch.to_node):
        raise PlanError(
            f"{verb} -[:{rp.type_name}]- connects "
            f"{rsch.from_node}->{rsch.to_node}, got {src_l}->{dst_l}")
    return rsch, src, dst


# ----------------------------------------------------------------------
def _apply_merge(session, df, scope, mc, params, stats) -> None:
    """MERGE = match-or-create, idempotent by construction:

    - node form ``MERGE (n:L {props})``: the wanted (per-match-row,
      deduplicated) prop tuples anti-join the node table on ALL given
      props; only missing tuples are appended. ON CREATE SET / ON MATCH
      SET then run as ordinary SET over the created / pre-existing ids.
    - relationship form ``MERGE (a)-[:T]->(b)`` (endpoints bound):
      wanted (from, to[, props]) tuples anti-join the edge table;
      missing ones are appended.

    The anti-join is the scale shape of upsert."""
    path = mc.path
    if path.var is not None or path.shortest is not None:
        raise UnsupportedError("path variables / shortestPath in MERGE")
    spark = session.spark
    base = df if df is not None else spark.range(1).drop("id")
    ec = ExprCompiler(scope, params)

    if not path.rels:
        np = path.nodes[0]
        if np.alias and scope.get(np.alias) is not None:
            raise PlanError(
                f"MERGE on already-bound alias '{np.alias}'"
            )
        if np.label is None or not np.properties:
            raise PlanError("MERGE node needs a label and properties")
        sch = session.schema.node(np.label)
        if sch.node_id not in np.properties:
            raise PlanError(
                f"MERGE (:{np.label}) must include the node id "
                f"property '{sch.node_id}'"
            )
        want = base.select(*[
            ec.compile(v).alias(k) for k, v in np.properties.items()
        ]).distinct()
        table = session._load_for_label(np.label)
        on = [want[k].eqNullSafe(table[k]) for k in np.properties]
        cond = on[0]
        for c in on[1:]:
            cond = cond & c
        # snapshot so created ids stay stable for ON CREATE SET
        created = want.join(table, cond, "left_anti") \
            .localCheckpoint(eager=True)
        n_created = created.count()
        if n_created:
            _store(session, sch.table_name,
                   _align_append(table, created))
        stats["nodes_created"] += n_created

        def run_sets(assignments, ids_df):
            a = np.alias or "__m"
            mini = Scope()
            mini.bind(NodeBinding(
                alias=a, label=np.label,
                id_column=sch.node_id, columns=list(sch.column_names),
            ))
            for target, _v in assignments:
                if isinstance(target, ast.PropertyAccess) and \
                        target.alias != a:
                    raise PlanError(
                        f"ON SET target must be '{a}'"
                    )
            mdf = ids_df.select(F.col(sch.node_id).alias(pcol(a, sch.node_id)))
            _apply_sets(session, mdf, mini,
                        [(t, v, False) for t, v in assignments],
                        params, stats)

        if mc.on_create and n_created:
            run_sets(mc.on_create, created.select(sch.node_id))
        if mc.on_match:
            existing = want.join(table, cond, "left_semi")
            run_sets(mc.on_match, existing.select(
                F.col(sch.node_id)))
        return

    if len(path.rels) != 1:
        raise UnsupportedError("MERGE supports one relationship per path")
    rp = path.rels[0]
    if mc.on_create or mc.on_match:
        raise UnsupportedError(
            "ON CREATE/ON MATCH SET on relationship MERGE"
        )
    ends = []
    for np in path.nodes:
        b = scope.get(np.alias) if np.alias else None
        if not isinstance(b, NodeBinding):
            raise UnsupportedError(
                "MERGE relationship endpoints must be bound by MATCH"
            )
        if np.properties:
            raise PlanError(
                f"MERGE cannot restate properties on bound '{np.alias}'"
            )
        ends.append((b.label, F.col(b.id_pcol)))
    rsch, src, dst = _rel_endpoints(session, rp, ends, "MERGE")
    sel = [src.alias(rsch.from_column), dst.alias(rsch.to_column)]
    sel += [ec.compile(v).alias(k) for k, v in rp.properties.items()]
    want = base.select(*sel).distinct()
    edges = session._load_for_label(rp.type_name)
    keys = [rsch.from_column, rsch.to_column] + list(rp.properties)
    on = [want[k].eqNullSafe(edges[k]) for k in keys]
    cond = on[0]
    for c in on[1:]:
        cond = cond & c
    missing = want.join(edges, cond, "left_anti").localCheckpoint(eager=True)
    n_created = missing.count()
    if n_created:
        _store(session, rsch.table_name, _align_append(edges, missing))
    stats["relationships_created"] += n_created


# ----------------------------------------------------------------------
def _keyed(session, b):
    """How a bound target's matched rows key its table: ``(label, key
    columns to select from the matched frame, join condition over the
    table's columns prefixed by the binding's alias)``.

    A node keys on its id. A relationship keys on its (from, to) pair
    in storage orientation (``RelBinding.fwd_storage``; r7 review: a
    rev-matched rel carries the storage TO value in src_pcol, so a
    naive from==src join touched zero edges): a reversed match swaps
    the pair, and a mixed or unknown one ('both' unions, multi-type
    arms, FK-derived rels) matches either orientation through the
    pair's (least, greatest), so each edge row meets at most one key.
    Every parallel or reciprocal edge on a matched pair is touched —
    the edge-list model has no edge identity (documented divergence)."""
    def t(c):
        return F.col(pcol(b.alias, c))

    if isinstance(b, NodeBinding):
        id_col = session.schema.node(b.label).node_id
        return (b.label, [F.col(b.id_pcol).alias("__wid")],
                t(id_col) == F.col("__wid"))
    rsch = session.schema.relationship(b.type_name)
    pair = [F.col(b.src_pcol), F.col(b.dst_pcol)]
    ends = [t(rsch.from_column), t(rsch.to_column)]
    if b.fwd_storage is False:
        pair.reverse()
    elif b.fwd_storage is None:
        pair = [F.least(*pair), F.greatest(*pair)]
        ends = [F.least(*ends), F.greatest(*ends)]
    return (b.type_name,
            [pair[0].alias("__wsrc"), pair[1].alias("__wdst")],
            (ends[0] == F.col("__wsrc")) & (ends[1] == F.col("__wdst")))


def _rewrite(session, label, alias, joins, stats, sets=None,
             params=None) -> None:
    """The one rewrite of existing rows, behind every SET, REMOVE and
    DELETE. ``label``'s table, its columns prefixed by ``alias``,
    left-joins each ``(keys, on)`` of ``joins``; a row is matched when
    the first column of a key frame it joined is non-null.

    ``sets`` holds ``(key, value, removing)`` assignments, ``value`` an
    expression over the target row or a Column of the key frame (a
    value already reduced per key): matched rows take the new values
    in one select, and keys new to the table join the catalog. Without
    ``sets`` the unmatched rows are kept. One ``_store`` commits, and
    the matched-row count rides its checkpoint job as an observed
    metric: ``properties_set`` grows by rows times assignments, the
    deleted counter by rows."""
    is_node = label in session.schema.nodes
    if is_node:
        sch = session.schema.node(label)
        for key, _v, _r in sets or ():
            if key == sch.node_id:
                raise PlanError(
                    f"SET/REMOVE on the node id property '{key}' would "
                    "re-key the node — CREATE a new node and DELETE "
                    "the old one instead")
    else:
        sch = session.schema.relationship(label)
        for key, _v, _r in sets or ():
            if key in (sch.from_column, sch.to_column):
                raise PlanError(
                    f"SET/REMOVE on the endpoint column '{key}' would "
                    "re-point the edge — DELETE it and CREATE the new "
                    "edge instead")
    table = session._load_for_label(label)
    joined = table.select(
        *[F.col(c).alias(pcol(alias, c)) for c in table.columns])
    hits = []
    for keys, on in joins:
        joined = joined.join(keys, on, "left")
        hits.append(F.col(keys.columns[0]))
    hit = hits[0] if len(hits) == 1 else F.coalesce(*hits)
    # observed on the join output, not on the broadcast key side: AQE
    # drops that side's stage for a zero-row match, and its metric
    # never arrives
    obs = Observation()
    joined = joined.observe(obs, F.count(hit).alias("n"))
    old = {c: F.col(pcol(alias, c)) for c in table.columns}
    if sets is None:
        _store(session, sch.table_name, joined.filter(hit.isNull())
               .select(*[v.alias(c) for c, v in old.items()]))
        stats["nodes_deleted" if is_node else
              "relationships_deleted"] += obs.get["n"]
        return
    sub = Scope()
    if is_node:
        sub.bind(NodeBinding(alias=alias, label=label,
                             id_column=sch.node_id,
                             columns=list(table.columns)))
    else:
        sub.bind(RelBinding(
            alias=alias, type_name=label,
            columns=[c for c in table.columns
                     if c not in (sch.from_column, sch.to_column)],
            src_pcol=pcol(alias, sch.from_column),
            dst_pcol=pcol(alias, sch.to_column)))
    ec = ExprCompiler(sub, params)
    updates: dict[str, Column] = {}
    new_keys: list[str] = []
    for key, value, removing in sets:
        if key not in old and key not in new_keys:
            new_keys.append(key)
            if not removing:
                sch.column_names = list(sch.column_names) + [key]
        new_val = value if isinstance(value, Column) else ec.compile(value)
        updates[key] = F.when(hit.isNotNull(), new_val).otherwise(
            old.get(key, F.lit(None)))
    _store(session, sch.table_name, joined.select(*[
        updates.get(c, old.get(c)).alias(c)
        for c in [*table.columns, *new_keys]]))
    if new_keys:
        session._persist_catalog()
    stats["properties_set"] += obs.get["n"] * len(sets)


def _apply_sets(session, df, scope, triples, params, stats,
                last=None) -> None:
    """SET/REMOVE ``(target, value, removing)`` assignments: one
    ``_rewrite`` per target alias, every value compiled against the
    pre-clause state. Values that reference only their target compile
    against its row. When one references other bound variables
    (LOAD CSV's row, a joined node's property, FOREACH's loop
    variable), all compute against the matched frame ``df`` and reduce
    to one value per key: the max, or with ``last`` (FOREACH's list
    position column) the value at the greatest position, ties to the
    greatest value."""
    if df is None:
        raise PlanError("SET/REMOVE requires a MATCH")
    groups: dict[str, list] = {}
    for t in triples:
        if not isinstance(t[0], ast.PropertyAccess):
            raise UnsupportedError(
                "SET/REMOVE target must be alias.property")
        groups.setdefault(t[0].alias, []).append(t)
    for a, group in groups.items():
        b = scope.get(a)
        if not isinstance(b, (NodeBinding, RelBinding)):
            raise UnsupportedError(
                "SET/REMOVE targets a node or relationship property")
        label, keys, on = _keyed(session, b)
        refs: set[str] = set()
        for _t, v, _r in group:
            collect_aliases(v, refs)
        if refs <= {a}:
            _rewrite(session, label, a,
                     [(df.select(*keys).distinct(), on)], stats,
                     [(t.key, v, r) for t, v, r in group], params)
            continue
        ec = ExprCompiler(scope, params)
        wv = [f"__wv{i}" for i in range(len(group))]
        pos = [F.col(last).alias("__wp")] if last else []
        vals = df.select(*keys, *pos, *[
            ec.compile(v).alias(n) for n, (_t, v, _r) in zip(wv, group)])
        vals = vals.groupBy(*vals.columns[:len(keys)]).agg(*[
            (F.max(F.struct("__wp", n))[n] if last else F.max(n)).alias(n)
            for n in wv])
        _rewrite(session, label, a, [(vals, on)], stats,
                 [(t.key, F.col(n), r) for n, (t, _v, r) in zip(wv, group)],
                 params)


# ----------------------------------------------------------------------
def _apply_foreach(session, df, scope, fc, params, stats) -> None:
    """``FOREACH (x IN <list> | SET ... / DELETE x)`` (r7): the list
    explodes per match row (rows with empty/NULL lists skip the body,
    Cypher semantics) and the body runs through the SET/DELETE
    rewrites — never a per-element loop:

    - ``SET x.key = v`` (loop var is the node): the list must be
      ``nodes(<path>)`` of a single-label path — exploded ids key the
      label table, the value compiles against the target row
      (``x.cnt + 1`` works), exactly the MERGE ON-SET shape.
      Divergence: ids dedup before the join, so a node reached by
      several rows/elements updates ONCE (``x.cnt + 1`` increments by
      1, not by its occurrence count — Neo4j's per-row imperative
      loop would apply it repeatedly);
    - ``SET b.key = v`` (MATCH-bound target): the value may reference
      the loop variable and any matched columns; per target key the
      LAST list element wins (Cypher applies elements sequentially).
      Ties across duplicate match rows break by greatest value —
      deterministic under any partitioning (documented divergence
      from Neo4j's row-order last-write);
    - ``DELETE x`` / ``DETACH DELETE x``: the plain DELETE rewrite
      keyed by the exploded ids."""
    from .compile.scope import PathBinding

    if df is None:
        raise PlanError("FOREACH requires a preceding MATCH")
    if scope.get(fc.var) is not None:
        raise PlanError(
            f"FOREACH variable '{fc.var}' shadows a bound alias")
    ec = ExprCompiler(scope, params)
    arr = ec.compile(fc.list_expr)
    base = df.select(
        "*", F.posexplode(arr).alias("__fpos", fc.var))

    def loop_node():
        """The loop variable bound as a node: its id frame and scope."""
        e = fc.list_expr
        pvar = None
        if (isinstance(e, ast.FnCall) and e.name.lower() == "nodes"
                and len(e.args) == 1
                and isinstance(e.args[0], ast.Variable)):
            pvar = e.args[0].name
        elif isinstance(e, ast.Variable):
            pvar = e.name
        pb = scope.get(pvar) if pvar else None
        labels = {
            scope.get(a).label for a in pb.node_aliases
            if isinstance(scope.get(a), NodeBinding)
        } if isinstance(pb, PathBinding) else set()
        if len(labels) != 1:
            raise UnsupportedError(
                f"FOREACH over '{fc.var}' as a node needs the list to "
                "be nodes(<path>) of a single-label path; for scalar "
                "lists SET a MATCH-bound alias instead")
        sch = session.schema.node(labels.pop())
        mini = Scope()
        mini.bind(NodeBinding(
            alias=fc.var, label=sch.label, id_column=sch.node_id,
            columns=list(sch.column_names)))
        return base.select(
            F.col(fc.var).alias(pcol(fc.var, sch.node_id))), mini

    loop, bound = [], []
    for target, value in fc.sets:
        own = isinstance(target, ast.PropertyAccess) and \
            target.alias == fc.var
        (loop if own else bound).append((target, value, False))
    if loop:
        _apply_sets(session, *loop_node(), loop, params, stats)
    if bound:
        ex_scope = scope.copy()
        ex_scope.bind(ScalarBinding(fc.var))
        _apply_sets(session, base, ex_scope, bound, params, stats,
                    last="__fpos")
    if fc.delete is not None:
        if set(fc.delete.aliases) != {fc.var}:
            raise UnsupportedError(
                "FOREACH DELETE supports the loop variable (delete "
                "bound aliases with a plain DELETE clause)")
        _apply_delete(session, *loop_node(), fc.delete, stats)


# ----------------------------------------------------------------------
def _apply_delete(session, df, scope, delete, stats) -> None:
    """DELETE: one rewrite per alias, keeping its table's unmatched
    rows. Plain DELETE leaves a node's incident edges in place (Neo4j
    errors instead; documented divergence). DETACH DELETE also rewrites
    each relationship table incident to the node's label once: a
    self-relationship chains its from-side and to-side joins into that
    one rewrite.

    An FK-backed relationship (``GraphSchema.fk_side``) is a foreign
    key in its backing node's rows, so deleting it clears that column
    and keeps the rows (``_unlink``). DETACH DELETE clears the FK of
    every row that references the node; an edge held in the deleted
    node's own row goes with the row and is not counted."""
    if df is None:
        raise PlanError("DELETE requires a MATCH")
    catalog = session.schema
    for alias in delete.aliases:
        b = scope.get(alias)
        if not isinstance(b, (NodeBinding, RelBinding)):
            raise PlanError(f"cannot DELETE '{alias}'")
        label, keys, on = _keyed(session, b)
        ids = df.select(*keys).distinct()
        if isinstance(b, RelBinding) and catalog.fk_side(
                catalog.relationship(label)):
            _unlink(session, catalog.relationship(label), alias,
                    [(ids, on)], stats)
        else:
            _rewrite(session, label, alias, [(ids, on)], stats)
        if not delete.detach or isinstance(b, RelBinding):
            continue
        for rsch in catalog.relationships.values():
            side = catalog.fk_side(rsch)
            ends = ((rsch.from_node, rsch.from_column),
                    (rsch.to_node, rsch.to_column))
            if side is not None:
                # only the FK column points at the node from other rows
                ends = ends[:1] if side == "to" else ends[1:]
            joins = [(ids.select(F.col("__wid").alias(f"__wid{j}")),
                      F.col(pcol("__e", c)) == F.col(f"__wid{j}"))
                     for j, c in enumerate(
                         [c for end, c in ends if end == b.label])]
            if not joins:
                continue
            if side is None:
                _rewrite(session, rsch.type_name, "__e", joins, stats)
            else:
                _unlink(session, rsch, "__e", joins, stats)


def _unlink(session, rsch, alias, joins, stats) -> None:
    """Delete the matched edges of an FK-backed relationship: one
    ``_rewrite`` of its backing node table sets the FK column of the
    matched rows to NULL, and counts each as a deleted relationship."""
    side = session.schema.fk_side(rsch)
    backing, fk = ((rsch.to_node, rsch.from_column) if side == "to"
                   else (rsch.from_node, rsch.to_column))
    cleared = {"properties_set": 0}
    _rewrite(session, backing, alias, joins, cleared,
             [(fk, ast.Literal(None), False)])
    stats["relationships_deleted"] += cleared["properties_set"]
