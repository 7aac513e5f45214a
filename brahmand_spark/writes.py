"""Executable write path: CREATE / SET / REMOVE / DELETE (extension).

The reference parses write clauses and rejects them at execution
(ddl_query.rs:339-352, server/handlers.rs:65-76); we keep that rejection
as the default for parity and offer ``GraphSession(allow_writes=True)``
as an upgrade. Writes are expressed as DataFrame transforms over the
session's registered tables:

- CREATE        -> per-match-row projection appended with unionByName
- SET / REMOVE  -> left join on matched ids + conditional withColumn
- DELETE        -> left_anti join on matched ids (DETACH also anti-joins
                   every incident relationship table)

Each mutated table is ``localCheckpoint``-ed eagerly: the write becomes
a materialized snapshot, so later reads don't re-run the update plan and
repeated writes don't stack lineage. With a session ``write_path``
each committed snapshot is also overwritten as parquet at
``<write_path>/<table>`` (``_durable_persist``), and a new session on
the same path reloads it.

A write costs its table rewrites and nothing else. A SET's counter
rides its checkpoint job as an observed metric (the rows it rewrote),
a CREATE without a MATCH counts its one row per pattern statically, and
the statement's stats row is a driver-local relation (``io.local_frame``:
no Spark job and no Python worker to collect it).

Divergences from Neo4j, documented: plain DELETE does not verify the
node has no incident relationships (use DETACH DELETE); RETURN after a
write is not supported; a SET value referencing OTHER bound variables
(r12: ``SET p.age = toInteger(row.age)``, ``SET a.x = b.y``) reduces
to ONE value per target id by max() — deterministic under any
partitioning where Neo4j's per-row sequential last-write is
row-order-defined; clauses execute in a FIXED order per statement
(MERGE, CREATE, SET, REMOVE, DELETE, FOREACH) rather than textual
order — split a write that needs a later clause to run first into two
statements.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .compile.expressions import ExprCompiler, collect_aliases
from .compile.scope import (
    NodeBinding, RelBinding, ScalarBinding, Scope, pcol,
)
from .errors import PlanError, UnsupportedError
from .io import local_frame
from .parser import ast

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
        # batch per target alias: every value in one SET clause
        # compiles against the PRE-clause state (openCypher semantics
        # — `SET n.a = n.b, n.b = n.a` swaps; per-key sequential
        # writes would see mid-statement values, r7 review), and a
        # k-key SET rewrites its table once instead of k times
        groups: dict[str, list] = {}
        for target, value in wq.set_clause.assignments:
            if not isinstance(target, ast.PropertyAccess):
                raise UnsupportedError(
                    "SET/REMOVE target must be alias.property")
            groups.setdefault(target.alias, []).append(
                (target, value, False))
        for triples in groups.values():
            _apply_set_group(session, df, scope, triples, params, stats)
    if wq.remove is not None:
        for target in wq.remove.targets:
            _apply_set(session, df, scope, target, ast.Literal(None),
                       params, stats, removing=True)
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


def _store(session, table_name: str, df: DataFrame) -> DataFrame:
    """Snapshot the mutated table (see module docstring) and register.

    Invalidates any grouped-adjacency materialization of a mutated
    relationship: the planner requires both direction tables to take
    the indexed path, so dropping them falls every hop back to the
    (fresh) edge list until the user re-runs ``build_adj_index`` (or
    the streaming maintenance catches up). Drops the relationship's
    served pagerank projection too (procedures.py)."""
    out = df.localCheckpoint(eager=True)
    _durable_persist(session, table_name, out)
    session.tables[table_name] = out
    for rel in session.schema.relationships.values():
        if table_name in (rel.type_name, rel.table_name):
            session.tables.pop(f"{rel.type_name}_outgoing", None)
            session.tables.pop(f"{rel.type_name}_incoming", None)
            session._projections.pop(rel.type_name, None)
    return out


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
        # id expression per node position (bound alias -> its id column;
        # new node -> its id property expression, evaluated per match row)
        id_exprs: list = []
        for np in path.nodes:
            b = scope.get(np.alias) if np.alias else None
            if isinstance(b, NodeBinding):
                if np.properties or (np.label and np.label != b.label):
                    raise PlanError(
                        f"CREATE on bound alias '{np.alias}' cannot "
                        "restate label/properties"
                    )
                id_exprs.append(F.col(b.id_pcol))
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
            updated = _store(
                session, sch.table_name, _align_append(table, rows))
            if new_cols:
                sch.column_names = list(sch.column_names) + new_cols
                session._persist_catalog()
            stats["nodes_created"] += 1 if df is None else rows.count()
            # Later rels in this path address the new node by its id
            # expression (per match row).
            id_exprs.append(ec.compile(np.properties[sch.node_id]))
            _ = updated
        for i, rp in enumerate(path.rels):
            if rp.type_name is None:
                raise PlanError("CREATE relationship needs a type")
            if rp.direction not in ("out", "in"):
                raise PlanError(
                    "CREATE relationship needs a direction (-> or <-)"
                )
            if rp.max_hops != 1 or rp.alt_types:
                raise UnsupportedError(
                    "variable-length / multi-type in CREATE"
                )
            rsch = session.schema.relationship(rp.type_name)

            def node_label(np):
                b = scope.get(np.alias) if np.alias else None
                return b.label if isinstance(b, NodeBinding) else np.label

            src_e, dst_e = id_exprs[i], id_exprs[i + 1]
            src_l, dst_l = node_label(path.nodes[i]), node_label(path.nodes[i + 1])
            if rp.direction == "in":
                src_e, dst_e = dst_e, src_e
                src_l, dst_l = dst_l, src_l
            if (src_l, dst_l) != (rsch.from_node, rsch.to_node):
                raise PlanError(
                    f"CREATE -[:{rp.type_name}]- connects "
                    f"{rsch.from_node}->{rsch.to_node}, "
                    f"got {src_l}->{dst_l}"
                )
            sel = [src_e.alias(rsch.from_column),
                   dst_e.alias(rsch.to_column)]
            sel += [ec.compile(v).alias(k)
                    for k, v in rp.properties.items()]
            rows = base.select(*sel)
            table = session._load_for_label(rp.type_name)
            _store(session, rsch.table_name, _align_append(table, rows))
            stats["relationships_created"] += (
                1 if df is None else rows.count())


# ----------------------------------------------------------------------


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
            mini = Scope()
            mini.bind(NodeBinding(
                alias=np.alias or "__m", label=np.label,
                id_column=sch.node_id, columns=list(sch.column_names),
            ))
            a = np.alias or "__m"
            mdf = ids_df.select(F.col(sch.node_id).alias(pcol(a, sch.node_id)))
            for target, value in assignments:
                if isinstance(target, ast.PropertyAccess) and \
                        target.alias != a:
                    raise PlanError(
                        f"ON SET target must be '{a}'"
                    )
                _apply_set(session, mdf, mini, target, value, params, stats)

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
    if rp.type_name is None or rp.direction not in ("out", "in"):
        raise PlanError("MERGE relationship needs a type and direction")
    if rp.max_hops != 1 or rp.alt_types:
        raise UnsupportedError("variable-length / multi-type in MERGE")
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
        ends.append(b)
    rsch = session.schema.relationship(rp.type_name)
    src_b, dst_b = ends
    src_l, dst_l = src_b.label, dst_b.label
    if rp.direction == "in":
        src_b, dst_b = dst_b, src_b
        src_l, dst_l = dst_l, src_l
    if (src_l, dst_l) != (rsch.from_node, rsch.to_node):
        raise PlanError(
            f"MERGE -[:{rp.type_name}]- connects "
            f"{rsch.from_node}->{rsch.to_node}, got {src_l}->{dst_l}"
        )
    sel = [F.col(src_b.id_pcol).alias(rsch.from_column),
           F.col(dst_b.id_pcol).alias(rsch.to_column)]
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
def _apply_set(session, df, scope, target, value, params, stats,
               removing: bool = False) -> None:
    """Single-assignment SET/REMOVE (MERGE ON-SET / FOREACH / REMOVE
    callers) — one-element group of :func:`_apply_set_group`."""
    if not isinstance(target, ast.PropertyAccess):
        raise UnsupportedError(
            "SET/REMOVE target must be alias.property")
    _apply_set_group(session, df, scope, [(target, value, removing)],
                     params, stats)


def _apply_set_group(session, df, scope, triples, params,
                     stats) -> None:
    """One batched pass of SET/REMOVE assignments sharing a target
    alias: every value column compiles against the PRE-state joined
    frame and the replaced columns land in ONE select — snapshot
    semantics (`SET n.a = n.b, n.b = n.a` swaps) and one table
    rewrite per clause instead of one per key."""
    if df is None:
        raise PlanError("SET/REMOVE requires a MATCH")
    a = triples[0][0].alias
    external = False
    for target, value, _removing in triples:
        refs: set[str] = set()
        collect_aliases(value, refs)
        if refs - {a}:
            # r12 (LOAD CSV / cross-alias SET): values referencing
            # OTHER bound variables compute against the matched frame
            # instead of the target table re-scan — see the external
            # branch below
            external = True
    b = scope.get(a)
    if isinstance(b, RelBinding):
        _apply_set_rel_group(session, df, b, triples, params, stats,
                             external=external, frame_scope=scope)
        return
    if not isinstance(b, NodeBinding):
        raise UnsupportedError(
            "SET/REMOVE targets a node or relationship property")
    sch = session.schema.node(b.label)
    for target, _v, _r in triples:
        if target.key == sch.node_id:
            raise PlanError(
                f"SET/REMOVE on the node id property '{sch.node_id}' "
                "would re-key the node — CREATE a new node and DELETE "
                "the old one instead")
    table = session._load_for_label(b.label)
    matched = df.select(F.col(b.id_pcol).alias("__wid")).distinct()
    prefixed = table.select(
        *[F.col(c).alias(pcol(a, c)) for c in table.columns]
    )
    if external:
        # r12: values reference other bound variables (LOAD CSV's
        # row, a joined node's property) — compute them against the
        # MATCHED FRAME (pre-state: df precedes any mutation of this
        # statement), reduce to one value per target id (max() —
        # deterministic under any partitioning; Neo4j's per-row
        # sequential last-write is order-defined there and not here,
        # the same documented divergence as FOREACH bound-alias SET),
        # and join that in place of the table re-scan.
        ec_df = ExprCompiler(scope, params)
        val_cols = [ec_df.compile(v).alias(f"__wv{i}")
                    for i, (_t, v, _r) in enumerate(triples)]
        vals = (df.select(F.col(b.id_pcol).alias("__wid"), *val_cols)
                .groupBy("__wid")
                .agg(*[F.max(f"__wv{i}").alias(f"__wv{i}")
                       for i in range(len(triples))]))
        joined = prefixed.join(
            vals, F.col(pcol(a, sch.node_id)) == F.col("__wid"),
            "left")
    else:
        joined = prefixed.join(
            matched, F.col(pcol(a, sch.node_id)) == F.col("__wid"),
            "left",
        )
    # the rewritten-row count rides _store's checkpoint job as a metric
    # observed on the join output; observed on `matched`, the broadcast
    # side, it is lost when AQE drops that stage for a zero-row match
    obs = Observation()
    joined = joined.observe(obs, F.count("__wid").alias("n"))
    sub = Scope()
    sub.bind(NodeBinding(
        alias=a, label=b.label, id_column=sch.node_id,
        columns=list(table.columns),
    ))
    ec = ExprCompiler(sub, params)
    updates: dict[str, "F.Column"] = {}
    new_keys: list[str] = []
    for i, (target, value, removing) in enumerate(triples):
        is_new = (target.key not in table.columns
                  and target.key not in new_keys)
        if is_new:
            new_keys.append(target.key)
        old = (F.lit(None) if target.key not in table.columns
               else F.col(pcol(a, target.key)))
        new_val = (F.col(f"__wv{i}") if external
                   else ec.compile(value))
        updates[target.key] = F.when(
            F.col("__wid").isNotNull(), new_val
        ).otherwise(old)
        if is_new and not removing:
            sch.column_names = list(sch.column_names) + [target.key]
    out_cols = list(table.columns) + new_keys
    back = joined.select(*[
        updates[c].alias(c) if c in updates
        else F.col(pcol(a, c)).alias(c)
        for c in out_cols
    ])
    _store(session, sch.table_name, back)
    if new_keys:
        session._persist_catalog()
    stats["properties_set"] += obs.get["n"] * len(triples)


def _rel_pair_cond(b, rsch, wsrc, wdst):
    """Join condition matching a bound relationship's matched (src,
    dst) pair against the edge TABLE's storage columns, keyed off the
    binding's recorded storage orientation (r7 review: a rev-matched
    rel carries the storage TO value in src_pcol, so the naive
    from==src join silently touched zero edges). ``rsch`` is the
    (from_col, to_col) Column pair of the TABLE side; ``wsrc``/
    ``wdst`` the matched pair Columns. Unknown/mixed orientation
    ('both' unions, multi-type arms, FK-derived rels) matches EITHER
    orientation — when reciprocal edges both exist, both
    update/delete (documented divergence, same family as the
    parallel-edge one)."""
    fwd = (rsch[0] == wsrc) & (rsch[1] == wdst)
    rev = (rsch[0] == wdst) & (rsch[1] == wsrc)
    if b.fwd_storage is True:
        return fwd
    if b.fwd_storage is False:
        return rev
    return fwd | rev


def _apply_set_rel_group(session, df, b, triples, params,
                         stats, external: bool = False,
                         frame_scope=None) -> None:
    """Batched SET/REMOVE on relationship properties (r7 — closed the
    'not yet' gap): matched (src, dst) pairs join the edge table
    ORIENTATION-AWARE (see :func:`_rel_pair_cond`) and every value
    compiles against the pre-state frame (snapshot semantics, as the
    node path). Updates EVERY parallel edge sharing a matched
    endpoint pair — the edge-list model has no edge identity (same
    documented divergence as relationship DELETE). Values may
    reference the relationship's own properties, and — r12, same
    machinery as the node path — other bound variables, reduced to
    one value per endpoint pair (max)."""
    rsch = session.schema.relationship(b.type_name)
    for target, _v, _r in triples:
        if target.key in (rsch.from_column, rsch.to_column):
            raise PlanError(
                f"SET/REMOVE on the endpoint column '{target.key}' "
                "would re-point the edge — DELETE it and CREATE the "
                "new edge instead")
    a = triples[0][0].alias
    pairs = df.select(
        F.col(b.src_pcol).alias("__wsrc"),
        F.col(b.dst_pcol).alias("__wdst"),
    ).distinct()
    n_matched = pairs.count()
    edges = session._load_for_label(b.type_name)
    prefixed = edges.select(
        *[F.col(c).alias(pcol(a, c)) for c in edges.columns])
    if external:
        ec_df = ExprCompiler(frame_scope, params)
        val_cols = [ec_df.compile(v).alias(f"__wv{i}")
                    for i, (_t, v, _r) in enumerate(triples)]
        pairs = (df.select(F.col(b.src_pcol).alias("__wsrc"),
                           F.col(b.dst_pcol).alias("__wdst"),
                           *val_cols)
                 .groupBy("__wsrc", "__wdst")
                 .agg(*[F.max(f"__wv{i}").alias(f"__wv{i}")
                        for i in range(len(triples))]))
    joined = prefixed.join(
        pairs,
        _rel_pair_cond(
            b,
            (F.col(pcol(a, rsch.from_column)),
             F.col(pcol(a, rsch.to_column))),
            F.col("__wsrc"), F.col("__wdst")),
        "left",
    )
    prop_cols = [c for c in edges.columns
                 if c not in (rsch.from_column, rsch.to_column)]
    sub = Scope()
    sub.bind(RelBinding(
        alias=a, type_name=b.type_name, columns=prop_cols,
        src_pcol=pcol(a, rsch.from_column),
        dst_pcol=pcol(a, rsch.to_column),
    ))
    ec = ExprCompiler(sub, params)
    updates: dict[str, "F.Column"] = {}
    new_keys: list[str] = []
    for i, (target, value, removing) in enumerate(triples):
        is_new = (target.key not in edges.columns
                  and target.key not in new_keys)
        if is_new:
            new_keys.append(target.key)
        old = (F.lit(None) if target.key not in edges.columns
               else F.col(pcol(a, target.key)))
        new_val = (F.col(f"__wv{i}") if external
                   else ec.compile(value))
        updates[target.key] = F.when(
            F.col("__wsrc").isNotNull(), new_val
        ).otherwise(old)
        if is_new and not removing:
            rsch.column_names = list(rsch.column_names) + [target.key]
    out_cols = list(edges.columns) + new_keys
    back = joined.select(*[
        updates[c].alias(c) if c in updates
        else F.col(pcol(a, c)).alias(c)
        for c in out_cols])
    _store(session, rsch.table_name, back)
    if new_keys:
        session._persist_catalog()
    stats["properties_set"] += n_matched * len(triples)


# ----------------------------------------------------------------------
def _apply_foreach(session, df, scope, fc, params, stats) -> None:
    """``FOREACH (x IN <list> | SET ... / DELETE x)`` (r7): the list
    explodes per match row (rows with empty/NULL lists skip the body,
    Cypher semantics) and the body compiles onto the existing
    SET/DELETE machinery — never a per-element loop:

    - ``SET x.key = v`` (loop var is the node): the list must be
      ``nodes(<path>)`` of a single-label path — exploded ids id-join
      the label table, the value compiles against the target row
      (``x.cnt + 1`` works), exactly the MERGE ON-SET shape.
      Divergence: ids dedup before the join, so a node reached by
      several rows/elements updates ONCE (``x.cnt + 1`` increments by
      1, not by its occurrence count — Neo4j's per-row imperative
      loop would apply it repeatedly);
    - ``SET b.key = v`` (MATCH-bound target): the value may reference
      the loop variable and any matched columns; per target id the
      LAST list element wins (Cypher applies elements sequentially).
      Ties across duplicate match rows break by greatest value —
      deterministic under any partitioning (documented divergence
      from Neo4j's row-order last-write);
    - ``DELETE x`` / ``DETACH DELETE x``: anti-join the label table
      by the exploded ids."""
    from pyspark.sql.window import Window

    from .compile.scope import ScalarBinding
    from .parser.ast import FnCall, Variable

    if df is None:
        raise PlanError("FOREACH requires a preceding MATCH")
    if scope.get(fc.var) is not None:
        raise PlanError(
            f"FOREACH variable '{fc.var}' shadows a bound alias")
    ec = ExprCompiler(scope, params)
    arr = ec.compile(fc.list_expr)
    base = df.select(
        "*", F.posexplode(arr).alias("__fpos", fc.var))
    ex_scope = scope.copy()
    ex_scope.bind(ScalarBinding(fc.var))

    def loopvar_label() -> str:
        e = fc.list_expr
        pvar = None
        if (isinstance(e, FnCall) and e.name.lower() == "nodes"
                and len(e.args) == 1
                and isinstance(e.args[0], Variable)):
            pvar = e.args[0].name
        elif isinstance(e, Variable):
            pvar = e.name
        pb = scope.get(pvar) if pvar else None
        from .compile.scope import PathBinding

        if isinstance(pb, PathBinding):
            labels = {
                scope.get(a).label for a in pb.node_aliases
                if isinstance(scope.get(a), NodeBinding)
            }
            if len(labels) == 1:
                return labels.pop()
        raise UnsupportedError(
            f"FOREACH over '{fc.var}' as a node needs the list to be "
            "nodes(<path>) of a single-label path; for scalar lists "
            "SET a MATCH-bound alias instead")

    for target, value in fc.sets:
        if not isinstance(target, ast.PropertyAccess):
            raise UnsupportedError(
                "FOREACH SET target must be alias.property")
        if target.alias == fc.var:
            # loop var IS the node: ids -> the MERGE run_sets shape
            label = loopvar_label()
            sch = session.schema.node(label)
            mini = Scope()
            mini.bind(NodeBinding(
                alias=fc.var, label=label, id_column=sch.node_id,
                columns=list(sch.column_names)))
            mdf = base.select(
                F.col(fc.var).alias(pcol(fc.var, sch.node_id))
            ).distinct()
            _apply_set(session, mdf, mini, target, value, params,
                       stats)
            continue
        b = scope.get(target.alias)
        if not isinstance(b, NodeBinding):
            raise UnsupportedError(
                "FOREACH SET targets a MATCH-bound node alias or the "
                "loop variable")
        sch = session.schema.node(b.label)
        val_col = ExprCompiler(ex_scope, params).compile(value)
        vals = base.select(
            F.col(b.id_pcol).alias("__wid"),
            F.col("__fpos").alias("__fp"),
            val_col.alias("__wval"),
        )
        w = Window.partitionBy("__wid").orderBy(
            F.col("__fp").desc(), F.col("__wval").desc())
        last = (vals.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select("__wid", "__wval"))
        n_matched = last.count()
        table = session._load_for_label(b.label)
        a = target.alias
        prefixed = table.select(
            *[F.col(c).alias(pcol(a, c)) for c in table.columns])
        joined = prefixed.join(
            last, F.col(pcol(a, sch.node_id)) == F.col("__wid"),
            "left")
        is_new = target.key not in table.columns
        old = (F.lit(None) if is_new
               else F.col(pcol(a, target.key)))
        updated = joined.withColumn(
            pcol(a, target.key),
            F.when(F.col("__wid").isNotNull(),
                   F.col("__wval")).otherwise(old))
        out_cols = list(table.columns) + ([target.key] if is_new else [])
        back = updated.select(
            *[F.col(pcol(a, c)).alias(c) for c in out_cols])
        _store(session, sch.table_name, back)
        if is_new:
            sch.column_names = list(sch.column_names) + [target.key]
            session._persist_catalog()
        stats["properties_set"] += n_matched

    if fc.delete is not None:
        for alias in fc.delete.aliases:
            if alias != fc.var:
                raise UnsupportedError(
                    "FOREACH DELETE supports the loop variable (delete "
                    "bound aliases with a plain DELETE clause)")
            label = loopvar_label()
            sch = session.schema.node(label)
            mini_b = NodeBinding(
                alias=fc.var, label=label, id_column=sch.node_id,
                columns=list(sch.column_names))
            ids_df = base.select(
                F.col(fc.var).alias(pcol(fc.var, sch.node_id)))
            _delete_nodes(session, ids_df, mini_b, fc.delete.detach,
                          stats)


# ----------------------------------------------------------------------
def _apply_delete(session, df, scope, delete, stats) -> None:
    if df is None:
        raise PlanError("DELETE requires a MATCH")
    for alias in delete.aliases:
        b = scope.get(alias)
        if isinstance(b, NodeBinding):
            _delete_nodes(session, df, b, delete.detach, stats)
        elif isinstance(b, RelBinding):
            _delete_rels(session, df, b, stats)
        else:
            raise PlanError(f"cannot DELETE '{alias}'")


def _delete_nodes(session, df, b: NodeBinding, detach: bool, stats) -> None:
    sch = session.schema.node(b.label)
    ids = df.select(F.col(b.id_pcol).alias("__wid")).distinct()
    n = ids.count()
    table = session._load_for_label(b.label)
    kept = table.join(
        ids, F.col(sch.node_id) == F.col("__wid"), "left_anti"
    )
    _store(session, sch.table_name, kept)
    stats["nodes_deleted"] += n
    if not detach:
        # Divergence from Neo4j (which errors on attached nodes):
        # incident edges are left in place unless DETACH is given.
        return
    for rsch in session.schema.relationships.values():
        for endpoint, col in (
            (rsch.from_node, rsch.from_column),
            (rsch.to_node, rsch.to_column),
        ):
            if endpoint != b.label:
                continue
            edges = session._load_for_label(rsch.type_name)
            before = edges.count()
            kept_e = edges.join(
                ids, F.col(col) == F.col("__wid"), "left_anti"
            )
            out = _store(session, rsch.table_name, kept_e)
            stats["relationships_deleted"] += before - out.count()


def _delete_rels(session, df, b: RelBinding, stats) -> None:
    rsch = session.schema.relationship(b.type_name)
    pairs = df.select(
        F.col(b.src_pcol).alias("__wsrc"), F.col(b.dst_pcol).alias("__wdst")
    ).distinct()
    edges = session._load_for_label(b.type_name)
    before = edges.count()
    # Deletes every edge sharing a matched (from, to) pair — parallel
    # edges between the same endpoints are indistinguishable here
    # (edge-list model has no edge identity; documented divergence).
    # Orientation-aware since r7: a rev-matched rel's pair columns
    # carry (to, from), so the join keys off b.fwd_storage.
    kept = edges.join(
        pairs,
        _rel_pair_cond(
            b, (F.col(rsch.from_column), F.col(rsch.to_column)),
            F.col("__wsrc"), F.col("__wdst")),
        "left_anti",
    )
    out = _store(session, rsch.table_name, kept)
    stats["relationships_deleted"] += before - out.count()
