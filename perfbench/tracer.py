"""Traced run: replay a workload's seeded operations in one process and
time the calls into each layer of the program from outside it.

Hooks (installed here, never inside ``brahmand_spark``):

- ``brahmand_spark.session.parse``: parser time;
- ``py4j.clientserver.ClientServerConnection.send_command``: JVM round
  trips and the time blocked in them while ``GraphSession.execute`` runs
  (GC-driven ``m``emory commands are left out, so counts repeat);
- ``localCheckpoint``/``checkpoint`` on the concrete classic
  ``DataFrame`` class: one call per superstep of the iterative loops;
- a Spark job group per operation, read back through the status tracker
  and the status store: jobs, stages, tasks and shuffle bytes.

Optimized plan, physical plan and row pulling are forced one at a time
on the returned DataFrame, and rows are rendered with
``brahmand_spark.server.format_rows`` exactly as the server does.

The run builds the session, warms up, then replays a fixed number of
rounds (``--seconds`` does not apply). Every read and call runs twice,
plain (hooks off) and traced, in alternating order; the difference
between their median latencies is the tracing overhead.
Counts are totals over the traced rounds and repeat exactly for a seed;
times are medians per operation.

    python3 perfbench/tracer.py DATA_DIR RUN_DIR WORKLOAD SEED SIZES_JSON
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

UNITS = {
    "parser.parse_ms": "ms",
    "compile.build_ms": "ms",
    "compile.py4j_calls": "count",
    "compile.py4j_wait_ms": "ms",
    "spark.optimize_ms": "ms",
    "spark.plan_ms": "ms",
    "spark.plan_nodes": "count",
    "spark.exec_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.result_rows": "count",
    "server.format_ms": "ms",
    "server.response_bytes": "bytes",
    "procedures.call_ms": "ms",
    "algos.supersteps": "count",
    "algos.superstep_ms": "ms",
    "algos.jobs_per_superstep": "ratio",
    "writes.apply_ms": "ms",
    "writes.rows_rewritten": "count",
    "writes.amplification": "ratio",
    "trace.plain_p50_ms": "ms",
    "trace.traced_p50_ms": "ms",
    "trace.overhead_pct": "%",
}
# rounds replayed by the traced run
TRACE_ROUNDS = {"serve_point": 3, "analytic": 1, "procedures": 1,
                "mixed_rw": 1}


class Hooks:
    """Counters fed by wrappers around the layer entry points. Counting
    happens only while ``on`` is set; the traced run is single-threaded."""

    def __init__(self):
        self.on = False
        self.reset()

    def reset(self) -> None:
        self.parse_s = 0.0
        self.py4j_calls = 0
        self.py4j_s = 0.0
        self.ckpt_n = 0
        self.ckpt_s = 0.0

    def install(self) -> None:
        import brahmand_spark.session as session_mod
        import py4j.clientserver as clientserver
        from pyspark.sql.classic import dataframe as classic

        hooks = self
        send = clientserver.ClientServerConnection.send_command

        def send_command(conn, command, *args, **kwargs):
            if not hooks.on or command.startswith("m\n"):
                return send(conn, command, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return send(conn, command, *args, **kwargs)
            finally:
                hooks.py4j_calls += 1
                hooks.py4j_s += time.perf_counter() - t0

        clientserver.ClientServerConnection.send_command = send_command

        for name in ("localCheckpoint", "checkpoint"):
            orig = getattr(classic.DataFrame, name)

            def checkpoint(df, *args, _orig=orig, **kwargs):
                if not hooks.on:
                    return _orig(df, *args, **kwargs)
                t0 = time.perf_counter()
                try:
                    return _orig(df, *args, **kwargs)
                finally:
                    hooks.ckpt_n += 1
                    hooks.ckpt_s += time.perf_counter() - t0

            setattr(classic.DataFrame, name, checkpoint)

        parse = session_mod.parse

        def timed_parse(text):
            t0 = time.perf_counter()
            try:
                return parse(text)
            finally:
                hooks.parse_s += time.perf_counter() - t0

        session_mod.parse = timed_parse


def _plan_nodes(plan) -> int:
    try:
        return len(json.loads(plan.toJSON()))
    except Exception:  # a node without a JSON form: count tree lines
        return sum(1 for line in plan.treeString().splitlines()
                   if line.strip())


class Tracer:
    def __init__(self, spark, session):
        from brahmand_spark.server import format_rows

        self.spark = spark
        self.session = session
        self.format_rows = format_rows
        self.hooks = Hooks()
        self.hooks.install()
        self.n = 0

    def plain(self, op) -> tuple[list[dict], float]:
        """Execute, pull and render as the server does; (rows, seconds)."""
        t0 = time.perf_counter()
        df = self.session.execute(op.query, params=op.params)
        cols = df.columns
        rows = ([row[c] for c in cols] for row in df.toLocalIterator())
        payload = "".join(self.format_rows(cols, rows, "JSONEachRow", 0.0))
        dt = time.perf_counter() - t0
        return [json.loads(x) for x in payload.splitlines()], dt

    def traced(self, op) -> tuple[list[dict], dict]:
        sc = self.spark.sparkContext
        self.n += 1
        group = f"perfbench-op-{self.n}"
        sc.setJobGroup(group, op.name, False)
        before = dict(self.session.tables)
        gc.collect()
        h = self.hooks
        h.reset()
        t0 = time.perf_counter()
        h.on = True
        try:
            df = self.session.execute(op.query, params=op.params)
        finally:
            h.on = False
        t1 = time.perf_counter()
        rec = {"kind": op.kind, "execute_s": t1 - t0, "parse_s": h.parse_s,
               "py4j_calls": h.py4j_calls, "py4j_s": h.py4j_s,
               "ckpt_n": h.ckpt_n, "ckpt_s": h.ckpt_s}
        qe = df._jdf.queryExecution()
        t = time.perf_counter()
        logical = qe.optimizedPlan()
        rec["optimize_s"] = time.perf_counter() - t
        t = time.perf_counter()
        qe.executedPlan()
        rec["plan_s"] = time.perf_counter() - t
        t = time.perf_counter()
        cols = df.columns
        pulled = [[row[c] for c in cols] for row in df.toLocalIterator()]
        rec["exec_s"] = time.perf_counter() - t
        t = time.perf_counter()
        payload = "".join(self.format_rows(cols, iter(pulled), "JSONEachRow",
                                           0.0))
        rec["format_s"] = time.perf_counter() - t
        rec["latency_s"] = time.perf_counter() - t0
        rec["bytes"] = len(payload.encode())
        rec["rows"] = len(pulled)
        rec["plan_nodes"] = _plan_nodes(logical)
        sc.setJobGroup("perfbench-meta", "perfbench", False)
        rec.update(self._jobs(group))
        replaced = [name for name, d in self.session.tables.items()
                    if before.get(name) is not d]
        rec["rows_rewritten"] = sum(self.session.tables[name].count()
                                    for name in replaced)
        rows = [json.loads(x) for x in payload.splitlines()]
        # a write's own stats row: nodes created + properties set + ...
        rec["stats"] = sum(rows[0].values()) if op.kind == "write" else 0
        return rows, rec

    def _jobs(self, group: str) -> dict:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        no_status = sc._jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0,
               "shuffle_read": 0, "shuffle_write": 0}
        for sid in sorted(stage_ids):
            seq = store.stageData(sid, False, no_status, False, no_quantiles)
            for i in range(seq.size()):
                sd = seq.apply(i)
                if sd.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["shuffle_read"] += sd.shuffleReadBytes()
                out["shuffle_write"] += sd.shuffleWriteBytes()
        return out


def summarize(recs: list[dict], plain_s: list[float]) -> dict:
    def med(kind_filter, field, scale=1e3):
        vals = [r[field] * scale for r in recs if r["kind"] in kind_filter]
        return statistics.median(vals) if vals else 0.0

    def total(kind_filter, field):
        return sum(r[field] for r in recs if r["kind"] in kind_filter)

    reads, calls, writes = ("read",), ("call",), ("write",)
    rc = ("read", "call")
    every = ("read", "call", "write")
    supersteps = total(calls, "ckpt_n")
    call_jobs = total(calls, "jobs")
    ckpt_times = [r["ckpt_s"] / r["ckpt_n"] * 1e3 for r in recs
                  if r["kind"] == "call" and r["ckpt_n"]]
    write_stats = total(writes, "stats")
    rewritten = total(writes, "rows_rewritten")
    plain_p50 = statistics.median(plain_s) * 1e3
    traced_p50 = statistics.median(r["latency_s"] for r in recs
                                   if r["kind"] != "write") * 1e3
    return {
        "parser.parse_ms": med(every, "parse_s"),
        "compile.build_ms": statistics.median(
            (r["execute_s"] - r["parse_s"]) * 1e3 for r in recs
            if r["kind"] == "read") if any(
                r["kind"] == "read" for r in recs) else 0.0,
        "compile.py4j_calls": total(reads, "py4j_calls"),
        "compile.py4j_wait_ms": med(reads, "py4j_s"),
        "spark.optimize_ms": med(rc, "optimize_s"),
        "spark.plan_ms": med(rc, "plan_s"),
        "spark.plan_nodes": total(rc, "plan_nodes"),
        "spark.exec_ms": med(rc, "exec_s"),
        "spark.jobs": total(every, "jobs"),
        "spark.stages": total(every, "stages"),
        "spark.tasks": total(every, "tasks"),
        "spark.shuffle_read_bytes": total(every, "shuffle_read"),
        "spark.shuffle_write_bytes": total(every, "shuffle_write"),
        "spark.result_rows": total(rc, "rows"),
        "server.format_ms": med(rc, "format_s"),
        "server.response_bytes": total(rc, "bytes"),
        "procedures.call_ms": med(calls, "execute_s"),
        "algos.supersteps": supersteps,
        "algos.superstep_ms": statistics.median(ckpt_times)
        if ckpt_times else 0.0,
        "algos.jobs_per_superstep": call_jobs / supersteps
        if supersteps else 0.0,
        "writes.apply_ms": med(writes, "execute_s"),
        "writes.rows_rewritten": rewritten,
        "writes.amplification": rewritten / write_stats if write_stats
        else 0.0,
        "trace.plain_p50_ms": plain_p50,
        "trace.traced_p50_ms": traced_p50,
        "trace.overhead_pct": (traced_p50 / plain_p50 - 1.0) * 100.0,
    }


def main(argv: list[str]) -> int:
    data_dir, run_dir, workload, seed, sizes = argv
    import check
    import engine
    from workloads import Workload

    spark = engine.start_spark(run_dir)
    try:
        session = engine.build(spark, data_dir, os.path.join(run_dir, "tmp"),
                               workload == "mixed_rw")
        wl = Workload(workload, int(seed), json.loads(sizes),
                      os.cpu_count() or 1)
        rounds = wl.rounds()
        tracer = Tracer(spark, session)
        checker = check.Checker(data_dir)
        failed = wrong = attempted = 0

        def record(op, fn):
            nonlocal failed, wrong, attempted
            attempted += 1
            try:
                rows, extra = fn(op)
            except Exception as exc:  # a failed op: report and go on
                failed += 1
                print(f"failed: {op.name} {op.params} {exc!r}"[:500],
                      file=sys.stderr)
                return None
            if not checker.check(op, rows):
                wrong += 1
                print(f"wrong: {op.name} {op.params}", file=sys.stderr)
            return extra

        for warm_round in wl.warmup():
            for op in warm_round:
                record(op, tracer.plain)
        warm_bad = failed + wrong
        attempted = failed = 0
        # Reads and calls run twice, plain and traced, alternating which
        # goes first, so warm-up drift cancels out of the overhead; writes
        # are not idempotent and run traced only.
        plain_s, recs = [], []
        for _ in range(TRACE_ROUNDS[workload]):
            for i, op in enumerate(next(rounds)):
                if op.kind != "write" and i % 2 == 0:
                    plain_s.append(record(op, tracer.plain))
                recs.append(record(op, tracer.traced))
                if op.kind != "write" and i % 2 == 1:
                    plain_s.append(record(op, tracer.plain))
        plain_s = [x for x in plain_s if x is not None]
        recs = [r for r in recs if r is not None]
        metrics = summarize(recs, plain_s)
        info = {"traced_ops": len(recs), "plain_ops": len(plain_s),
                "wrong_results": wrong, "env": engine.versions(spark)}
    finally:
        spark.stop()
    print("RESULT " + json.dumps({
        "metrics": metrics, "info": info, "attempted": attempted,
        "failed": failed,
        "correct": wrong == 0 and failed == 0 and warm_bad == 0,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
