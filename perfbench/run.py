"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload serve_point --seed 1 --seconds 20 --trace 0

``--trace 0`` starts the program's HTTP server (``brahmand_spark.server``)
in its own process and drives it with closed-loop clients through a
fixed number of rounds that ``--seconds`` sets
(``workloads.ROUNDS_PER_S``); it reports the end-to-end metrics.
``--trace 1`` replays the same seeded operations in one process, timing
the calls into each layer, and reports the per-layer metrics. Both check every result against an independent
reference after the timed window (``check.py``). The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``. Run it from the repository root.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve_point", "analytic", "procedures", "mixed_rw")
END_TO_END_UNITS = {"template_p50_ms": "ms", "ops_per_s": "1/s",
                    "cpu_ms_per_op": "ms",
                    "peak_rss_mb": "MB", "setup_s": "s"}
READY_TIMEOUT_S = 170
REQUEST_TIMEOUT_S = 120


# -- child processes -----------------------------------------------------
def _group_members(pgid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def group_cpu_s(pgid: int) -> float:
    """User + system CPU seconds of every live member of the group."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _group_members(pgid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / tick


def group_rss_mb(pgid: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _group_members(pgid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total / 2**20


class Child:
    """A Python child in its own process group, so it and the JVM it
    launches can be waited for (and if need be killed) together."""

    def __init__(self, args: list[str], run_dir: str, env: dict):
        self.log_path = os.path.join(run_dir, "child.log")
        self._log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, "-u", *args], stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=self._log, text=True,
            cwd=run_dir, env=env, start_new_session=True)
        self._lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self) -> None:
        for line in self.proc.stdout:
            self._lines.put(line)
        self._lines.put(None)

    def wait_line(self, prefix: str, timeout: float) -> dict:
        deadline = time.time() + timeout
        while True:
            try:
                line = self._lines.get(timeout=max(0.1, deadline - time.time()))
            except queue.Empty:
                raise RuntimeError(f"no {prefix} line within {timeout:.0f} s")
            if line is None:
                raise RuntimeError(f"child exited before {prefix}")
            if line.startswith(prefix + " "):
                return json.loads(line[len(prefix) + 1:])

    def stop(self) -> None:
        """Terminate the whole group (SIGKILL after 30 s); wait until every
        member has exited."""
        deadline = time.time() + 30
        while _group_members(self.proc.pid):
            sig = signal.SIGTERM if time.time() < deadline else signal.SIGKILL
            try:
                os.killpg(self.proc.pid, sig)
            except ProcessLookupError:
                break
            time.sleep(0.2)
        self.proc.wait()
        self._log.close()

    def log_tail(self, n: int = 30) -> str:
        with open(self.log_path) as f:
            return "".join(f.readlines()[-n:])


# -- closed-loop HTTP clients --------------------------------------------
def post(port: int, op) -> tuple[int, bytes, float, float]:
    conn = http.client.HTTPConnection("127.0.0.1", port,
                                      timeout=REQUEST_TIMEOUT_S)
    body = json.dumps({"query": op.query, "params": op.params,
                       "format": "JSONEachRow"})
    try:
        t0 = time.perf_counter()
        conn.request("POST", "/query", body,
                     {"Content-Type": "application/json"})
        resp = conn.getresponse()
        data = resp.read()
        t1 = time.perf_counter()
        return resp.status, data, t0, t1
    finally:
        conn.close()


def phases(rounds: list) -> list[list]:
    """Split the ops of ``rounds`` where a write or a call stands: reads
    in between form one phase and run concurrently, while each write and
    call runs alone, after every op before it has completed."""
    out, reads = [], []
    for op in (op for batch in rounds for op in batch):
        if op.kind == "read":
            reads.append(op)
            continue
        if reads:
            out.append(reads)
            reads = []
        out.append([op])
    return out + [reads] if reads else out


def drive(port: int, rounds: list, clients: int, on_tick=None) -> list[dict]:
    """Issue every op of ``rounds``, phase by phase (``phases``), over up
    to ``clients`` closed-loop threads. Returns one record per op."""
    lock = threading.Lock()
    records: list[dict] = []
    pending: list = []

    def next_op():
        with lock:
            return pending.pop(0) if pending else None

    def client():
        while True:
            op = next_op()
            if op is None:
                return
            rec = {"op": op}
            try:
                rec["status"], rec["body"], rec["t0"], rec["t1"] = post(port, op)
            except Exception as exc:  # recorded as a failed op
                rec["status"], rec["error"] = None, repr(exc)
                rec["t0"] = rec["t1"] = time.perf_counter()
            with lock:
                records.append(rec)

    for phase in phases(rounds):
        pending[:] = phase
        threads = [threading.Thread(target=client)
                   for _ in range(min(clients, len(phase)))]
        for t in threads:
            t.start()
        while any(t.is_alive() for t in threads):
            if on_tick is not None:
                on_tick()
            for t in threads:
                t.join(timeout=0.25)
    return records


def parse_rows(body: bytes) -> list[dict]:
    return [json.loads(line) for line in body.decode().splitlines() if line]


def check_records(checker, records: list[dict]) -> None:
    """Check every record in completion order, marking each with
    ``failed`` (no 200 response) and ``wrong`` (result disagrees)."""
    for rec in records:
        rec["failed"] = rec["status"] != 200
        rec["wrong"] = False
        if rec["failed"]:
            print(f"failed: {rec['op'].name} {rec['op'].params} "
                  f"{rec.get('error') or rec['body'][:300]!r}",
                  file=sys.stderr)
            continue
        try:
            ok = checker.check(rec["op"], parse_rows(rec["body"]))
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            rec["wrong"] = True
            print(f"wrong: {rec['op'].name} {rec['op'].params}",
                  file=sys.stderr)


def pct(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


# -- the two modes -----------------------------------------------------------
def run_http(args, run_dir: str, data_dir: str, sizes: dict, env: dict):
    import check
    from workloads import Workload

    wl = Workload(args.workload, args.seed, sizes, os.cpu_count() or 1)
    warmup = wl.warmup()
    rounds = wl.timed_rounds(args.seconds)
    t_launch = time.time()
    child = Child([os.path.join(HERE, "server.py"), data_dir, run_dir,
                   repr(t_launch), "1" if args.workload == "mixed_rw" else "0"],
                  run_dir, env)
    try:
        try:
            ready = child.wait_line("READY", READY_TIMEOUT_S)
        except RuntimeError:
            sys.stderr.write(child.log_tail())
            raise
        port = ready["port"]
        t_warm = time.perf_counter()
        warm = drive(port, warmup, wl.clients)
        warm_s = time.perf_counter() - t_warm
        peak = [0.0]

        def sample():
            peak[0] = max(peak[0], group_rss_mb(child.proc.pid))

        cpu0 = group_cpu_s(child.proc.pid)
        timed = drive(port, rounds, wl.clients, on_tick=sample)
        cpu_s = group_cpu_s(child.proc.pid) - cpu0
        sample()
    finally:
        child.stop()

    checker = check.Checker(data_dir)
    # writes reach the replica in the order the server completed them
    check_records(checker, sorted(warm, key=lambda r: r["t1"])
                  + sorted(timed, key=lambda r: r["t1"]))
    failed = sum(r["failed"] for r in timed)
    wrong = sum(r["wrong"] for r in timed)
    warm_bad = sum(r["failed"] or r["wrong"] for r in warm)

    lat = [(r["t1"] - r["t0"]) * 1e3 for r in timed]
    window = max(r["t1"] for r in timed) - min(r["t0"] for r in timed)
    build_s = ready["build_s"]
    by_kind, by_name = {}, {}
    for r in timed:
        ms = (r["t1"] - r["t0"]) * 1e3
        by_kind.setdefault(r["op"].kind, []).append(ms)
        by_name.setdefault(r["op"].name, []).append(ms)
    metrics = {
        "template_p50_ms": statistics.geometric_mean(
            [statistics.median(v) for v in by_name.values()]),
        "ops_per_s": len(timed) / window,
        "cpu_ms_per_op": cpu_s * 1e3 / len(timed),
        "peak_rss_mb": peak[0],
        "setup_s": ready["jvm_s"] + build_s + warm_s,
    }
    # share of timed ops whose (text, params) pair was already sent in
    # this run, warm-up included: what a result or plan cache could reuse
    seen = {op.key() for batch in warmup for op in batch}
    repeats = 0
    for batch in rounds:
        for op in batch:
            repeats += op.key() in seen
            seen.add(op.key())
    info = {
        "ops": len(timed), "window_s": round(window, 3),
        "p50_ms": round(statistics.median(lat), 3),
        "p90_ms": round(pct(lat, 90), 3),
        "error_rate": (failed + wrong) / len(timed),
        "wrong_results": wrong, "warmup_failed_or_wrong": warm_bad,
        "repeat_share": repeats / len(timed),
        **{f"{k}_p50_ms": round(statistics.median(v), 3)
           for k, v in sorted(by_kind.items())},
        "op_p50_ms": {k: round(statistics.median(v), 1)
                      for k, v in sorted(by_name.items())},
        "setup": {"jvm_s": ready["jvm_s"], "build_s": build_s,
                  "warm_s": warm_s},
        "env": ready["env"],
    }
    return metrics, info, len(timed), failed, wrong + failed + warm_bad == 0


def run_trace(args, run_dir: str, data_dir: str, sizes: dict, env: dict):
    child = Child([os.path.join(HERE, "tracer.py"), data_dir, run_dir,
                   args.workload, str(args.seed), json.dumps(sizes)],
                  run_dir, env)
    try:
        try:
            res = child.wait_line("RESULT", READY_TIMEOUT_S)
        except RuntimeError:
            sys.stderr.write(child.log_tail())
            raise
    finally:
        child.stop()
    return (res["metrics"], res["info"], res["attempted"], res["failed"],
            res["correct"])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size; 1.0 = TPC-H sf0.01 row counts "
                         "(0.1 for the self-test smoke)")
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "brahmand_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no brahmand_spark checkout at {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import datagen

    run_dir = os.path.join(ROOT, ".perfbench_runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub))
    env = dict(os.environ, TMPDIR=os.path.join(run_dir, "tmp"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
               PYTHONPATH=os.pathsep.join([HERE, ROOT]))
    try:
        sizes = datagen.generate(data_dir, args.seed, args.scale)
        mode = run_trace if args.trace else run_http
        metrics, info, attempted, failed, correct = mode(
            args, run_dir, data_dir, sizes, env)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    units = END_TO_END_UNITS
    if args.trace:
        from tracer import UNITS as units
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          + json.dumps(info, sort_keys=True))
    for name, value in metrics.items():
        print(f"  {name:28s} {value:14.4f} {units[name]}")
    print(json.dumps({
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
