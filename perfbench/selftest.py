"""Self-test of the benchmark on small inputs.

    python3 perfbench/selftest.py

For every workload in ``BENCHMARK.json`` (plus ``procedures`` and
``analytic``, which run but are not in it), at scale
0.1 (the row counts of TPC-H sf0.001):

- an untraced run emits every end-to-end metric, with its unit, and
  checks correct;
- two traced runs emit every per-layer metric, with its unit, check
  correct, and give identical counts for ``compile.py4j_calls``,
  ``spark.plan_nodes``, ``algos.supersteps`` and
  ``writes.rows_rewritten``.

It also checks that ``run.py`` exits non-zero, printing no result, when
the program under test is missing. Exits 1 on any failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REPEATED_COUNTS = ("compile.py4j_calls", "spark.plan_nodes",
                   "algos.supersteps", "writes.rows_rewritten")


def run(workload: str, trace: int, cwd: str = ROOT) -> tuple[int, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--scale", "0.1"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-2000:])
    return proc.returncode, proc.stdout


def result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    names = [w["name"] for w in bench["workloads"]]
    for wl in names + [w for w in ("procedures", "analytic")
                       if w not in names]:
        counts = []
        for trace, wanted in ((0, bench["end_to_end"]),
                              (1, bench["per_layer"]),
                              (1, bench["per_layer"])):
            code, out = run(wl, trace)
            expect(code == 0, f"{wl} trace={trace} exits 0")
            if code:
                continue
            res = result(out)
            expect(res["correct"] and res["failed"] == 0,
                   f"{wl} trace={trace} results correct")
            got = res["metrics"]
            expect(all(m["name"] in got and got[m["name"]]["unit"] == m["unit"]
                       for m in wanted) and len(got) == len(wanted),
                   f"{wl} trace={trace} emits every metric with its unit")
            if trace:
                counts.append({k: got[k]["value"] for k in REPEATED_COUNTS})
        expect(len(counts) == 2 and counts[0] == counts[1],
               f"{wl} traced counts repeat: {counts}")

    bare = os.path.join(ROOT, ".perfbench_runs", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, out = run(names[0], 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and not out.strip(),
           "without the program, run.py exits non-zero and prints nothing")
    print("FAILED: " + "; ".join(failures) if failures else "all passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
