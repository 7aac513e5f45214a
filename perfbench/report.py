"""Run every workload and print every metric by name and unit.

The workloads and the run length are those of ``BENCHMARK.json``.

    python3 perfbench/report.py                  # each workload, seed 1
    python3 perfbench/report.py --seeds 1-5      # spread over five seeds
    python3 perfbench/report.py --trace          # also the traced runs

For each workload and end-to-end metric it prints the median over the
seeds and the quartile spread as a share of the median (the statistic
``BENCHMARK.json``'s bounds apply to), plus the error rate and wrong
results of every run. With ``--trace`` it also prints the per-layer
metrics and the tracing overhead. Exits 1 if any run was incorrect.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(workload: str, seed: int, seconds: int, trace: int) -> tuple:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: run failed")
    info = json.loads(lines[0].split(" ", 4)[4])
    info["wall_s"] = round(time.time() - t0, 1)
    return json.loads(lines[-1]), info


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1")
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args(argv)
    seconds = bench["run_seconds"]

    all_ok = True
    for wl in (w["name"] for w in bench["workloads"]):
        results = []
        for seed in seeds(args.seeds):
            res, info = run(wl, seed, seconds, 0)
            results.append(res)
            all_ok &= res["correct"]
            print(f"{wl} seed={seed} wall_s={info['wall_s']} ops={info['ops']} "
                  f"error_rate={info['error_rate']:.4f} "
                  f"wrong_results={info['wrong_results']} "
                  f"repeat_share={info['repeat_share']:.2f} "
                  + " ".join(f"{k}={v}" for k, v in info.items()
                             if k.endswith("_p50_ms")), flush=True)
        print(f"{wl}: {'metric':14s} {'median':>12s} {'unit':6s} "
              f"{'spread':>7s}")
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            print(f"{wl}: {m['name']:14s} {statistics.median(vals):12.3f} "
                  f"{m['unit']:6s} {spread(vals):7.3f} "
                  f"(bound {m['bound']})", flush=True)
        if args.trace:
            res, info = run(wl, seeds(args.seeds)[0], seconds, 1)
            all_ok &= res["correct"]
            for name, v in res["metrics"].items():
                print(f"{wl}: trace {name:28s} {v['value']:14.3f} "
                      f"{v['unit']}", flush=True)
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
