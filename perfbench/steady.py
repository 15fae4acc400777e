"""Steadiness tool: repeats each workload over several seeds and prints,
per metric, the median, the quartiles and the run-to-run spread
(interquartile range over the median, from statistics.quantiles with
n=4).  Flags a metric whose spread exceeds a third of its bound in
BENCHMARK.json, and any metric that does not repeat within a tenth.

    python3 perfbench/steady.py [--workloads serve,spark_jobs] [--seeds 10]

Seeds run from 1 to --seeds; tracing is off.

Runs are sequential; each prints its wall time, so the cost of a full
set of repeated runs can be estimated from the same output.
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


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, ((q3 - q1) / abs(med) if med else float("inf"))


def run_once(workload: str, seed: int, seconds: int):
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if not lines or not lines[-1].startswith("{"):
        sys.stderr.write(p.stderr[-2000:])
        return None, wall
    res = json.loads(lines[-1])
    if len(lines) > 1 and lines[-2].startswith('{"detail"'):
        res["detail"] = json.loads(lines[-2])["detail"]
    return res, wall


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    a = ap.parse_args()

    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    flagged = 0
    for w in a.workloads.split(","):
        values: dict = {}
        walls = []
        for seed in range(1, a.seeds + 1):
            res, wall = run_once(w, seed, spec["run_seconds"])
            walls.append(wall)
            ok = res is not None and res["correct"]
            print(f"{w} seed={seed} wall={wall:.1f}s "
                  f"{'ok' if ok else 'FAILED'}", flush=True)
            if res is None:
                continue
            if not ok:
                print("   problems:", res.get("detail", {}).get("problems"))
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        print(f"\n{w}: {len(walls)} runs, median wall "
              f"{statistics.median(walls):.1f}s")
        print(f"{'metric':40s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
              f"{'spread':>8s} {'bound':>6s}  flags")
        for name, vals in values.items():
            if len(vals) < 2:
                continue
            med, q1, q3, sp = spread(vals)
            bound = bounds.get(name)
            flags = []
            if sp > 0.1:
                flags.append("repeats-outside-10%")
            if bound is not None and sp > bound / 3:
                flags.append("spread>bound/3")
            flagged += bool(flags) and bound is not None
            print(f"{name:40s} {med:12.4g} {q1:12.4g} {q3:12.4g} "
                  f"{sp:8.3f} {bound if bound is not None else '-':>6}  "
                  f"{' '.join(flags)}")
        print()
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
