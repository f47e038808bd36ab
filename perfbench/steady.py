#!/usr/bin/env python3
"""Steadiness self-check for the benchmark.

Runs ``perfbench/run.py`` repeatedly per workload, each run with its own seed,
exactly as ``BENCHMARK.json`` specifies (command, ``run_seconds``), and prints
for every metric the median, the quartiles and the spread
``(q3 - q1) / median`` against the metric's bound. A metric is ``steady``
when its spread is below a third of its bound, ``marginal`` below the bound,
``UNSTEADY`` above it. It names every metric and workload that is not steady
enough to keep, and projects the wall time of a full set of runs.

    python3 perfbench/steady.py                       # every workload, seeds 1..5
    python3 perfbench/steady.py --workloads fact_rank --seeds 11-20
    python3 perfbench/steady.py --save a.json
    python3 perfbench/steady.py --compare a.json      # medians vs an earlier set

Exits non-zero when a run fails, a metric is unsteady, or (with
``--compare``) a median got worse than the earlier one by more than its bound.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
#: full-set run count the budget projection assumes: 4 + 22 per workload
RUNS_PER_WORKLOAD, EXTRA_RUNS, BUDGET_S = 22, 4, 3420


def _seeds(text: str):
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_once(spec: dict, workload: str, seed: int, trace: int):
    cmd = list(spec["command"]) + ["--workload", workload, "--seed", str(seed),
                                   "--seconds", str(spec["run_seconds"]),
                                   "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=200)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        return None, wall
    return json.loads(lines[-1]), wall


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", help="comma-separated (default: all in BENCHMARK.json)")
    ap.add_argument("--seeds", default="1-5", help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save", help="write the per-run results to this JSON file")
    ap.add_argument("--compare", help="an earlier --save file to compare medians with")
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    key = "end_to_end" if args.trace == 0 else "per_layer"
    metrics = {m["name"]: m for m in spec[key]}
    seeds = _seeds(args.seeds)

    results = {}
    problems = []
    walls = []
    for name in names:
        runs = []
        for seed in seeds:
            out, wall = run_once(spec, name, seed, args.trace)
            walls.append(wall)
            status = "ok" if out and out["correct"] else "FAILED"
            print(f"{name} seed {seed}: {status} in {wall:.1f} s", flush=True)
            if out is None or not out["correct"]:
                problems.append(f"{name} seed {seed}: run failed or incorrect")
                continue
            if set(out["metrics"]) != set(metrics):
                problems.append(f"{name}: metrics {sorted(out['metrics'])} != BENCHMARK.json")
            runs.append({k: v["value"] for k, v in out["metrics"].items()})
        results[name] = runs

    earlier = json.loads(Path(args.compare).read_text()) if args.compare else {}
    print(f"\n{'workload':<16}{'metric':<34}{'median':>14}{'q1':>14}{'q3':>14}"
          f"{'spread':>9}{'bound':>7}  verdict")
    for name, runs in results.items():
        if len(runs) < 2:
            continue
        for m, info in metrics.items():
            values = [r[m] for r in runs if m in r]
            if len(values) < 2:
                continue
            q1, med, q3, sp = spread(values)
            bound = info.get("bound")
            verdict = ""
            if bound is not None:
                if sp < bound / 3:
                    verdict = "steady"
                elif sp <= bound:
                    verdict = "marginal"
                    problems.append(f"{name} {m}: spread {sp:.3f} above a third of bound {bound}")
                else:
                    verdict = "UNSTEADY"
                    problems.append(f"{name} {m}: spread {sp:.3f} > bound {bound}")
                before = [r[m] for r in earlier.get(name, []) if m in r]
                if before:
                    old = statistics.median(before)
                    worse = (med - old) / old if info["better"] == "lower" else (old - med) / old
                    verdict += f"  vs earlier {worse:+.3f}"
                    if worse > bound:
                        problems.append(f"{name} {m}: median worse than earlier by {worse:.3f}")
            print(f"{name:<16}{m:<34}{med:14.6g}{q1:14.6g}{q3:14.6g}{sp:9.3f}"
                  f"{bound if bound is not None else '-':>7}  {verdict}")

    if walls:
        full = statistics.fmean(walls) * (EXTRA_RUNS + RUNS_PER_WORKLOAD * len(spec["workloads"]))
        print(f"\nmean run wall time {statistics.fmean(walls):.1f} s (max {max(walls):.1f} s); "
              f"a full set of runs would take ~{full:.0f} s of {BUDGET_S} s")
    if args.save:
        Path(args.save).write_text(json.dumps(results, indent=1))
    for p in problems:
        print("NOT STEADY: " + p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
