#!/usr/bin/env python3
"""Paired A/B runs of the benchmark for two commits.

Checks out ``BASE`` and ``CHANGE`` as two detached ``git worktree``
checkouts and runs each one's own, unchanged ``perfbench/run.py`` (untraced,
for the ``run_seconds`` of ``BENCHMARK.json``) in interleaved pairs: pair
``k`` runs the base first when ``k`` is even and the change first when it is
odd, so a host that drifts over the window charges both sides alike. Usage,
from the root of a checkout::

    python3 tools/ab.py BASE CHANGE --workload tender_latency --seed 11 \\
        [--pairs 10]

Progress goes to standard error. The last line of standard output is one JSON
object with, for every metric the runs report: per side the runs, their
median and interquartile range (linear quartiles); the median of the
per-pair ratios ``change / base`` with a seeded bootstrap 95% confidence
interval; how many pairs the change won (by ``better`` in ``BENCHMARK.json``;
lower when the metric is not listed); and whether the medians differ by more
than the base's IQR. Each end-to-end metric, which carries a ``bound``, also
gets a no-regression verdict:

- ``unresolved`` when the base's IQR / median exceeds the bound, so the runs
  cannot tell a regression of that size from noise, unless every change run
  beats every base run;
- else ``worse`` when the change's median is worse than the base's by more
  than the bound;
- else ``within_bound``.

It also gives each side's failed operations, summed over its runs. The
worktrees live in a temporary directory, removed afterwards.
"""

from __future__ import annotations

import argparse
import json
import random
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def git(*args: str) -> str:
    return subprocess.run(["git", "-C", str(ROOT), *args], check=True,
                          capture_output=True, text=True).stdout.strip()


def run_once(checkout: Path, workload: str, seed: int, seconds: float) -> dict:
    """One untraced benchmark run in ``checkout``: its result line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} failed in {checkout} "
                           f"(exit {proc.returncode}):\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def summary(values) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return {"runs": values, "median": statistics.median(values), "q1": q1, "q3": q3,
            "iqr": q3 - q1}


def bootstrap_ci(ratios, resamples: int = 2000, seed: int = 0) -> list:
    """95% percentile-bootstrap interval of the median of ``ratios``."""
    rng = random.Random(seed)
    medians = sorted(statistics.median(rng.choices(ratios, k=len(ratios)))
                     for _ in range(resamples))
    return [medians[int(0.025 * resamples)], medians[int(0.975 * resamples) - 1]]


def compare(base, change, lower: bool, bound=None) -> dict:
    """Paired comparison of one metric's runs; with a ``bound`` (an end-to-end
    metric), also the verdict described in the module docstring."""
    b, c = summary(base), summary(change)
    gap = b["median"] - c["median"]
    ratios = [y / x for x, y in zip(base, change)]
    out = {"base": b, "change": c,
           "ratio_median": statistics.median(ratios),
           "ratio_ci95": bootstrap_ci(ratios),
           "change_better": sum((y < x) if lower else (y > x) for x, y in zip(base, change)),
           "gap_exceeds_base_iqr": (gap if lower else -gap) > b["iqr"]}
    if bound is not None:
        dominates = max(change) < min(base) if lower else min(change) > max(base)
        worse_by = (c["median"] / b["median"] - 1) * (1 if lower else -1)
        if b["iqr"] / b["median"] > bound and not dominates:
            out["verdict"] = "unresolved"
        else:
            out["verdict"] = "worse" if worse_by > bound else "within_bound"
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, default=10)
    args = ap.parse_args(argv)
    if args.pairs < 2:
        ap.error("--pairs must be at least 2")

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    commits = {side: git("rev-parse", "--verify", f"{ref}^{{commit}}")
               for side, ref in (("base", args.base), ("change", args.change))}
    parent = Path(tempfile.mkdtemp(prefix="ab-"))
    checkouts = {side: parent / f"{side}-{sha[:12]}" for side, sha in commits.items()}
    runs = {"base": [], "change": []}
    try:
        for side, path in checkouts.items():
            git("worktree", "add", "--detach", str(path), commits[side])
        for k in range(args.pairs):
            for side in (("base", "change") if k % 2 == 0 else ("change", "base")):
                runs[side].append(run_once(checkouts[side], args.workload, args.seed,
                                           spec["run_seconds"]))
                shown = ", ".join(f"{name} {m['value']:.4g}"
                                  for name, m in runs[side][-1]["metrics"].items())
                print(f"pair {k + 1}/{args.pairs} {side}: {shown}, failed "
                      f"{runs[side][-1]['failed']}", file=sys.stderr, flush=True)
    finally:
        for path in checkouts.values():
            if path.exists():
                git("worktree", "remove", "--force", str(path))
        git("worktree", "prune")
        parent.rmdir()

    lower = {m["name"]: m["better"] == "lower" for m in spec["end_to_end"] + spec["per_layer"]}
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    metrics = {name: compare([r["metrics"][name]["value"] for r in runs["base"]],
                             [r["metrics"][name]["value"] for r in runs["change"]],
                             lower.get(name, True), bounds.get(name))
               for name in runs["base"][0]["metrics"]}
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": spec["run_seconds"],
        "pairs": args.pairs, "commits": commits,
        "failed": {side: sum(r["failed"] for r in runs[side]) for side in runs},
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
