"""Outside-in tracing for the benchmark's traced runs (``--trace 1``).

Spans are recorded in memory around the engine's public calls, from the
benchmark's own files only: :meth:`Tracer.install` wraps the public names in
the engine modules for the lifetime of the process, and the workloads open
spans around the calls they make themselves (``createDataFrame``,
``load_table``, the action). Nothing inside ``bid_evaluation_spark`` changes.

``plans/evaluator.py`` and ``plans/staged.py`` import ``compute_stats`` by
name, so the wrapper is installed in all three modules that hold the name.
``grouped_stats_df`` is lazy: its span measures plan building only, and its
cost lands in the Spark stage metrics that :class:`JobCounters` reads.

Per-op Spark counters come from a job group set around each traced op and
read back through ``SparkContext.statusTracker()`` plus the driver's status
store (stage run time and shuffle bytes).
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from pathlib import Path
from typing import Dict, List, Optional

#: (module, attribute, span name) wrapped by :meth:`Tracer.install`
_WRAPPED = (
    ("bid_evaluation_spark.plans.stats", "compute_stats", "plans.stats"),
    ("bid_evaluation_spark.plans.evaluator", "compute_stats", "plans.stats"),
    ("bid_evaluation_spark.plans.staged", "compute_stats", "plans.stats"),
    ("bid_evaluation_spark.plans.stats", "grouped_stats_df", "plans.stats"),
    ("bid_evaluation_spark.plans.evaluator", "grouped_stats_df", "plans.stats"),
    ("bid_evaluation_spark.plans.evaluator.Evaluator", "evaluate", "plans.evaluate"),
    ("bid_evaluation_spark.plans.evaluator.Evaluator", "evaluate_batched",
     "plans.evaluate_batched"),
    ("bid_evaluation_spark.plans.staged.StagedEvaluator", "evaluate", "staged.evaluate"),
    ("bid_evaluation_spark.plans.staged.StagedEvaluator", "evaluate_batched",
     "staged.evaluate_batched"),
    ("bid_evaluation_spark.plans.staged.StagedEvaluator", "release", "staged.release"),
)

EVALUATE_SPANS = ("plans.evaluate", "plans.evaluate_batched",
                  "staged.evaluate", "staged.evaluate_batched")


def _resolve(path: str):
    import importlib

    parts = path.split(".")
    for cut in range(len(parts), 0, -1):
        try:
            obj = importlib.import_module(".".join(parts[:cut]))
        except ImportError:
            continue
        for name in parts[cut:]:
            obj = getattr(obj, name)
        return obj
    raise ImportError(path)


class Tracer:
    """In-memory span recorder; every span is a no-op while inactive."""

    def __init__(self):
        self.active = False
        self.op = None
        self.spans: List[Dict] = []
        self.formulas_built = 0
        self.formulas_native = 0
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count_formulas(self, built: int, native: int) -> None:
        self.formulas_built += built
        self.formulas_native += native

    def install(self) -> None:
        for owner_path, attr, name in _WRAPPED:
            owner = _resolve(owner_path)
            original = getattr(owner, attr)

            def wrapper(*args, _original=original, _name=name, **kwargs):
                with self.span(_name):
                    return _original(*args, **kwargs)

            setattr(owner, attr, functools.wraps(original)(wrapper))

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


class JobCounters:
    """Spark work done by one op, read from its job group."""

    def __init__(self, sc):
        self.sc = sc
        self._status = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)

    @staticmethod
    def group(op) -> str:
        return f"perfbench-op-{op}"

    def begin(self, op) -> None:
        self.sc.setJobGroup(self.group(op), f"perfbench op {op}")

    def end(self, op) -> Dict[str, float]:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        # the status store is fed by an asynchronous listener bus
        self._bus.waitUntilEmpty()
        jobs = list(self._status.getJobIdsForGroup(self.group(op)))
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0,
               "shuffle_write_bytes": 0, "executor_run_ms": 0}
        for job in jobs:
            info = self._status.getJobInfo(job)
            for stage in (info.stageIds if info else ()):
                attempts = self._store.stageData(
                    stage, False, self.sc._gateway.jvm.java.util.ArrayList(), False,
                    self._no_quantiles)
                ran = False
                for k in range(attempts.size()):
                    data = attempts.apply(k)
                    if str(data.status()) == "SKIPPED":
                        continue
                    ran = True
                    out["tasks"] += data.numCompleteTasks()
                    out["shuffle_write_bytes"] += data.shuffleWriteBytes()
                    out["executor_run_ms"] += data.executorRunTime()
                out["stages"] += ran
        return out


def _children(spans: List[Dict]) -> Dict[Optional[int], List[Dict]]:
    kids: Dict[Optional[int], List[Dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def _dur(s: Dict) -> float:
    return (s["end"] - s["start"]) * 1000.0


def _descendants(span: Dict, kids) -> List[Dict]:
    out, todo = [], list(kids.get(span["id"], ()))
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], ()))
    return out


def op_layers(spans: List[Dict]) -> Dict[str, float]:
    """Per-layer times (ms) and counts for one op's spans (root span ``op``).

    ``self.<name>`` entries are self times (duration minus child spans); they
    partition the root span, so their sum over layers is the op's wall time.
    """
    kids = _children(spans)
    root = next(s for s in spans if s["name"] == "op")
    out: Dict[str, float] = {"wall_ms": _dur(root)}
    for s in _descendants(root, kids):
        child_ms = sum(_dur(c) for c in kids.get(s["id"], ()))
        key = "self." + s["name"]
        out[key] = out.get(key, 0.0) + _dur(s) - child_ms
        out["total." + s["name"]] = out.get("total." + s["name"], 0.0) + _dur(s)
        if s["name"] == "plans.stats":
            out["stats_calls"] = out.get("stats_calls", 0) + 1
        if s["name"] in EVALUATE_SPANS and s["parent"] == root["id"]:
            stats_ms = sum(_dur(d) for d in _descendants(s, kids) if d["name"] == "plans.stats")
            out["plan_ms"] = out.get("plan_ms", 0.0) + _dur(s) - stats_ms
        if s["name"] == "staged.evaluate":
            stage = 0
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                if c["name"] == "plans.stats":
                    key = f"stage{stage}_stats_ms"
                    out[key] = out.get(key, 0.0) + _dur(c)
                    stage += 1
    out["self.op"] = out["wall_ms"] - sum(_dur(c) for c in kids.get(root["id"], ()))
    return out
