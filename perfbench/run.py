#!/usr/bin/env python3
"""Benchmark of the bid_evaluation_spark scoring engine.

Run from the root of a checkout::

    python3 perfbench/run.py --workload tender_latency --seed 1 --seconds 20 --trace 0

Workloads: ``tender_latency``, ``fact_rank``, ``batched_staged`` (see
``workloads.py`` and README.md). The run computes the correctness reference
in a child process, sets up the session and inputs, warms up untimed, then
runs the workload's operation in a closed loop for ``--seconds`` and checks
every operation's output against the pandas oracle. It then sets up again
several times in the warm JVM; ``setup_s`` is their median. Human-readable
lines come first; the last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics, taken
from spans and Spark job-group counters on every other op (the rest run
untraced to measure ``trace.overhead_frac``), and the spans are written to
``perfbench/_work/``.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ProcessPoolExecutor
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / "_work"
WORKLOAD_NAMES = ("tender_latency", "fact_rank", "batched_staged")
#: setups after the measured ops, in the warm JVM; ``setup_s`` is their median
SETUPS = 8
#: the run aborts (non-zero exit, no result) past this many seconds
TIME_LIMIT_S = 170


def pin_environment() -> int:
    """Pin the session size to this machine's cores and keep every file the
    run writes inside the checkout. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    tmp = WORK / "tmp"
    for d in (WORK / "spark-local", tmp):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers (pandas UDFs) import the engine and the oracle module
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(BENCH), os.environ.get("PYTHONPATH")) if p)
    return cores


def import_engine():
    """Import the engine from this checkout, failing fast when it is absent."""
    sys.path.insert(0, str(ROOT))
    import bid_evaluation_spark

    origin = Path(bid_evaluation_spark.__file__).resolve()
    if ROOT not in origin.parents:
        raise ImportError(f"bid_evaluation_spark found outside the checkout: {origin}")


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this driver plus its JVM, from ``VmHWM``.

    The inputs and the correctness reference are made in a child process
    before the session starts, so neither counts here.
    """
    jvm_mb = _vm_hwm_kb(spark.sparkContext._gateway.proc.pid) / 1024.0
    py_mb = _vm_hwm_kb(os.getpid()) / 1024.0
    management = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    heap_mb = sum(p.getPeakUsage().getUsed() for p in management.getMemoryPoolMXBeans()
                  if str(p.getType()) == "Heap memory") / 2 ** 20
    print(f"peak resident: python {py_mb:.1f} MB, jvm {jvm_mb:.1f} MB "
          f"(peak heap used {heap_mb:.1f} MB)")
    return py_mb + jvm_mb


def make_reference(workload):
    """The workload's correctness reference, computed in a forked child so
    that its pandas work stays out of the driver's ``VmHWM``. Call it before
    the JVM starts."""
    with ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("fork")) as pool:
        return pool.submit(workload.reference).result()


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    if spark is None:
        return
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def set_up(spark, workload, tracer, trace: int, k: int):
    """One setup: a new session, an Arrow round-trip and the workload's
    inputs. Returns the session and the seconds it took."""
    import pandas as pd

    from bid_evaluation_spark.session import get_spark

    if spark is not None:
        spark.stop()
    tracer.active, tracer.op = bool(trace), f"setup{k}"
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("sources.create"):  # Arrow and JVM warm-up
        spark.createDataFrame(pd.DataFrame({"x": [1.0, 2.0]})).collect()
    workload.setup(spark, tracer)
    tracer.active = False
    return spark, time.perf_counter() - t0


def _on_time_limit(signum, frame):
    raise TimeoutError(f"run exceeded {TIME_LIMIT_S} s")


def measure(spark, workload, seconds: float, tracer, counters):
    """Closed loop, one client: run ops back to back for ``seconds``.

    A new op starts only while it is expected to end inside the window
    (median op time so far), so long ops do not overrun it by a whole op.
    """
    ops = []
    start = time.perf_counter()
    i = 0
    while True:
        elapsed = time.perf_counter() - start
        done = [o["latency_s"] for o in ops if o["latency_s"] is not None]
        if elapsed >= seconds or (done and elapsed + statistics.median(done) > seconds):
            break
        traced = counters is not None and (i + i // 8) % 2 == 0
        tracer.active, tracer.op = traced, i
        if traced:
            counters.begin(i)
        op = {"i": i, "kind": workload.op_kind(i), "traced": traced, "latency_s": None}
        try:
            with tracer.span("op"):
                op["latency_s"], check = workload.run(spark, i, tracer)
            tracer.active = False
            op["error"] = check()
        except Exception as exc:  # one failed op must not end the run
            tracer.active = False
            op["error"] = f"{type(exc).__name__}: {exc}"
            traceback.print_exc(file=sys.stderr)
        if op["error"]:
            print(f"op {i} ({op['kind']}) failed: {op['error']}", file=sys.stderr)
        if traced:
            op["spark"] = counters.end(i)
        op["items"] = workload.items(op)
        ops.append(op)
        i += 1
    tracer.active = False
    return ops


def _quantile(values, q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(q * 100) - 1]


#: workload-specific names printed for the p50, the p90 and the throughput
ALIASES = {
    "tender_latency": ("tender_p50_ms", "tender_p90_ms", "tenders_per_s"),
    "fact_rank": ("fact_p50_ms", "fact_p90_ms", "fact_rows_per_s"),
    "batched_staged": ("batched_p50_ms", "batched_p90_ms", "batched_tenders_per_s"),
}


def end_to_end(name: str, ops, setup_times, rss_mb: float) -> dict:
    done = [o for o in ops if o["latency_s"] is not None]
    lat_ms = [o["latency_s"] * 1000.0 for o in done]
    p50 = statistics.median(lat_ms)
    if name == "tender_latency":
        # closed-loop throughput: tenders completed per second spent in ops
        items_per_s = sum(o["items"] for o in done) / (sum(lat_ms) / 1000.0)
    else:
        items_per_s = done[0]["items"] / (p50 / 1000.0)
    failed = sum(1 for o in ops if o["error"])
    n = len(lat_ms)
    p50_alias, p90_alias, rate_alias = ALIASES[name]
    p90 = _quantile(lat_ms, 0.9)
    # The p90, the throughput and the peak memory are printed, not reported:
    # their run-to-run spread is wider than any bound BENCHMARK.json may set
    # (README.md).
    metrics = {
        "setup_s": (statistics.median(setup_times), "s"),
        "op_p50_ms": (p50, "ms"),
    }
    for kind in sorted({o["kind"] for o in done}):
        kl = [o["latency_s"] * 1000.0 for o in done if o["kind"] == kind]
        print(f"  {kind}: n={len(kl)} median {statistics.median(kl):.1f} ms "
              f"min {min(kl):.1f} max {max(kl):.1f}")
    print("op latencies in order (ms): " + " ".join(f"{x:.0f}" for x in lat_ms))
    print(f"{p50_alias} {p50:.2f} ms (n={n})")
    print(f"{p90_alias} {p90:.2f} ms (n={n}, {n - int(0.9 * n)} beyond)")
    print(f"{rate_alias} {items_per_s:.4g} 1/s")
    print(f"ops_failed_frac {failed / len(ops):.4g} ({failed}/{len(ops)}) on {name}")
    print(f"setup_s {metrics['setup_s'][0]:.3f} s (median of "
          f"{', '.join(f'{t:.3f}' for t in setup_times)})")
    print(f"peak_rss_mb {rss_mb:.1f} MB")
    return metrics


def per_layer(name: str, ops, tracer) -> dict:
    from tracer import op_layers

    by_op = {}
    for s in tracer.spans:
        by_op.setdefault(s["op"], []).append(s)
    traced = [o for o in ops if o["traced"] and o["latency_s"] is not None]
    layers = [op_layers(by_op[o["i"]]) for o in traced]

    def mean(key, rows=layers):
        return statistics.fmean(r.get(key, 0.0) for r in rows)

    # compare like with like: ops of the most common kind only
    kinds = [o["kind"] for o in ops]
    main_kind = max(set(kinds), key=kinds.count)
    untraced = [o["latency_s"] for o in ops if not o["traced"] and o["kind"] == main_kind
                and o["latency_s"] is not None]
    traced_lat = [o["latency_s"] for o in traced if o["kind"] == main_kind]
    overhead = (statistics.median(traced_lat) / statistics.median(untraced) - 1.0
                if untraced and traced_lat else 0.0)

    def span_ms(span):
        return [(s["end"] - s["start"]) * 1000.0 for s in tracer.spans if s["name"] == span]

    loads = span_ms("sources.load")
    staged = [r for r in layers if "stage0_stats_ms" in r]
    spark = [o["spark"] for o in traced]
    self_keys = sorted({k for r in layers for k in r if k.startswith("self.")})
    covered = statistics.fmean(
        sum(r.get(k, 0.0) for k in self_keys if k != "self.op") / r["wall_ms"] for r in layers)
    metrics = {
        "session.start_ms": (statistics.median(span_ms("session.start")), "ms"),
        "sources.create_ms": (mean("total.sources.create"), "ms"),
        "sources.load_ms": (statistics.fmean(loads) if loads else 0.0, "ms"),
        "plans.plan_ms": (mean("plan_ms"), "ms"),
        "plans.stats_ms": (mean("total.plans.stats"), "ms"),
        "plans.stats_calls": (mean("stats_calls"), "count"),
        "staged.stage_stats_ms": (
            statistics.fmean(sum(v for k, v in r.items() if k.startswith("stage"))
                             for r in staged) if staged else 0.0, "ms"),
        "exec.action_ms": (mean("total.exec.collect") + mean("total.exec.noop"), "ms"),
        "spark.jobs_per_op": (statistics.fmean(s["jobs"] for s in spark), "count"),
        "spark.stages_per_op": (statistics.fmean(s["stages"] for s in spark), "count"),
        "spark.tasks_per_op": (statistics.fmean(s["tasks"] for s in spark), "count"),
        "spark.shuffle_write_bytes_per_op": (
            statistics.fmean(s["shuffle_write_bytes"] for s in spark), "bytes"),
        "spark.executor_run_ms_per_op": (
            statistics.fmean(s["executor_run_ms"] for s in spark), "ms"),
        "formula.native_frac": (
            tracer.formulas_native / tracer.formulas_built if tracer.formulas_built else 1.0,
            "ratio"),
        "trace.overhead_frac": (overhead, "ratio"),
        "trace.coverage_frac": (covered, "ratio"),
    }

    print(f"traced ops {len(traced)}, untraced ops {len(untraced)}; "
          f"mean per traced op, self time (ms) and share of op wall time:")
    wall = mean("wall_ms")
    for k in self_keys:
        print(f"  {k[5:]:<18} {mean(k):10.2f} ms  {mean(k) / wall:6.1%}")
    print(f"  {'(op wall)':<18} {wall:10.2f} ms")
    for kind in sorted({o["kind"] for o in traced}):
        rows = [o for o in traced if o["kind"] == kind]
        lay = [op_layers(by_op[o["i"]]) for o in rows]
        stages = sorted({k for r in lay for k in r if k.startswith("stage")})
        print(f"  kind {kind:<8} n={len(rows):<3} "
              f"jobs/op {statistics.fmean(o['spark']['jobs'] for o in rows):5.1f}  "
              f"stages/op {statistics.fmean(o['spark']['stages'] for o in rows):5.1f}  "
              f"tasks/op {statistics.fmean(o['spark']['tasks'] for o in rows):6.1f}  "
              f"stats calls/op {mean('stats_calls', lay):4.1f}"
              + "".join(f"  staged.{k} {mean(k, lay):.1f}" for k in stages))
    for k, (v, unit) in metrics.items():
        print(f"{k} {v:.4g} {unit} on {name}")
    print(f"formula criteria native/built {tracer.formulas_native}/{tracer.formulas_built}")
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import_engine()
    cores = pin_environment()
    from tracer import JobCounters, Tracer
    from workloads import WORKLOADS

    signal.signal(signal.SIGALRM, _on_time_limit)
    signal.alarm(TIME_LIMIT_S)
    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}")
    print("env cores=%d %s" % (cores, " ".join(
        f"{k}={v}" for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_"))))

    tracer = Tracer()
    if args.trace:
        tracer.install()
    workload = WORKLOADS[args.workload](args.seed)
    spark = None
    started = time.perf_counter()
    workload.expected = make_reference(workload)
    phases = {"reference": time.perf_counter() - started}
    try:
        spark, cold_s = set_up(spark, workload, tracer, args.trace, 0)
        phases["setup"] = time.perf_counter() - started - sum(phases.values())
        workload.prepare_check(spark)
        phases["check prep"] = time.perf_counter() - started - sum(phases.values())
        workload.warm_up(spark, tracer)
        phases["warm-up"] = time.perf_counter() - started - sum(phases.values())
        counters = JobCounters(spark.sparkContext) if args.trace else None
        ops = measure(spark, workload, args.seconds, tracer, counters)
        phases["measure"] = time.perf_counter() - started - sum(phases.values())
        rss_mb = peak_rss_mb(spark)
        setup_times = []
        for k in range(1, SETUPS + 1):
            spark, seconds = set_up(spark, workload, tracer, args.trace, k)
            setup_times.append(seconds)
        phases["re-setups"] = time.perf_counter() - started - sum(phases.values())
    finally:
        stop_spark(spark)
    phases["stop"] = time.perf_counter() - started - sum(phases.values())
    print("phases " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    print(f"first setup {cold_s:.3f} s (starts the JVM)")

    if args.trace:
        tracer.write(WORK / f"trace-{args.workload}-{args.seed}.jsonl")
        metrics = per_layer(args.workload, ops, tracer)
    else:
        metrics = end_to_end(args.workload, ops, setup_times, rss_mb)
    failed = sum(1 for o in ops if o["error"])
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
