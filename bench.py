#!/usr/bin/env python
"""Benchmark: headline engine queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced to full execution with the noop sink (computes every
row/column, no driver collect, no disk write). Session startup and table
warm-up (file listing + schema) are excluded from timings — the measurement
target is query execution, which is what scales with data size.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _force(df):
    df.write.format("noop").mode("overwrite").save()


def bench_eval_rank_lineitem(spark, sf_dir):
    """Full evaluation over the fact table: 3 criteria + final + global rank."""
    from bid_evaluation_spark import Evaluator
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "lineitem")
    res = (
        Evaluator()
        .linear("l_extendedprice", 0.4, higher_is_better=False)
        .threshold("l_quantity", 0.3, [(0, 10, 40.0), (10, 25, 70.0), (25, 1e9, 100.0)])
        .formula("l_discount", 0.3, "clip((1 - value) * 100, 0, 100)")
        # the scale path: aggregate only the stats each criterion reads
        # (min/max of price here — no exact-percentile buffers); scores are
        # identical to stats_mode="full" (tested)
        .evaluate(df, stats_mode="required")
    )
    _force(res)


def bench_staged_orders(spark, sf_dir):
    """Two-stage elimination pipeline (same shape as the oracle-checked
    ``staged_threshold_orders`` query), on the required-stats scale path."""
    from bid_evaluation_spark import StagedEvaluator
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "orders")
    st = (
        StagedEvaluator()
        .add_stage("Screening", filter_type="score_threshold", threshold=40)
        .linear("o_totalprice", 1.0, higher_is_better=False)
        .add_stage("Value")
        .min_ratio("o_totalprice", 1.0)
    )
    _force(st.evaluate(df, stats_mode="required"))


def bench_batched_eval_orders(spark, sf_dir):
    """Many-tender scale path: per-priority batches scored in ONE job."""
    from bid_evaluation_spark import Evaluator
    from bid_evaluation_spark.sources.io import load_table

    df = load_table(spark, sf_dir, "orders")
    res = (
        Evaluator()
        .linear("o_totalprice", 1.0, higher_is_better=False)
        .evaluate_batched(df, "o_orderpriority")
    )
    _force(res)


def bench_stats_bundle_lineitem(spark, sf_dir):
    import __spark_entry__ as e

    _force(e.queries()["a1_stats_bundle_lineitem"](spark, sf_dir))






























BENCHES = {
    "eval_rank_lineitem": bench_eval_rank_lineitem,
    "staged_orders": bench_staged_orders,
    "batched_eval_orders": bench_batched_eval_orders,
    "stats_bundle_lineitem": bench_stats_bundle_lineitem,
}


#: Idle-box anchor for the fixed calibration job below: the minimum
#: calibration second observed across this repo's idle close-out runs
#: (r10: 0.306, r11: 0.263). ``calibration_ratio`` =
#: min(before, after) / this — >1 means THIS run's box was slower than
#: the anchor and the raw headline overstates regressions by that
#: factor; ``value_normalized`` = value / ratio is the machine-written
#: deflation (r11 verdict task 2: the artifact must carry the
#: normalization itself, not leave it to prose).
CALIB_BASELINE_SEC = 0.263


def _calibrate(spark):
    """Deterministic fixed-work JVM job timed as a box-speed anchor: the
    same plan every round, so round-over-round drift in THIS number is
    machine/VM noise, not engine regression (this box's idle speed has
    measurably drifted 1.1-1.4x between runs — NOTES.md). Compare query
    deltas against the calibration delta before blaming a plan."""
    t0 = time.time()
    spark.range(0, 200_000_000, 1, 32).selectExpr(
        "sum(id * 3 % 7) as s").collect()
    return round(time.time() - t0, 3)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    from bid_evaluation_spark.session import get_spark
    from bid_evaluation_spark.sources.io import load_table

    # console progress bars (disabled in get_spark's builder — a STATIC
    # conf, not settable at runtime) interleave \r-frames with the result
    # line and made every BENCH_r*.json unparseable for the driver
    spark = get_spark("bid-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up (excluded from timings — discard-first-iteration practice):
    # one count() per benched table warms the parquet scan path,
    # codegen/JIT and the OS page cache. What stays measured is query
    # execution, which is what scales with data.
    for t in ("lineitem", "orders"):
        load_table(spark, sf_dir, t).count()
    _calibrate(spark)   # discarded: first range-agg JVM job pays JIT
    calib_before = _calibrate(spark)

    # k interleaved passes over the whole suite (pass 0 is the cold pass;
    # later passes are warm steady-state). Reporting the per-query MIN
    # makes the headline robust to the measured 1.1-1.4x idle-box speed
    # drift that made earlier single-shot cold records non-comparable
    # across rounds; the per-query spread is emitted as the artifact's own
    # noise bound.
    runs = {name: [] for name in BENCHES}
    for _ in range(max(1, passes)):
        for name, fn in BENCHES.items():
            t0 = time.time()
            fn(spark, sf_dir)
            runs[name].append(round(time.time() - t0, 3))
    # noise taming (r9 verdict task 7): queries whose spread exceeds
    # 2.5x after the base passes get extra warm passes (to 5 total) so
    # the per-query min is a readable round-over-round trend, not a
    # draw from a 4.9x-wide distribution. Adaptive, not a hardcoded
    # list — whatever is noisy THIS run gets the extra samples.
    extra_passes = {}
    for name, ts in runs.items():
        if min(ts) > 0 and max(ts) / min(ts) > 2.5:
            for _ in range(5 - len(ts)):
                t0 = time.time()
                BENCHES[name](spark, sf_dir)
                runs[name].append(round(time.time() - t0, 3))
            extra_passes[name] = len(runs[name])
    calib_after = _calibrate(spark)

    best = {n: min(ts) for n, ts in runs.items()}
    cold = {n: ts[0] for n, ts in runs.items()}
    warm = {n: min(ts[1:]) if len(ts) > 1 else ts[0]
            for n, ts in runs.items()}
    spread = {n: round(max(ts) / min(ts), 3) if min(ts) > 0 else None
              for n, ts in runs.items()}
    # warm spread excludes pass 0 (cold is definitionally an outlier and
    # already reported separately as cold_*) — THIS is the steady-state
    # stability number round-over-round trend reading should use
    warm_spread = {n: (round(max(ts[1:]) / min(ts[1:]), 3)
                       if len(ts) > 1 and min(ts[1:]) > 0 else None)
                   for n, ts in runs.items()}

    total = round(sum(best.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # self-normalization (r11 verdict task 2): deflate by how much
    # slower than the idle-box anchor this run's JVM measurably was,
    # so a loaded box can no longer print an apparent regression the
    # prose has to explain. Raw numbers stay primary; normalized ones
    # are the cross-round comparable.
    calib_ratio = round(min(calib_before, calib_after)
                        / CALIB_BASELINE_SEC, 3)
    norm = max(calib_ratio, 1.0)   # never inflate on a fast box
    total_normalized = round(total / norm, 3)
    best_normalized = {n: round(v / norm, 3) for n, v in best.items()}
    payload = json.dumps({
        "metric": ("bid_evaluation_spark headline suite wall time "
                   f"(per-query min of {passes} interleaved passes)"),
        "value": total,
        "unit": "sec",
        "value_normalized": total_normalized,
        "calibration_ratio": calib_ratio,
        "calibration_baseline_sec": CALIB_BASELINE_SEC,
        "queries": best,
        "queries_normalized": best_normalized,
        "cold_value": round(sum(cold.values()), 3),
        "cold_queries": cold,
        "warm_value": round(sum(warm.values()), 3),
        "warm_queries": warm,
        "passes": passes,
        "pass_runs": runs,
        "noise": {
            "per_query_max_over_min": spread,
            "worst_spread": max(v for v in spread.values() if v),
            "warm_max_over_min": warm_spread,
            "worst_warm_spread": max(
                (v for v in warm_spread.values() if v), default=None),
            "extra_passes": extra_passes,
            "calibration_sec_before": calib_before,
            "calibration_sec_after": calib_after,
            "calibration_note": ("fixed 200M-row JVM aggregate (first "
                                 "run discarded for JIT); ratio vs the "
                                 "pinned idle-box anchor deflates "
                                 "value_normalized — box-speed drift "
                                 "is machine-written, not prose"),
        },
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    })
    # result hygiene: Spark progress bars share stdout and have left the
    # driver's `parsed` field null every round — flush their remnants,
    # start a FRESH line for the JSON, and mirror it to a sidecar file
    sys.stdout.flush()
    sys.stderr.flush()
    print()
    print(payload, flush=True)
    sidecar = os.environ.get("SPARK_GRAFT_BENCH_OUT",
                             os.path.join(os.path.dirname(
                                 os.path.abspath(__file__)),
                                 "artifacts", "bench_result.json"))
    try:
        os.makedirs(os.path.dirname(sidecar), exist_ok=True)
        with open(sidecar, "w") as fh:
            fh.write(payload + "\n")
    except OSError:
        pass  # read-only checkout still gets the stdout line
    spark.stop()
    # The collecting driver keeps only ~1 KB of stdout tail, which truncated
    # the full 22-query payload mid-JSON in rounds 6-7 ("parsed": null).
    # Print a compact (<1 KB) summary as the VERY LAST stdout line so the
    # tail always contains one complete, parseable JSON object; the full
    # per-query payload stays above and in the sidecar.
    fields = {
        "metric": "bid_evaluation_spark headline suite wall time",
        "value": total,
        "unit": "sec",
        # r12 verdict task 2: the driver's PERF per_query/scaling blocks
        # came back EMPTY because this last line carried totals only (the
        # full payload above gets truncated out of the ~1 KB stdout tail).
        # A 2-decimal per-query map fits the budget and restores per-query
        # regression visibility to the round gate.
        "queries": {n: round(v, 2) for n, v in best.items()},
        "value_normalized": total_normalized,
        "calibration_ratio": calib_ratio,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries": len(best),
        "cold_value": round(sum(cold.values()), 3),
        "warm_value": round(sum(warm.values()), 3),
        "passes": passes,
        "full_payload": "see prior stdout line or artifacts/bench_result.json",
    }
    summary = json.dumps(fields, separators=(",", ":"))
    # The 1 KB budget must hold even if optional fields grow: shed the
    # least-important keys until it fits (never abort after the bench ran;
    # a bare `assert` would also vanish under `python -O`). "queries" is
    # shed LAST (before only the headline scalars) — it is the field the
    # driver's per-query comparison reads.
    for drop in ("full_payload", "passes", "cold_value", "warm_value",
                 "n_queries", "value_normalized", "calibration_ratio",
                 "sf", "queries"):
        if len(summary) < 1000:
            break
        fields.pop(drop, None)
        summary = json.dumps(fields, separators=(",", ":"))
    print(summary, flush=True)


if __name__ == "__main__":
    main()
