"""The benchmark's three workloads: inputs, one operation, its check.

Every generated input and criterion parameter derives from the workload seed,
so the same seed gives the same inputs. Each workload loads one layer heavily while
leaving another nearly idle (see README.md for why each was chosen):

- ``tender_latency``: a closed loop, one client, a stream of small independent
  tenders. Fixed per-call cost dominates: stats round-trips, plan building,
  job scheduling, staged per-stage jobs and persists.
- ``fact_rank``: ``lineitem`` of the sf0.1 test data set (600k rows) as one
  bid table, plain ``Evaluator`` in ``stats_mode="full"``, global rank and
  sort into the ``noop`` sink. The scan, the exact-percentile stats job and
  the single-partition rank window do nearly all the work.
- ``batched_staged``: ``orders`` of the same data set (150k rows, ~15k
  tenders keyed by ``o_custkey``), through a 2-stage
  ``StagedEvaluator.evaluate_batched`` into the ``noop`` sink, then
  ``release()``. Per-key stats shuffle, broadcast join, batch-partitioned
  windows and per-stage caches.

The two tables are copies of the repository's sf0.1 test data (TPC-H-shaped,
see TESTDATA.md), kept under ``data/`` so a run reads nothing outside its
checkout. For them the seed draws the criterion parameters and the sample
of tenders checked.
"""

from __future__ import annotations

import itertools
import math
import time
from pathlib import Path
from typing import Dict, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import Observation, functions as F

from bid_evaluation_spark import Evaluator, StagedEvaluator
from bid_evaluation_spark.sources.io import load_table

import oracle

#: ``lineitem`` and ``orders`` of the sf0.1 test data, as parquet
DATA = Path(__file__).resolve().parent / "data"

#: Observation names must not repeat within a session
_OBSERVATIONS = itertools.count()

# --------------------------------------------------------------------------
# criteria


def add_criterion(builder, spec: Dict) -> None:
    """Add one criterion spec (see :mod:`oracle`) through the fluent API of an
    ``Evaluator`` or the current stage of a ``StagedEvaluator``."""
    kind, col, w = spec["kind"], spec["column"], float(spec["weight"])
    p = dict(spec.get("params", {}))
    if kind == "linear":
        builder.linear(col, w, higher_is_better=p.get("higher_is_better", True))
    elif kind == "threshold":
        builder.threshold(col, w, thresholds=[tuple(t) for t in p["thresholds"]])
    elif kind == "direct":
        builder.direct(col, w, input_scale=p.get("input_scale", 100))
    elif kind == "min_ratio":
        builder.min_ratio(col, w)
    elif kind == "formula":
        builder.formula(col, w, formula=p["formula"])
    elif kind == "template":
        builder.template(col, w, p.pop("template"), **p)
    elif kind == "builtin":
        builder.custom(col, w, p["func"])
    elif kind == "custom":
        builder.custom(col, w, oracle.custom_quality_curve)
    else:
        raise ValueError(f"unknown criterion kind {kind!r}")


def _spec(kind, column, rng, **params):
    return {"kind": kind, "column": column,
            "weight": round(float(rng.uniform(0.5, 5.0)), 1), "params": params}


def _bands(rng, edges, scores):
    """Threshold bands ``[(lo, hi, score), ...]`` with seeded inner edges."""
    inner = sorted(rng.choice(np.arange(edges[0] + 1, edges[1]), len(scores) - 1,
                              replace=False).tolist())
    cuts = [edges[0]] + inner + [edges[1]]
    return [(float(cuts[i]), float(cuts[i + 1]), float(s)) for i, s in enumerate(scores)]


#: per tender column: criterion factories ``rng -> spec``. Columns are
#: strictly positive wherever a criterion divides by the value or a stat.
TENDER_CRITERIA = {
    "price": [
        lambda r: _spec("linear", "price", r, higher_is_better=False),
        lambda r: _spec("min_ratio", "price", r),
        lambda r: _spec("formula", "price", r, formula="min / value * 100"),
        lambda r: _spec("template", "price", r, template="percentage_of_best",
                        higher_is_better=False),
        lambda r: _spec("template", "price", r, template="budget_proximity",
                        target=float(round(math.exp(11.0) * r.uniform(0.8, 1.2)))),
        lambda r: _spec("builtin", "price", r, func="proximity_to_median"),
        lambda r: _spec("builtin", "price", r, func="inverse_squared"),
    ],
    "quality": [
        lambda r: _spec("linear", "quality", r),
        lambda r: _spec("direct", "quality", r, input_scale=100),
        lambda r: _spec("template", "quality", r, template="distance_from_mean",
                        prefer_above=bool(r.integers(0, 2))),
        lambda r: _spec("builtin", "quality", r, func="proximity_to_mean"),
        lambda r: _spec("formula", "quality", r,
                        formula="(value - min) / (max - min) * 100"),
    ],
    "delivery_days": [
        lambda r: _spec("linear", "delivery_days", r, higher_is_better=False),
        lambda r: _spec("threshold", "delivery_days", r,
                        thresholds=_bands(r, (0, 121), (100, 70, 40))),
        lambda r: _spec("template", "delivery_days", r, template="sweet_spot_range",
                        min_ideal=20.0, max_ideal=45.0),
        lambda r: _spec("template", "delivery_days", r, template="penalty_function",
                        base_score=100.0, threshold=60.0, penalty_per_unit=1.5),
        lambda r: _spec("min_ratio", "delivery_days", r),
        lambda r: _spec("formula", "delivery_days", r,
                        formula="(max - value) / (max - min) * 100"),
    ],
    "experience": [
        lambda r: _spec("linear", "experience", r),
        lambda r: _spec("threshold", "experience", r,
                        thresholds=_bands(r, (0, 31), (20, 60, 100))),
        lambda r: _spec("template", "experience", r, template="bonus_tiers"),
    ],
    "certifications": [
        lambda r: _spec("direct", "certifications", r, input_scale=5),
        lambda r: _spec("threshold", "certifications", r,
                        thresholds=[(0.0, 1.0, 0.0), (1.0, 3.0, 50.0), (3.0, 6.0, 100.0)]),
    ],
    "tech_score": [
        lambda r: _spec("direct", "tech_score", r, input_scale=10),
        lambda r: _spec("formula", "tech_score", r, formula="clip(value * 10, 0, 100)"),
        lambda r: _spec("formula", "tech_score", r, formula="sqrt(value) / sqrt(max) * 100"),
        lambda r: _spec("linear", "tech_score", r),
    ],
    "warranty_months": [
        lambda r: _spec("builtin", "warranty_months", r, func="log_scale"),
        lambda r: _spec("linear", "warranty_months", r),
        lambda r: _spec("formula", "warranty_months", r, formula="value / max * 100"),
    ],
    "local_content": [
        lambda r: _spec("linear", "local_content", r),
        lambda r: _spec("direct", "local_content", r, input_scale=1),
    ],
}

#: criteria for ``top_n`` stages: integer columns (so bids tie at the cutoff
#: and the ``on_tie`` truth table is exercised) scored from exact statistics
#: only, so engine and oracle agree bit-for-bit on every tie.
TIE_CRITERIA = {
    "delivery_days": [TENDER_CRITERIA["delivery_days"][0], TENDER_CRITERIA["delivery_days"][1]],
    "experience": [TENDER_CRITERIA["experience"][0], TENDER_CRITERIA["experience"][1]],
    "certifications": TENDER_CRITERIA["certifications"],
    "warranty_months": [TENDER_CRITERIA["warranty_months"][1]],
}


def _pick(rng, catalog: Dict, k: int) -> List[Dict]:
    cols = list(catalog)
    chosen = rng.choice(len(cols), size=min(k, len(cols)), replace=False)
    specs = []
    for c in chosen:
        options = catalog[cols[c]]
        specs.append(options[int(rng.integers(0, len(options)))](rng))
    return specs


# --------------------------------------------------------------------------
# tender_latency


def tender_frame(rng, n: int) -> pd.DataFrame:
    """One tender's bid table: ``n`` bids with eight scoring attributes."""
    return pd.DataFrame({
        "bid_id": np.arange(n, dtype=np.int64),
        "price": np.round(rng.lognormal(11.0, 0.35, n), 2),
        "quality": np.round(rng.uniform(40.0, 100.0, n), 2),
        "delivery_days": rng.integers(5, 121, n),
        "experience": rng.integers(0, 31, n),
        "certifications": rng.integers(0, 6, n),
        "tech_score": np.round(rng.uniform(0.0, 10.0, n), 3),
        "warranty_months": rng.integers(6, 61, n),
        "local_content": np.round(rng.uniform(0.01, 1.0, n), 4),
    })


STAGE_NAMES = ("screen", "technical", "award")


def make_tender(seed: int, i: int) -> Dict:
    """Tender ``i`` of the stream for ``seed``.

    The mix is fixed by position, not drawn, so any prefix of the stream has
    the same shares (a run's tender count varies with speed): every third
    tender is staged, alternating 2 and 3 stages; three in sixteen plain
    tenders (1 in 8 overall) carry a Python ``CustomCriterion``; criterion
    counts cycle through 3..6; bid counts are log-uniform on 5..500,
    stratified over blocks of eight.
    """
    rng = np.random.default_rng([seed, 7, i])
    stratum = np.random.default_rng([seed, 3, i // 8]).permutation(8)[i % 8]
    n_bids = int(round(5 * 100 ** ((stratum + rng.random()) / 8)))
    frame = tender_frame(rng, n_bids)
    staged = i % 3 == 2
    if not staged:
        p = i - (i + 1) // 3  # index among plain tenders
        custom = p % 16 in (2, 8, 13)
        k = 3 + p % 4
        specs = _pick(rng, {c: o for c, o in TENDER_CRITERIA.items()
                            if not (custom and c == "quality")}, k - custom)
        if custom:
            specs.insert(int(rng.integers(0, len(specs) + 1)),
                         {"kind": "custom", "column": "quality",
                          "weight": round(float(rng.uniform(0.5, 5.0)), 1), "params": {}})
        return {"i": i, "kind": "custom" if custom else "plain", "frame": frame,
                "criteria": specs}

    q = i // 3  # index among staged tenders
    n_stages = 2 if q % 2 == 0 else 3
    on_tie = "include" if (q // 2) % 2 == 0 else "exclude"
    final_mode = "weighted_combination" if q % 4 in (0, 3) else "last_stage"
    k = max(n_stages, 3 + (q // 2) % 4)
    sizes = [1] * n_stages
    for _ in range(k - n_stages):
        sizes[int(rng.integers(0, n_stages))] += 1
    top_n = max(1, int(round(n_bids * rng.uniform(0.2, 0.6))))
    stages = []
    for s in range(n_stages):
        is_top_n = s == n_stages - 2
        if s == n_stages - 1:
            flt = None
        elif is_top_n:
            flt = {"type": "top_n", "top_n": top_n, "on_tie": on_tie}
        else:
            flt = {"type": "score_threshold",
                   "threshold": round(float(rng.uniform(20.0, 45.0)), 1)}
        catalog = TIE_CRITERIA if is_top_n else TENDER_CRITERIA
        stages.append({"name": STAGE_NAMES[s] if n_stages == 3 else STAGE_NAMES[2 * s],
                       "weight": float(rng.integers(1, 4)), "filter": flt,
                       "criteria": _pick(rng, catalog, sizes[s])})
    return {"i": i, "kind": f"staged{n_stages}", "frame": frame, "stages": stages,
            "final_mode": final_mode}


def build_staged(stages: List[Dict], final_mode: str) -> StagedEvaluator:
    se = StagedEvaluator(final_score_mode=final_mode)
    for st in stages:
        f = st["filter"] or {}
        se.add_stage(st["name"], filter_type=f.get("type"), threshold=f.get("threshold"),
                     top_n=f.get("top_n"), on_tie=f.get("on_tie", "include"),
                     weight=st["weight"])
        for spec in st["criteria"]:
            add_criterion(se, spec)
    return se


def build_plain(specs: List[Dict]) -> Evaluator:
    ev = Evaluator()
    for spec in specs:
        add_criterion(ev, spec)
    return ev


def formula_counts(builder) -> tuple:
    """``(formula criteria built, of which on the native Column path)``."""
    evaluators = ([s.evaluator for s in builder._stages]
                  if isinstance(builder, StagedEvaluator) else [builder])
    from bid_evaluation_spark import FormulaCriterion
    formulas = [c for ev in evaluators for c in ev.criteria.values()
                if isinstance(c, FormulaCriterion)]
    return len(formulas), sum(1 for c in formulas if c.translated)


def _rows(collected, fields) -> List[Dict]:
    return [{f: r[f] for f in fields if f in r} for r in (x.asDict() for x in collected)]


class TenderLatency:
    name = "tender_latency"
    #: tenders generated per run; the stream cycles if a run gets further
    STREAM = 240
    #: untimed tenders before measuring, from a separate stream
    WARMUP = 8

    def __init__(self, seed: int):
        self.seed = seed
        self._expected: Dict[int, Dict] = {}

    def reference(self) -> Dict:
        """Nothing up front: each tender's oracle result is computed at its
        first check."""
        return {}

    def setup(self, spark, tracer) -> None:
        self.tenders = [make_tender(self.seed, i) for i in range(self.STREAM)]

    def warm_up(self, spark, tracer) -> None:
        for j in range(self.WARMUP):
            self._run(spark, make_tender(self.seed + 1_000_003, j), tracer)

    def prepare_check(self, spark) -> None:
        pass

    def items(self, op: Dict) -> int:
        return 1

    def op_kind(self, i: int) -> str:
        return self.tenders[i % self.STREAM]["kind"]

    def _run(self, spark, t: Dict, tracer):
        t0 = time.perf_counter()
        with tracer.span("sources.create"):
            df = spark.createDataFrame(t["frame"])
        with tracer.span("functions.build"):
            if "stages" in t:
                ev = build_staged(t["stages"], t["final_mode"])
            else:
                ev = build_plain(t["criteria"])
        result = ev.evaluate(df)
        with tracer.span("exec.collect"):
            collected = result.collect()
        if "stages" in t:
            ev.release()  # drop the last stage's cached work frame
        elapsed = time.perf_counter() - t0
        if tracer.active:
            tracer.count_formulas(*formula_counts(ev))
        return elapsed, collected

    def run(self, spark, i: int, tracer):
        t = self.tenders[i % self.STREAM]
        elapsed, collected = self._run(spark, t, tracer)
        return elapsed, lambda: self._check(t, collected)

    def _check(self, t: Dict, collected) -> Optional[str]:
        i = t["i"]
        if i not in self._expected:
            if "stages" in t:
                self._expected[i] = oracle.staged_result(t["frame"], t["stages"],
                                                         t["final_mode"])
            else:
                self._expected[i] = {
                    "final_score": oracle.plain_final_scores(t["frame"], t["criteria"])}
        rows = _rows(collected, ("bid_id", "final_score", "ranking", "eliminated_at_stage"))
        return oracle.check_ranked_rows(rows, t["frame"], self._expected[i], "bid_id")


# --------------------------------------------------------------------------
# fact_rank


class FactRank:
    name = "fact_rank"
    ROWS = 600_000
    TOP_K = 10
    #: lineitem has no unique key; these columns identify a top row well enough
    KEYS = ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
    #: untimed full-size ops first: the JIT takes a few ops to settle
    WARMUP = 2

    def __init__(self, seed: int):
        self.seed = seed
        rng = np.random.default_rng([seed, 5])
        self.criteria = [
            _spec("linear", "l_extendedprice", rng, higher_is_better=False),
            _spec("min_ratio", "l_quantity", rng),
            {"kind": "threshold", "column": "l_discount",
             "weight": round(float(rng.uniform(0.5, 5.0)), 1),
             "params": {"thresholds": [(t[0] / 100, t[1] / 100, t[2])
                                       for t in _bands(rng, (0, 11), (100, 60, 20))]}},
            _spec("formula", "l_tax", rng, formula="(max - value) / (max - min) * 100"),
        ]

    def reference(self) -> Dict:
        """Pandas checksum of the whole evaluation (run in a child process)."""
        pdf = pd.read_parquet(DATA / "lineitem.parquet",
                              columns=list(self.KEYS) + [c["column"] for c in self.criteria])
        final = oracle.plain_final_scores(pdf, self.criteria)
        top = oracle.rank_desc_min(final) <= self.TOP_K
        keys = pdf.loc[top, list(self.KEYS)].itertuples(index=False, name=None)
        return {"count": len(final), "sum": float(final.sum()),
                "top": sorted(zip(keys, final[top].tolist()))}

    def setup(self, spark, tracer) -> None:
        with tracer.span("sources.load"):
            load_table(spark, str(DATA), "lineitem").schema

    def warm_up(self, spark, tracer) -> None:
        for _ in range(self.WARMUP):
            self._run(spark, tracer)

    def prepare_check(self, spark) -> None:
        pass

    def items(self, op) -> int:
        return self.ROWS

    def op_kind(self, i: int) -> str:
        return "fact"

    def _run(self, spark, tracer):
        t0 = time.perf_counter()
        with tracer.span("sources.load"):
            df = load_table(spark, str(DATA), "lineitem")
            df.schema
        with tracer.span("functions.build"):
            ev = build_plain(self.criteria)
        result = ev.evaluate(df, stats_mode="full")
        with tracer.span("exec.noop"):
            # the checksum rides along the timed action as observed metrics
            obs = Observation(f"fact_{next(_OBSERVATIONS)}")
            observed = result.observe(
                obs, F.count(F.lit(1)).alias("n"), F.sum("final_score").alias("s"),
                F.collect_list(F.when(F.col("ranking") <= self.TOP_K,
                                      F.struct(*self.KEYS, "final_score"))).alias("top"))
            observed.write.format("noop").mode("overwrite").save()
        elapsed = time.perf_counter() - t0
        if tracer.active:
            tracer.count_formulas(*formula_counts(ev))
        return elapsed, obs

    def run(self, spark, i: int, tracer):
        elapsed, obs = self._run(spark, tracer)
        return elapsed, lambda: self._check(obs.get)

    def _check(self, got: Dict) -> Optional[str]:
        exp = self.expected
        if got["n"] != exp["count"]:
            return f"row count {got['n']} != {exp['count']}"
        if not oracle.close(got["s"], exp["sum"], 1e-9):
            return f"final_score sum {got['s']} != {exp['sum']}"
        top = sorted((tuple(r[k] for k in self.KEYS), r["final_score"]) for r in got["top"])
        if len(top) != len(exp["top"]):
            return f"{len(top)} rows ranked <= {self.TOP_K}, oracle has {len(exp['top'])}"
        for (key, score), (want_key, want) in zip(top, exp["top"]):
            if key != tuple(want_key) or not oracle.close(score, want):
                return f"top row {key} score {score} (oracle {tuple(want_key)} {want})"
        return None


# --------------------------------------------------------------------------
# batched_staged


def with_order_attributes(df):
    """Add the two integer scoring columns ``batched_staged`` derives from
    orders: ``o_priority`` (1 = urgent .. 5 = low, from ``o_orderpriority``)
    and ``o_days`` (days since 1994-12-31, from ``o_orderdate``)."""
    return (df.withColumn("o_priority", F.substring("o_orderpriority", 1, 1).cast("int"))
              .withColumn("o_days", F.datediff(F.to_date("o_orderdate"),
                                               F.to_date(F.lit("1994-12-31")))))


def order_attributes(pdf: pd.DataFrame) -> pd.DataFrame:
    """:func:`with_order_attributes` in pandas, for the oracle."""
    return pdf.assign(
        o_priority=pdf["o_orderpriority"].str[0].astype("int32"),
        o_days=(pdf["o_orderdate"].dt.normalize() - pd.Timestamp("1994-12-31")).dt.days
        .astype("int32"))


class BatchedStaged:
    name = "batched_staged"
    ROWS = 150_000
    SAMPLE = 12      # tenders checked against the pandas oracle
    REFERENCE = 1    # of those, also re-evaluated alone by StagedEvaluator.evaluate
    KEY = "o_custkey"
    ID = "o_orderkey"
    COLUMNS = (ID, KEY, "o_totalprice", "o_priority", "o_days")
    #: op time still falls ~40% over the first five ops after setup
    WARMUP = 3

    def __init__(self, seed: int):
        self.seed = seed
        rng = np.random.default_rng([seed, 17])
        self.final_mode = "weighted_combination"
        self.stages = [
            {"name": "screen", "weight": float(rng.integers(1, 4)),
             "filter": {"type": "top_n", "top_n": int(rng.integers(3, 6)), "on_tie": "exclude"},
             "criteria": [
                 {"kind": "threshold", "column": "o_priority",
                  "weight": round(float(rng.uniform(0.5, 5.0)), 1),
                  "params": {"thresholds": _bands(rng, (1, 6), (100, 60, 20))}},
                 _spec("threshold", "o_days", rng,
                       thresholds=_bands(rng, (0, 2600), (40, 70, 100))),
             ]},
            {"name": "award", "weight": float(rng.integers(1, 4)), "filter": None,
             "criteria": [
                 _spec("linear", "o_totalprice", rng, higher_is_better=False),
                 _spec("formula", "o_days", rng, formula="value / max * 100"),
             ]},
        ]

    def reference(self) -> Dict:
        """Seeded sample tenders and their oracle results (run in a child
        process)."""
        pdf = order_attributes(pd.read_parquet(DATA / "orders.parquet"))[list(self.COLUMNS)]
        sizes = pdf.groupby(self.KEY).size()
        eligible = np.sort(sizes[sizes >= 6].index.to_numpy())
        rng = np.random.default_rng([self.seed, 19])
        sample = [int(k) for k in rng.choice(eligible, self.SAMPLE, replace=False)]
        tenders = {k: pdf[pdf[self.KEY] == k].reset_index(drop=True) for k in sample}
        return {"n_tenders": int(pdf[self.KEY].nunique()), "sample": sample,
                "tenders": tenders,
                "results": {k: oracle.staged_result(t, self.stages, self.final_mode)
                            for k, t in tenders.items()}}

    def setup(self, spark, tracer) -> None:
        with tracer.span("sources.load"):
            load_table(spark, str(DATA), "orders").schema

    def warm_up(self, spark, tracer) -> None:
        for _ in range(self.WARMUP):
            self._run(spark, tracer)

    def prepare_check(self, spark) -> None:
        fields = (self.ID, "final_score", "ranking", "eliminated_at_stage")
        self.single = {}
        for k in self.expected["sample"][:self.REFERENCE]:
            se = build_staged(self.stages, self.final_mode)
            self.single[k] = _rows(
                se.evaluate(spark.createDataFrame(self.expected["tenders"][k])).collect(),
                fields)
            se.release()

    def items(self, op) -> int:
        return self.expected["n_tenders"]

    def op_kind(self, i: int) -> str:
        return "batched"

    def _run(self, spark, tracer):
        t0 = time.perf_counter()
        with tracer.span("sources.load"):
            df = load_table(spark, str(DATA), "orders")
            df.schema
        with tracer.span("functions.build"):
            se = build_staged(self.stages, self.final_mode)
            df = with_order_attributes(df)
        result = se.evaluate_batched(df, self.KEY)
        with tracer.span("exec.noop"):
            # the sampled tenders' rows ride along the timed action
            obs = Observation(f"batched_{next(_OBSERVATIONS)}")
            observed = result.observe(
                obs, F.count(F.lit(1)).alias("n"),
                F.collect_list(F.when(F.col(self.KEY).isin(self.expected["sample"]), F.struct(
                    self.KEY, self.ID, "eliminated_at_stage", "final_score", "ranking"
                ))).alias("sample"))
            observed.write.format("noop").mode("overwrite").save()
        se.release()
        elapsed = time.perf_counter() - t0
        if tracer.active:
            tracer.count_formulas(*formula_counts(se))
        return elapsed, obs

    def run(self, spark, i: int, tracer):
        elapsed, obs = self._run(spark, tracer)
        return elapsed, lambda: self._check(obs.get)

    def _check(self, got: Dict) -> Optional[str]:
        if got["n"] != self.ROWS:
            return f"row count {got['n']} != {self.ROWS}"
        sample = self.expected["sample"]
        by_key: Dict[int, List[Dict]] = {k: [] for k in sample}
        for r in got["sample"]:
            by_key[r[self.KEY]].append(r.asDict())
        for k in sample:
            rows = by_key[k]
            err = oracle.check_ranked_rows(rows, self.expected["tenders"][k],
                                           self.expected["results"][k], self.ID, ordered=False)
            if err:
                return f"tender {k}: {err}"
            if k in self.single:
                got_by_id = {r[self.ID]: r for r in rows}
                for ref in self.single[k]:
                    mine = got_by_id[ref[self.ID]]
                    if (mine["eliminated_at_stage"] != ref["eliminated_at_stage"]
                            or mine["ranking"] != ref["ranking"]
                            or not oracle.close(mine["final_score"], ref["final_score"])):
                        return f"tender {k} bid {ref[self.ID]}: batched {mine} != single {ref}"
        return None


WORKLOADS = {w.name: w for w in (TenderLatency, FactRank, BatchedStaged)}
