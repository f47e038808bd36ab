"""The engine against the benchmark's pandas oracle on hardened tenders.

Tenders come from the benchmark's own generator (``workloads.make_tender``)
and are checked with the oracle the benchmark checks every operation with
(``oracle.check_ranked_rows``); both are imported read-only from
``perfbench/``. Each drawn tender is hardened: cut to 1–3 bids, one criterion
column made constant, one bid's values copied onto another so that they tie.
Plain and staged tenders run on both input paths (driver-local, scored
interpreted; and lazy), and ``evaluate_batched`` over two tenders under a key
must give each tender's standalone rows. Tenders with a Python
``CustomCriterion`` are left out: its function lives in ``oracle``, which
Spark's Python workers cannot import.

One statistic of the oracle is corrected here, not in ``perfbench/``: the
std of a constant column is 0. pandas' two-pass std leaves rounding noise
there whenever its pairwise-summed mean is not the constant (31 copies of
50.47 give 7.2e-15), so ``distance_from_mean`` misses the reference's
``std == 0`` branch and scores noise; Spark's ``stddev_samp`` is exactly 0.
"""

import sys
import warnings
from pathlib import Path

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "perfbench"))
import oracle  # noqa: E402
import workloads  # noqa: E402

#: positions in a tender stream whose tender has no Python criterion (the
#: kind depends on the position only, not on the seed)
_POSITIONS = [i for i in range(workloads.TenderLatency.STREAM)
              if workloads.make_tender(0, i)["kind"] != "custom"]

#: the bid-table columns a criterion may score
_COLUMNS = [c for c in workloads.make_tender(0, 0)["frame"] if c != "bid_id"]


@pytest.fixture(scope="module", autouse=True)
def _exact_std_of_a_constant_column():
    column_stats = oracle.column_stats

    def exact(values):
        out = column_stats(values)
        s = pd.Series(values, dtype="float64").dropna()
        if len(s) > 1 and s.nunique() == 1:
            out["std"] = 0.0
        return out

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(oracle, "column_stats", exact)
        yield


@st.composite
def _tender(draw):
    """A generated tender, hardened."""
    t = workloads.make_tender(draw(st.integers(0, 10**6)), draw(st.sampled_from(_POSITIONS)))
    frame = t["frame"]
    if draw(st.booleans()):
        frame = frame.head(draw(st.integers(1, 3)))
    frame = frame.copy()
    specs = t["criteria"] if "criteria" in t else [c for s in t["stages"] for c in s["criteria"]]
    if draw(st.booleans()):
        col = draw(st.sampled_from(sorted({s["column"] for s in specs})))
        frame[col] = frame[col].iloc[0]
    if len(frame) > 1 and draw(st.booleans()):
        src, dst = draw(st.lists(st.integers(0, len(frame) - 1), min_size=2, max_size=2,
                                 unique=True))
        for c in _COLUMNS:
            frame.loc[dst, c] = frame.loc[src, c]
    return dict(t, frame=frame)


def _build(t):
    if "stages" in t:
        return workloads.build_staged(t["stages"], t["final_mode"])
    return workloads.build_plain(t["criteria"])


def _expected(t, frame):
    if "stages" in t:
        return oracle.staged_result(frame, t["stages"], t["final_mode"])
    return {"final_score": oracle.plain_final_scores(frame, t["criteria"])}


def _evaluate(t, df):
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # every bid may be eliminated
        return [r.asDict() for r in _build(t).evaluate(df).collect()]


def _same_rows(got, want):
    """The same rows by bid, every value equal (floats within 1e-9)."""
    assert sorted(r["bid_id"] for r in got) == sorted(r["bid_id"] for r in want)
    by_id = {r["bid_id"]: r for r in got}
    for w in want:
        g = by_id[w["bid_id"]]
        for k, v in w.items():
            assert (oracle.close(g[k], v, 1e-9) if isinstance(v, float) else g[k] == v), (k, g[k], v)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(t=_tender(), other=_tender())
def test_engine_matches_oracle(spark, t, other):
    local = spark.createDataFrame(t["frame"])
    for df in (local, local.select("*")):
        rows = _evaluate(t, df)
        assert oracle.check_ranked_rows(rows, t["frame"], _expected(t, t["frame"]),
                                        "bid_id") is None

    # ``other``'s bids scored with ``t``'s criteria, both tenders in one batch
    frames = {1: t["frame"], 2: other["frame"]}
    batched = pd.concat([f.assign(tender=k) for k, f in frames.items()], ignore_index=True)
    got = {1: [], 2: []}
    for r in _build(t).evaluate_batched(spark.createDataFrame(batched), "tender").collect():
        got[r["tender"]].append(r.asDict())
    for k, frame in frames.items():
        assert oracle.check_ranked_rows(got[k], frame, _expected(t, frame), "bid_id") is None
        alone = _evaluate(t, spark.createDataFrame(frame))
        # a standalone result drops the columns of stages no bid reached
        _same_rows(got[k], alone)
