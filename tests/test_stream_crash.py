"""Uniform crash-window fault injection for every stateful streaming
module (VERDICT r8 task 5).

All five modules persist state as versioned parquet + an atomically
replaced manifest/snapshot, with outputs written BEFORE the flip. The
documented crash window is: data/output writes land, the process dies
before the manifest write. The claim is that this window is
replay-idempotent — reopening the state path and replaying the same
batch (same batch_id / query token, as at-least-once ``foreachBatch``
does after a checkpoint restart) ends with state and outputs identical
to a run that never crashed.

One parameterized test simulates exactly that window for each module:
run batch 1 normally, inject a crash at the manifest write of batch 2
(outputs already written), reopen a fresh instance, replay batch 2, and
compare every observable surface against an uninterrupted control run.
"""

from __future__ import annotations

import numpy as np
import pytest

from bid_evaluation_ext.streaming.hashdup import StreamingHashNearDup
from bid_evaluation_ext.streaming.ivf import StreamingIVFIndex
from bid_evaluation_ext.streaming.neardup import StreamingNearDup
from bid_evaluation_ext.streaming.rollup import StreamingRollup
from bid_evaluation_ext.streaming.sketch import StreamingSketch


class _Crash(RuntimeError):
    pass


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# --- per-module spec: (constructor, batch row sets, df builder,
#     snapshot fn, name of the atomic-flip method to crash) --------------

_TEXTS = [
    "the quick brown fox jumps over the lazy dog again and again today",
    "pack my box with five dozen liquor jugs before the long trip home",
    "sphinx of black quartz judge my vow said the old museum curator",
    "the quick brown fox jumps over the lazy dog again and again today",
    "how vexingly quick daft zebras jump over the fence at the city zoo",
    "pack my box with five dozen liquor jugs before the long trip home",
]


def _neardup_spec():
    batches = [[(i, _TEXTS[i]) for i in (0, 1, 2)],
               [(i, _TEXTS[i]) for i in (3, 4, 5)]]
    return dict(
        make=lambda spark, p: StreamingNearDup(spark, p),
        schema="doc_id long, text string",
        batches=batches,
        process=lambda inst, df, bid: inst.process_batch(
            df, batch_id=bid, query_token="q"),
        snapshot=lambda inst: (_rows(inst.state()), _rows(inst.flags()),
                               inst.n_docs, inst.n_retained, inst.version),
        crash_method="_save_manifest",
    )


def _hashdup_spec():
    base = [0x0F0F_0F0F_0F0F_0F0F, 0x00FF_00FF_00FF_00FF,
            0x1234_5678_9ABC_DEF0]
    batches = [[(0, base[0]), (1, base[1])],
               [(2, base[0] ^ (1 << 7)), (3, base[2])]]
    return dict(
        make=lambda spark, p: StreamingHashNearDup(spark, p),
        schema="media_id long, fp64 long",
        batches=batches,
        process=lambda inst, df, bid: inst.process_batch(
            df, batch_id=bid, query_token="q"),
        snapshot=lambda inst: (_rows(inst.state()), _rows(inst.flags()),
                               inst.version),
        crash_method="_save_manifest",
    )


def _sketch_spec():
    batches = [[("a",), ("b",), ("a",)],
               [("b",), ("c",), ("d",), ("a",)]]
    return dict(
        make=lambda spark, p: StreamingSketch(spark, p, depth=3, width=64,
                                              b=8),
        schema="key string",
        batches=batches,
        process=lambda inst, df, bid: inst.process_batch(df, batch_id=bid),
        snapshot=lambda inst: (_rows(inst.cms()), _rows(inst.registers()),
                               inst.n_rows, inst.version),
        crash_method="_save_manifest",
    )


def _rollup_spec():
    batches = [[("d1", "click", 1.0), ("d1", "view", 2.0)],
               [("d1", "click", 3.0), ("d2", "view", 4.0)]]
    return dict(
        make=lambda spark, p: StreamingRollup(spark, p, ["day", "et"],
                                              ["v"]),
        schema="day string, et string, v double",
        batches=batches,
        process=lambda inst, df, bid: inst.process_batch(df, batch_id=bid),
        snapshot=lambda inst: (_rows(inst.current()), inst.n_rows,
                               inst.version),
        crash_method="_save_manifest",
    )


def _ivf_spec():
    rng = np.random.default_rng(7)
    cents = rng.normal(size=(3, 4))
    vecs = rng.normal(size=(8, 4)).astype("float32")
    batches = [[(i, [float(x) for x in vecs[i]]) for i in range(4)],
               [(i, [float(x) for x in vecs[i]]) for i in range(4, 8)]]
    return dict(
        make=lambda spark, p: StreamingIVFIndex(spark, p, cents),
        schema="vec_id long, embedding array<float>",
        batches=batches,
        process=lambda inst, df, bid: inst.process_batch(df, batch_id=bid),
        snapshot=lambda inst: (_rows(inst.lists()),
                               np.round(inst.centroids, 12).tolist(),
                               inst.counts.tolist(), inst.n_appends),
        crash_method="_save_state",
    )


_SPECS = {
    "neardup": _neardup_spec,
    "hashdup": _hashdup_spec,
    "sketch": _sketch_spec,
    "rollup": _rollup_spec,
    "ivf": _ivf_spec,
}


@pytest.mark.parametrize("name", sorted(_SPECS))
def test_crash_between_output_write_and_manifest_flip_replays_clean(
        spark, tmp_path, name):
    spec = _SPECS[name]()
    mk = lambda p: spec["make"](spark, str(tmp_path / p))  # noqa: E731
    dfs = [spark.createDataFrame(b, spec["schema"])
           for b in spec["batches"]]

    # control: both batches, no crash
    ctl = mk("ctl")
    for bid, df in enumerate(dfs):
        spec["process"](ctl, df, bid)
    want = spec["snapshot"](ctl)

    # crash run: batch 1 clean, batch 2 dies AT the manifest/snapshot
    # write — every parquet output for batch 2 is already on disk
    crashed = mk("sut")
    spec["process"](crashed, dfs[0], 0)
    orig = getattr(crashed, spec["crash_method"])
    calls = {"n": 0}

    def dying(*a, **kw):
        calls["n"] += 1
        raise _Crash("injected crash before manifest flip")

    setattr(crashed, spec["crash_method"], dying)
    with pytest.raises(_Crash):
        spec["process"](crashed, dfs[1], 1)
    assert calls["n"] == 1
    del orig, crashed  # the process is dead; nothing in memory survives

    # restart: a FRESH instance on the same path sees the pre-crash
    # manifest and replays the batch (at-least-once foreachBatch)
    reopened = mk("sut")
    spec["process"](reopened, dfs[1], 1)
    got = spec["snapshot"](reopened)

    assert got == want, f"{name}: post-replay state diverges from control"
