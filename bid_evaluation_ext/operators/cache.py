"""Shared registry of persisted intermediate DataFrames.

Several operators persist an intermediate frame that has TWO consumers: a
driver-side ``collect()`` of a handful of scalars (bucket maxima, offsets,
global totals) and the returned LAZY plan that the caller materializes
later. The cache cannot be dropped before the caller's action, so the
operator cannot unpersist it itself — instead every such intermediate is
recorded here and callers (or harnesses) sweep them with :func:`release`
(per-result) or :func:`release_all` (whole-session) once results are
materialized. Without the sweep, repeated operator calls accumulate cached
blocks for the session lifetime.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame

#: every persisted intermediate any tracked operator creates — the robust
#: release handle (the per-frame attribute below dies on the first
#: ``.select()`` a caller applies to the returned frame)
_ALL_CACHED: List[DataFrame] = []


def track_cached(result: DataFrame, deps) -> DataFrame:
    """Record persisted intermediates on the returned frame (for
    :func:`release`) AND in the module registry (for :func:`release_all`)."""
    deps = list(deps)
    result._cached_deps = list(getattr(result, "_cached_deps", [])) + deps
    _ALL_CACHED.extend(deps)
    return result


def release(df: DataFrame) -> None:
    """Unpersist intermediate frames cached while building ``df``.

    Call after the result has been materialized (written / collected);
    repeated operator calls in one session otherwise accumulate cached
    blocks for the session lifetime. Only works on the EXACT frame an
    operator returned (the handle does not survive further
    transformations) — when in doubt, use :func:`release_all`."""
    deps = getattr(df, "_cached_deps", [])
    for dep in deps:
        dep.unpersist()
        try:
            _ALL_CACHED.remove(dep)
        except ValueError:
            pass
    df._cached_deps = []


def release_all() -> None:
    """Unpersist EVERY intermediate tracked operators have cached in the
    session.

    The safe sweep for harnesses that transform or discard the returned
    frames (a ``result.select(...)`` drops the per-frame release handle)."""
    for dep in _ALL_CACHED:
        dep.unpersist()
    del _ALL_CACHED[:]


def spread_scan(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism when its
    scan has fewer partitions (guide §2.5).

    A single small parquet file scans as ONE input split, which
    serializes any heavy per-row work (Arrow kernels, wide hash
    projections) running directly over the scan. At scale the scan
    already has more partitions than cores and this is a no-op. Call it
    on the NARROW projection an operator actually feeds its kernel —
    never on a wide frame. True streaming frames pass through unchanged
    (no ``.rdd`` there; micro-batch parallelism is the source's job)."""
    if df.isStreaming:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df
