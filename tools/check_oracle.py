#!/usr/bin/env python
"""Local mirror of the driver's DuckDB-oracle correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet, then compares
row count, column names and (order-insensitively) values.

Usage: python tools/check_oracle.py [sf_dir] [--family PREFIX]
       [query ...]

``--family PREFIX`` restricts the run to queries whose name starts with
PREFIX (e.g. ``--family staged_``).  Combinable with explicit query
names (union).
"""

from __future__ import annotations

import glob
import math
import os
import subprocess
import sys
import time

sys.path.insert(0, ".")

import duckdb

import __spark_entry__ as entry
from bid_evaluation_spark.session import get_spark

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git_head() -> str:
    try:
        return subprocess.check_output(
            ["git", "rev-parse", "HEAD"], cwd=_REPO,
            stderr=subprocess.DEVNULL).decode().strip()
    except Exception:
        return "unknown"


#: regenerated GATE ARTIFACTS — these are the sweep's own outputs (and
#: sibling gate outputs), so modifying them must not mark the verified
#: tree dirty; only source/test/doc modifications invalidate the
#: header's HEAD claim
_ARTIFACT_PREFIXES = ("ORACLE_", "BENCHWAVE_", "BENCH_", "artifacts/")


def _git_dirty() -> bool:
    # untracked files are ignored (the in-progress output is untracked
    # on its first round); tracked gate artifacts are ignored too (they
    # are regenerated BY the gates) — anything else dirty is a real
    # unverified change
    try:
        out = subprocess.check_output(
            ["git", "status", "--porcelain", "--untracked-files=no"],
            cwd=_REPO, stderr=subprocess.DEVNULL).decode()
    except Exception:
        return False
    for line in out.splitlines():
        path = line[3:].strip()
        if not path.startswith(_ARTIFACT_PREFIXES):
            return True
    return False


def normalize(rows, columns):
    """Sort columns by name and rows by value — the driver's order-insensitive
    comparison shape. Floats are kept as-is (queries pre-round)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                elif v == int(v) and abs(v) < 1e15:
                    v = round(v, 10)
            vals.append((str(type(v).__name__) if v is not None else "none", str(v)))
        out.append(tuple(vals))
    out.sort()
    return [sorted(columns), out]


def main():
    argv = sys.argv[1:]
    families = []
    args = []
    i = 0
    while i < len(argv):
        if argv[i] == "--family":
            families.append(argv[i + 1])
            i += 1
        else:
            args.append(argv[i])
        i += 1
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    spark = get_spark("check-oracle")
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        t = os.path.basename(path)[: -len(".parquet")]
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    n_oracled = sum(1 for k in qs if oracles.get(k) is not None)
    # machine-printed registry count — docs quote THIS header, never a
    # hand count (the r6 close-out docs drifted to 280 vs the real 279)
    # HEAD hash in the header makes each committed sweep artifact
    # provably cover a specific tree (r9 judge task: a post-sweep source
    # commit left the shipped tree formally unverified); "+dirty" flags
    # uncommitted changes so the artifact can't masquerade as covering
    # any commit at all.
    head = _git_head()[:12] + ("+dirty" if _git_dirty() else "")
    print(f"registry: {len(qs)} queries, {n_oracled} with value oracles, "
          f"{len(qs) - n_oracled} rows-only; sf_dir={sf_dir}; "
          f"verified_head={head}")
    if families:
        fam_hits = {k for k in qs for p in families if k.startswith(p)}
        if not fam_hits and not only:
            print(f"no queries match family prefixes {families}")
            sys.exit(2)
        only |= fam_hits
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            if len(srows) == 0:
                print(f"  WARNING: zero rows for rows-only query {name}")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            failures.append(name)
            continue

        ncols_s, nrows_s = normalize(srows, scols)
        ncols_d, nrows_d = normalize(drows, dcols)
        problems = []
        if ncols_s != ncols_d:
            problems.append(f"columns {ncols_s} != {ncols_d}")
        if len(nrows_s) != len(nrows_d):
            problems.append(f"rowcount {len(nrows_s)} != {len(nrows_d)}")
        elif nrows_s != nrows_d:
            diffs = [
                (a, b) for a, b in zip(nrows_s, nrows_d) if a != b
            ][:3]
            problems.append(f"{sum(1 for a, b in zip(nrows_s, nrows_d) if a != b)} "
                            f"value mismatches, first: {diffs}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(p[:500] for p in problems))
            failures.append(name)
        else:
            print(f"OK    {name}: {len(nrows_s)} rows [{time.time()-t0:.1f}s]")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
