"""Command-line evaluation: score a bid table with a YAML/JSON config.

The reference ships Streamlit demos as its operational surface
(``demos/streamlit_demo.py``, ``demos/streamlit_staged_demo.py``); this CLI is
the headless equivalent: point it at a data file and a config file, get the
scored/ranked table (and optionally the multi-sheet Excel report the demo
exports — ``demos/streamlit_demo.py:540-568``).

Usage::

    python -m bid_evaluation_spark.cli --data bids.parquet \
        --config criteria.yaml --output results.parquet
    python -m bid_evaluation_spark.cli --data bids.csv --staged \
        --config stages.yaml --output results.csv --show 10
"""

from __future__ import annotations

import argparse
import sys


def _read(spark, path: str):
    if path.endswith(".parquet"):
        return spark.read.parquet(path)
    if path.endswith(".csv"):
        return spark.read.option("header", True).option("inferSchema", True).csv(path)
    if path.endswith((".xlsx", ".xls")):
        from .sources.io import read_excel

        return read_excel(spark, path)
    raise SystemExit(f"unsupported input format: {path}")


def _build(args):
    if args.staged:
        from . import StagedEvaluator as E
    else:
        from . import Evaluator as E
    if args.config.endswith((".yaml", ".yml")):
        return E.from_yaml(args.config)
    if args.config.endswith(".json"):
        return E.from_json(args.config)
    raise SystemExit(f"unsupported config format: {args.config}")


def main(argv=None, spark=None) -> int:
    """Run the CLI. ``spark`` injects an existing session (tests); without
    it a session is created and stopped around the run."""
    p = argparse.ArgumentParser(
        prog="bid_evaluation_spark",
        description="Score and rank a bid table with a criteria config.",
    )
    p.add_argument("--data", required=True, help="parquet/csv/xlsx input")
    p.add_argument("--config", required=True, help="YAML/JSON criteria config")
    p.add_argument("--staged", action="store_true",
                   help="config describes a staged pipeline")
    p.add_argument("--output", help="parquet/csv/xlsx output path")
    p.add_argument("--show", type=int, default=0,
                   help="print the top N result rows")
    p.add_argument("--master", default=None, help="Spark master override")
    args = p.parse_args(argv)

    owns_session = spark is None
    if owns_session:
        from .session import get_spark

        spark = get_spark("bid-evaluation-cli", master=args.master)
        spark.sparkContext.setLogLevel("ERROR")
    try:
        df = _read(spark, args.data)
        evaluator = _build(args)
        result = evaluator.evaluate(df)

        if args.show:
            result.show(args.show, truncate=False)
        if args.output:
            if args.output.endswith(".parquet"):
                from .sources.io import write_parquet

                write_parquet(result, args.output)
            elif args.output.endswith(".csv"):
                from .sources.io import write_csv

                write_csv(result, args.output)
            elif args.output.endswith((".xlsx", ".xls")):
                from .sources.io import write_results_excel

                write_results_excel(result, args.output,
                                    statistics=evaluator.get_statistics())
            else:
                raise SystemExit(f"unsupported output format: {args.output}")
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
