"""Sources & sinks.

Reference surface (SURVEY §2.1): in-memory DataFrames (S1), Excel scan/sink
for the report path (S2/S3), CSV sink (S4), YAML/JSON/dict config sources
(S5-S7 — implemented on the evaluators themselves). Primary data ingest for
the Spark engine is columnar parquet/CSV — ``spark.read`` with pushdown and
pruning; Excel remains a driver-side pandas bridge (config-scale files only,
exactly like the reference's Streamlit upload path).
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

#: timestamp columns in the driver parquet, normalized to plain TIMESTAMP
#: (instant) regardless of how the driver generated them:
#:  - TIMESTAMP(NANOS) → Spark reads long (nanosAsLong); integer-div to µs
#:  - timestamp[us] without UTC adjustment → Spark ≥3.4 infers TIMESTAMP_NTZ;
#:    cast to TIMESTAMP (session tz is pinned UTC, so the epoch is unchanged
#:    and matches DuckDB's naive-timestamp reading)
_TS_COLUMNS: Dict[str, tuple] = {
    "events": ("ts",),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-testdata table with schema normalization."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in _TS_COLUMNS.get(name, ()):
        if col not in df.columns:
            continue
        dtype = dict(df.dtypes)[col]
        if dtype == "bigint":
            # integer `div` — float division would round 1e18-ns values by ±1µs
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"{col} div 1000"))
            )
        elif dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# === Excel bridge (S2/S3) — config-scale report I/O via pandas ===

def read_excel(spark: SparkSession, path: str,
               sheet_name: Optional[str] = 0) -> DataFrame:
    """Excel scan bridged through pandas (reference demo ingest,
    ``demos/streamlit_demo.py:100-115``). For bid-table-scale inputs only —
    large data belongs in parquet/CSV. Uses the pandas Excel engine when one
    is installed; otherwise the stdlib reader in :mod:`.xlsx`."""
    import pandas as pd

    try:
        pdf = pd.read_excel(path, sheet_name=sheet_name)
    except ImportError:
        from .xlsx import read_xlsx

        pdf = read_xlsx(path, sheet_name=sheet_name)
    return spark.createDataFrame(pdf)


def excel_sheet_names(path: str) -> list:
    import pandas as pd

    try:
        with pd.ExcelFile(path) as xf:
            return list(xf.sheet_names)
    except ImportError:
        from .xlsx import sheet_names

        return sheet_names(path)


def write_results_excel(result: DataFrame, path: str,
                        statistics: Optional[dict] = None,
                        config: Optional[dict] = None,
                        max_rows: int = 100_000) -> None:
    """Multi-sheet results workbook: Results / Statistics / Configuration
    (reference ``demos/streamlit_demo.py:540-568``). Collects to the driver —
    guarded by ``max_rows`` because a report sink is not a data sink."""
    import json

    import pandas as pd

    sheets = {"Results": result.limit(max_rows).toPandas()}
    if statistics:
        rows = []
        for crit, st in statistics.items():
            if isinstance(st, dict) and all(not isinstance(v, dict) for v in st.values()):
                rows.append({"criterion": crit, **st})
            else:  # staged: {stage: {criterion: stats}}
                for sub, sub_stats in (st or {}).items():
                    rows.append({"stage": crit, "criterion": sub, **sub_stats})
        sheets["Statistics"] = pd.DataFrame(rows)
    if config:
        sheets["Configuration"] = pd.DataFrame(
            [{"configuration": json.dumps(config, indent=2)}]
        )
    try:
        with pd.ExcelWriter(path) as writer:
            for name, pdf in sheets.items():
                pdf.to_excel(writer, sheet_name=name, index=False)
    except (ImportError, ModuleNotFoundError):
        from .xlsx import write_xlsx

        write_xlsx(path, sheets)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink (S4) — distributed write, header on."""
    df.write.mode(mode).option("header", True).csv(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: Optional[list] = None) -> None:
    """Parquet sink — the primary data sink."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_csv(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """CSV source with an EXPLICIT schema (header on). At corpus scale
    schema inference is a full extra pass over the data — callers supply
    the DDL string; malformed rows null out (PERMISSIVE), matching
    Spark's default contract."""
    return spark.read.option("header", True).schema(schema).csv(path)
