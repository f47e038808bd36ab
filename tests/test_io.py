"""Source/sink tests (SURVEY §2.1): CSV + parquet sinks, Excel bridge
(skipped where no Excel engine is installed), config file sources."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from bid_evaluation_spark import Evaluator
from bid_evaluation_spark.sources import io as IO


@pytest.fixture
def small(spark):
    return spark.createDataFrame(
        [("A", 10.0), ("B", 5.0), ("C", 8.0)], "vendor string, price double"
    )


def test_write_csv_roundtrip(small, spark, tmp_path):
    path = str(tmp_path / "csv_out")
    IO.write_csv(small, path)
    back = spark.read.option("header", True).csv(path, inferSchema=True)
    assert sorted((r["vendor"], float(r["price"])) for r in back.collect()) == [
        ("A", 10.0), ("B", 5.0), ("C", 8.0)
    ]


def test_write_parquet_partitioned(small, spark, tmp_path):
    path = str(tmp_path / "pq_out")
    IO.write_parquet(small, path, partition_by=["vendor"])
    back = spark.read.parquet(path)
    assert back.count() == 3
    # partition pruning works against the layout
    pruned = back.filter(F.col("vendor") == "B")
    assert pruned.count() == 1
    assert "PartitionFilters" in pruned._jdf.queryExecution().executedPlan().toString() \
        or pruned.count() == 1  # plan detail is engine-version dependent


def test_excel_bridge_roundtrip(small, spark, tmp_path):
    from bid_evaluation_spark.sources.xlsx import write_xlsx

    path = str(tmp_path / "bids.xlsx")
    write_xlsx(path, {"Sheet1": small.toPandas()})
    df = IO.read_excel(spark, path)
    assert df.count() == 3
    assert set(df.columns) == set(small.columns)
    assert IO.excel_sheet_names(path) == ["Sheet1"]
    got = {r["vendor"]: r["price"] for r in df.collect()}
    want = {r["vendor"]: r["price"] for r in small.collect()}
    assert got == want


def test_write_results_excel(small, tmp_path):
    from bid_evaluation_spark.sources.xlsx import read_xlsx

    ev = Evaluator().linear("price", 1.0)
    res = ev.evaluate(small)
    path = str(tmp_path / "results.xlsx")
    IO.write_results_excel(res, path, statistics=ev.get_statistics(),
                           config={"price": {"type": "linear", "weight": 1.0}})
    names = IO.excel_sheet_names(path)
    assert names == ["Results", "Statistics", "Configuration"]
    results = read_xlsx(path, sheet_name="Results")
    assert len(results) == 3 and "final_score" in results.columns
    stats = read_xlsx(path, sheet_name="Statistics")
    assert "criterion" in stats.columns and len(stats) == 1


def test_xlsx_quoted_sheet_and_nonfinite(tmp_path):
    """Sheet names containing quotes must produce valid XML; non-finite
    floats become empty cells (SpreadsheetML has no inf)."""
    import pandas as pd

    from bid_evaluation_spark.sources.xlsx import read_xlsx, write_xlsx

    path = str(tmp_path / "quoted.xlsx")
    pdf = pd.DataFrame({"k": [1, 2, 3],
                        "x": [1.0, float("inf"), float("-inf")]})
    write_xlsx(path, {'Q"1': pdf})
    back = read_xlsx(path, sheet_name='Q"1')
    assert back["x"].iloc[0] == 1.0
    assert back["x"].isna().iloc[1] and back["x"].isna().iloc[2]


def test_xlsx_type_roundtrip(tmp_path):
    import math

    import pandas as pd

    from bid_evaluation_spark.sources.xlsx import (read_xlsx, sheet_names,
                                                   write_xlsx)

    pdf = pd.DataFrame({
        "i": [1, 2, 3],
        "f": [1.5, float("nan"), -2.25],
        "s": ["plain", "x < y & z", "unicode é"],
        "b": [True, False, True],
        "n": [None, "mid", None],
    })
    path = str(tmp_path / "t.xlsx")
    write_xlsx(path, {"A": pdf, "B": pdf.head(1)})
    assert sheet_names(path) == ["A", "B"]
    back = read_xlsx(path, sheet_name="A")
    assert list(back.columns) == ["i", "f", "s", "b", "n"]
    assert list(back["i"]) == [1, 2, 3]
    assert back["f"][0] == 1.5 and back["f"][2] == -2.25
    assert back["f"][1] is None or (isinstance(back["f"][1], float)
                                    and math.isnan(back["f"][1]))
    assert list(back["s"]) == ["plain", "x < y & z", "unicode é"]
    assert list(back["b"]) == [True, False, True]
    assert back["n"][1] == "mid" and back["n"][0] is None
    assert len(read_xlsx(path, sheet_name="B")) == 1
    assert len(read_xlsx(path, sheet_name=1)) == 1
    with pytest.raises(ValueError, match="no sheet"):
        read_xlsx(path, sheet_name="nope")


def test_yaml_json_config_sources(small, tmp_path):
    yml = tmp_path / "cfg.yaml"
    yml.write_text(
        "criteria:\n  price:\n    type: linear\n    weight: 0.7\n"
        "    higher_is_better: false\n"
    )
    res_y = Evaluator.from_yaml(str(yml)).evaluate(small)
    jsn = tmp_path / "cfg.json"
    jsn.write_text(json.dumps({"criteria": {
        "price": {"type": "linear", "weight": 0.7, "higher_is_better": False}
    }}))
    res_j = Evaluator.from_json(str(jsn)).evaluate(small)
    ry = sorted((r["vendor"], r["final_score"]) for r in res_y.collect())
    rj = sorted((r["vendor"], r["final_score"]) for r in res_j.collect())
    assert ry == rj
    assert ry[1] == ("B", 100.0)  # lowest price wins with higher_is_better=False


def test_bucketed_join_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key join without a shuffle exchange."""
    from pyspark.sql import Row

    from bid_evaluation_ext.sources.io import read_table, write_bucketed

    left = spark.createDataFrame([Row(k=i, a=float(i)) for i in range(100)])
    right = spark.createDataFrame([Row(k=i, b=float(i * 2)) for i in range(100)])
    write_bucketed(left, "bkt_left", "k", num_buckets=4,
                   path=str(tmp_path / "l"), sort_cols=["k"])
    write_bucketed(right, "bkt_right", "k", num_buckets=4,
                   path=str(tmp_path / "r"), sort_cols=["k"])
    try:
        l, r = read_table(spark, "bkt_left"), read_table(spark, "bkt_right")
        # disable broadcast so the join must pick SMJ — the case bucketing serves
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = l.join(r, on="k")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert joined.count() == 100
            assert "Exchange hashpartitioning" not in plan, plan[:2000]
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_cli_end_to_end(spark, tmp_path):
    """CLI scores a parquet table with a YAML config and writes CSV."""
    import subprocess
    import sys as _sys

    data = str(tmp_path / "bids.parquet")
    spark.createDataFrame(
        [("A", 10.0), ("B", 5.0), ("C", 8.0)], "vendor string, price double"
    ).coalesce(1).write.parquet(data)
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(
        "criteria:\n  price:\n    type: linear\n    weight: 1.0\n"
        "    higher_is_better: false\n"
    )
    out = str(tmp_path / "out.csv")
    proc = subprocess.run(
        [_sys.executable, "-m", "bid_evaluation_spark.cli",
         "--data", data, "--config", str(cfg), "--output", out,
         "--master", "local[2]"],
        capture_output=True, text=True, timeout=240,
        cwd=Path(__file__).resolve().parents[1],
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    back = spark.read.option("header", True).csv(out, inferSchema=True)
    rows = {r["vendor"]: r["ranking"] for r in back.collect()}
    assert rows == {"B": 1, "C": 2, "A": 3}


def test_write_training_shards_contiguous_ordered(spark, tmp_path):
    import pytest
    from bid_evaluation_ext.operators.pipeline import shuffle_rows
    from bid_evaluation_ext.sources.io import write_training_shards

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = docs.count()
    out = str(tmp_path / "shards")
    write_training_shards(shuffle_rows(docs, seed="sh"), out, n_shards=4)
    back = spark.read.parquet(out).withColumn("_f", F.input_file_name())
    rows = [(r["_f"], r["shuffle_pos"]) for r in back.collect()]
    # every position exactly once across shards
    assert sorted(p for _, p in rows) == list(range(n))
    # each shard file holds one contiguous, disjoint position range
    by_file = {}
    for f, p in rows:
        by_file.setdefault(f, []).append(p)
    spans = sorted((min(ps), max(ps), len(ps)) for ps in by_file.values())
    assert all(hi - lo + 1 == cnt for lo, hi, cnt in spans)
    assert all(spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1))
    with pytest.raises(ValueError, match="n_shards"):
        write_training_shards(docs, out, 0, pos_col="doc_id")


class TestFormatRoundtrips:
    SCHEMA = "id long, name string, score double"

    def _frame(self, spark):
        return spark.createDataFrame(
            [(1, "a", 1.5), (2, "b", None), (3, None, -2.25)], self.SCHEMA)

    def test_csv_roundtrip_explicit_schema(self, spark, tmp_path):
        from bid_evaluation_spark.sources.io import read_csv, write_csv

        p = str(tmp_path / "csv")
        df = self._frame(spark)
        write_csv(df, p)
        back = read_csv(spark, p, self.SCHEMA)
        assert back.schema == df.schema
        assert sorted(map(tuple, back.collect())) \
            == sorted(map(tuple, df.collect()))

    def test_jsonl_roundtrip(self, spark, tmp_path):
        from bid_evaluation_ext.sources.io import read_jsonl, write_jsonl

        p = str(tmp_path / "jsonl")
        df = self._frame(spark)
        write_jsonl(df, p)
        back = read_jsonl(spark, p, self.SCHEMA)
        assert back.schema == df.schema
        # JSON omits null fields on write; explicit schema restores them
        assert sorted(map(tuple, back.collect())) \
            == sorted(map(tuple, df.collect()))

    def test_orc_roundtrip_with_pushdown(self, spark, tmp_path):
        from bid_evaluation_ext.sources.io import read_orc, write_orc

        p = str(tmp_path / "orc")
        df = self._frame(spark)
        write_orc(df, p)
        back = read_orc(spark, p).filter(F.col("id") > 1).select("id", "score")
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [IsNotNull(id), GreaterThan(id,1)]" in plan
        assert sorted(r["id"] for r in back.collect()) == [2, 3]

    def test_partitioned_write_prunes(self, spark, tmp_path):
        from bid_evaluation_spark.sources.io import write_parquet

        p = str(tmp_path / "part")
        df = spark.createDataFrame(
            [(i, "ab"[i % 2], float(i)) for i in range(20)],
            "id long, shard string, v double")
        write_parquet(df, p, partition_by=["shard"])
        back = spark.read.parquet(p).filter(F.col("shard") == "a")
        plan = back._jdf.queryExecution().executedPlan().toString()
        # the partition predicate must hit the file index, not a row filter
        assert "PartitionFilters: [isnotnull(shard" in plan
        assert back.count() == 10


class TestFooterStats:
    def test_matches_full_scan(self, spark, tmp_path):
        import pyspark.sql.functions as F

        from bid_evaluation_ext.sources.io import footer_stats

        path = str(tmp_path / "t.parquet")
        df = spark.range(0, 1000).select(
            F.col("id"), (F.col("id") * 2.5 - 100).alias("v"))
        df.write.mode("overwrite").parquet(path)
        got = footer_stats(spark, path, ["id", "v"])
        want = df.agg(F.count(F.lit(1)), F.min("id"), F.max("id"),
                      F.min("v"), F.max("v")).collect()[0]
        assert got["count"] == want[0]
        assert got["min_id"] == want[1] and got["max_id"] == want[2]
        assert got["min_v"] == want[3] and got["max_v"] == want[4]

    def test_restores_session_confs(self, spark, tmp_path):
        from bid_evaluation_ext.sources.io import footer_stats

        path = str(tmp_path / "t2.parquet")
        spark.range(5).write.mode("overwrite").parquet(path)
        before_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
        before_push = spark.conf.get("spark.sql.parquet.aggregatePushdown")
        footer_stats(spark, path, ["id"])
        assert spark.conf.get("spark.sql.sources.useV1SourceList") == before_v1
        assert spark.conf.get(
            "spark.sql.parquet.aggregatePushdown") == before_push

    def test_unsupported_column_raises(self, spark, tmp_path):
        import pyspark.sql.functions as F

        from bid_evaluation_ext.sources.io import footer_stats

        path = str(tmp_path / "t3.parquet")
        spark.range(5).select(F.struct("id").alias("s")).write \
            .mode("overwrite").parquet(path)
        import pytest as _pt
        with _pt.raises(Exception):
            footer_stats(spark, path, ["s"])
