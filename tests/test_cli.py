"""Headless CLI (cli.py): scoring runs and format errors, session injected."""

import json

import pytest

from bid_evaluation_spark.cli import main


def test_cli_scoring_run(spark, tmp_path):
    cfg = tmp_path / "criteria.json"
    cfg.write_text(json.dumps({"criteria": {
        "s_acctbal": {"type": "linear", "weight": 0.7},
        "s_suppkey": {"type": "linear", "weight": 0.3,
                      "higher_is_better": False},
    }}))
    out = tmp_path / "scored.parquet"
    rc = main(["--data", "/root/testdata/sf0.001/supplier.parquet",
               "--config", str(cfg), "--output", str(out)], spark=spark)
    assert rc == 0
    res = spark.read.parquet(str(out))
    assert {"final_score", "ranking"} < set(res.columns)
    assert res.count() == spark.read.parquet(
        "/root/testdata/sf0.001/supplier.parquet").count()


def test_cli_rejects_bad_formats(spark, tmp_path):
    with pytest.raises(SystemExit, match="unsupported input"):
        main(["--data", "x.txt", "--config", "c.yaml"], spark=spark)
    cfg = tmp_path / "c.toml"
    cfg.write_text("")
    with pytest.raises(SystemExit, match="unsupported config"):
        main(["--data", "/root/testdata/sf0.001/supplier.parquet",
              "--config", str(cfg)], spark=spark)
