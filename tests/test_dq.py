"""Data-quality audit: one-pass rule counts, referential integrity, and
stable-ID assignment vs the global row_number reference."""

import pytest

from pyspark.sql import functions as F

from bid_evaluation_ext.operators.dq import (DQRule, assign_stable_ids,
                                               dq_audit,
                                               referential_integrity)


@pytest.fixture
def messy(spark):
    rows = [
        (1, "a", 10.0, "ok"),
        (2, "b", -5.0, "ok"),       # min violation
        (2, "c", 200.0, "bad!"),    # dup id, max violation, regex violation
        (None, "a", 50.0, "ok"),    # null id; dup cat 'a'
    ]
    return spark.createDataFrame(
        rows, "id long, cat string, v double, status string")


def _report(df, rules):
    return {r["rule"]: r.asDict() for r in dq_audit(df, rules).collect()}


def test_one_pass_rule_counts(messy):
    rules = [
        DQRule("id", "not_null"),
        DQRule("id", "unique"),
        DQRule("v", "min", value=0.0),
        DQRule("v", "max", value=100.0),
        DQRule("status", "regex", pattern=r"^[a-z]+$"),
        DQRule("cat", "in_set", values=["a", "b", "c"]),
    ]
    rep = _report(messy, rules)
    assert rep["not_null_id"]["n_violations"] == 1
    # 4 rows, ids {1, 2, 2, null} -> distinct incl null = 3 -> 1 excess
    assert rep["unique_id"]["n_violations"] == 1
    assert rep["min_v"]["n_violations"] == 1
    assert rep["max_v"]["n_violations"] == 1
    assert rep["regex_status"]["n_violations"] == 1
    assert rep["in_set_cat"]["n_violations"] == 0
    assert rep["in_set_cat"]["ok"] is True
    assert rep["min_v"]["ok"] is False
    assert all(r["n_rows"] == 4 for r in rep.values())


def test_single_aggregate_plan(messy):
    rules = [DQRule("id", "not_null"), DQRule("v", "min", value=0.0),
             DQRule("id", "unique")]
    plan = dq_audit(messy, rules)._jdf.queryExecution() \
        .executedPlan().toString()
    # one scan, no join, no window — N rules share the aggregation pass
    assert "Join" not in plan
    assert "Window" not in plan


def test_rule_validation(messy):
    with pytest.raises(KeyError):
        dq_audit(messy, [DQRule("nope", "not_null")])
    with pytest.raises(ValueError):
        dq_audit(messy, [DQRule("id", "frobnicate")])


def test_empty_frame_zero_violations(spark, messy):
    empty = spark.createDataFrame([], messy.schema)
    rep = _report(empty, [DQRule("id", "unique"), DQRule("id", "not_null")])
    assert rep["unique_id"]["n_violations"] == 0
    assert rep["not_null_id"]["n_violations"] == 0


def test_referential_integrity(spark):
    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None)], "id long, fk long")
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    row = referential_integrity(child, parent, "fk", "pk").head()
    assert row["n_child"] == 4
    assert row["n_orphans"] == 1      # fk=99; null fk is not an orphan
    assert row["ok"] is False


def test_stable_ids_match_global_row_number(spark):
    import random
    rng = random.Random(17)
    keys = rng.sample(range(100000), 500)
    df = spark.createDataFrame([(k,) for k in keys], "k long") \
        .repartition(7)  # scrambled physical layout
    got = assign_stable_ids(df, ["k"], num_partitions=5)
    rows = got.orderBy("k").collect()
    want_map = {k: i for i, k in enumerate(sorted(keys))}
    assert all(r["stable_id"] == want_map[r["k"]] for r in rows)


def test_stable_ids_dense_and_unique(spark):
    df = spark.createDataFrame([(i * 3 % 97,) for i in range(97)], "k long")
    ids = [r["stable_id"]
           for r in assign_stable_ids(df, ["k"]).collect()]
    assert sorted(ids) == list(range(97))
