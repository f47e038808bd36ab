"""stats_bundle_df values on small inputs: per-column nulls, empty input
and a single row (sample std of one value is null)."""

from bid_evaluation_spark.plans.stats import stats_bundle_df


def _row(df, cols):
    return stats_bundle_df(df, cols).collect()[0].asDict()


def test_empty_single_and_allnull(spark):
    df = spark.createDataFrame([(1.5, None), (2.5, None)],
                               "a double, b double")
    r = _row(df, ["a", "b"])
    assert r["a__min"] == 1.5 and r["a__median"] == 2.0
    assert r["b__min"] is None and r["b__std"] is None
    empty = _row(df.limit(0), ["a"])
    assert all(v is None for v in empty.values())
    one = _row(spark.createDataFrame([(7.0,)], "a double"), ["a"])
    assert one["a__min"] == one["a__max"] == one["a__median"] == 7.0
    assert one["a__std"] is None
