"""Data-profiling operators (operators/profile.py)."""

import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.profile import column_profile, numeric_histogram


@pytest.fixture
def frame(spark):
    return spark.createDataFrame(
        [(1, "a", 2.0), (2, "a", None), (3, "b", 8.0), (4, None, 4.0),
         (5, "a", 6.0)],
        "id long, cat string, x double")


def test_column_profile_tallies_and_top(frame):
    got = {r["column"]: r for r in column_profile(frame, ["cat", "x"], top_k=2).collect()}
    c = got["cat"]
    assert (c["n_rows"], c["n_null"], c["n_distinct"]) == (5, 1, 2)
    assert [(tv["value"], tv["n"]) for tv in c["top_values"]] == [("a", 3), ("b", 1)]
    x = got["x"]
    assert (x["n_rows"], x["n_null"], x["n_distinct"]) == (5, 1, 4)
    # count ties break value-ascending (string order) — deterministic
    assert [(tv["value"], tv["n"]) for tv in x["top_values"]] == [("2.0", 1), ("4.0", 1)]
    # default: every column, including the key itself
    assert {r["column"] for r in column_profile(frame).collect()} == {"id", "cat", "x"}
    with pytest.raises(KeyError, match="nope"):
        column_profile(frame, ["nope"])
    with pytest.raises(ValueError, match="no columns"):
        column_profile(frame, [])


def test_numeric_histogram_edges_and_empty_buckets(spark, frame):
    rows = numeric_histogram(frame, ["x"], bins=3).collect()
    assert [(r["bucket"], r["lo"], r["hi"], r["n"]) for r in rows] == [
        (0, 2.0, 4.0, 1),   # 2.0
        (1, 4.0, 6.0, 1),   # 4.0
        (2, 6.0, 8.0, 2),   # 6.0 and the max 8.0 (top edge inclusive)
    ]
    # empty buckets materialize with n=0
    sparse = spark.createDataFrame([(0.0,), (10.0,)], "x double")
    got = {r["bucket"]: r["n"] for r in numeric_histogram(sparse, ["x"], bins=5).collect()}
    assert got == {0: 1, 1: 0, 2: 0, 3: 0, 4: 1}
    # constant and all-null columns keep the bins-rows contract
    const = spark.createDataFrame([(7.0,), (7.0,), (None,)], "x double")
    crows = numeric_histogram(const, ["x"], bins=4).collect()
    assert [r["n"] for r in crows] == [2, 0, 0, 0]
    assert all(r["lo"] == 7.0 and r["hi"] == 7.0 for r in crows)
    nul = spark.createDataFrame([(None,)], "x double")
    assert [r["n"] for r in numeric_histogram(nul, ["x"], bins=2).collect()] == [0, 0]
    with pytest.raises(ValueError, match="bins"):
        numeric_histogram(frame, ["x"], bins=0)
    with pytest.raises(KeyError, match="nope"):
        numeric_histogram(frame, ["nope"])


def test_validate_rules_counts(spark):
    from bid_evaluation_ext.operators.profile import validate_rules

    df = spark.createDataFrame(
        [(1, "en", 10), (2, "en", -5), (2, "xx", 10), (4, None, 2000),
         (5, "de", None)],
        "id long, lang string, n long")
    out = {r["rule"]: (r["n_violations"], r["n_checked"])
           for r in validate_rules(df, [
               {"kind": "not_null", "column": "lang"},
               {"kind": "unique", "column": "id"},
               {"kind": "accepted_values", "column": "lang",
                "values": ["en", "de"]},
               {"kind": "range", "column": "n", "min": 0, "max": 1000},
               {"kind": "regex", "column": "lang", "pattern": "[a-z]{2}"},
               {"kind": "range", "column": "n", "min": 0,
                "name": "n_nonneg"},
           ]).collect()}
    assert out["not_null_lang"] == (1, 5)
    assert out["unique_id"] == (1, 5)          # id=2 twice -> 1 extra row
    assert out["accepted_values_lang"] == (1, 4)  # 'xx'; null not checked
    assert out["range_n"] == (2, 4)            # -5 and 2000; null skipped
    assert out["regex_lang"] == (0, 4)
    assert out["n_nonneg"] == (1, 4)           # only the min bound


def test_validate_rules_contract_errors(spark):
    import pytest
    from bid_evaluation_ext.operators.profile import validate_rules

    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="non-empty"):
        validate_rules(df, [])
    with pytest.raises(ValueError, match="unknown kind"):
        validate_rules(df, [{"kind": "nope", "column": "id"}])
    with pytest.raises(ValueError, match="missing 'column'"):
        validate_rules(df, [{"kind": "not_null"}])
    with pytest.raises(ValueError, match="values"):
        validate_rules(df, [{"kind": "accepted_values", "column": "id"}])
    with pytest.raises(ValueError, match="min and/or max"):
        validate_rules(df, [{"kind": "range", "column": "id"}])


def test_key_skew_report(spark):
    from bid_evaluation_ext.operators.profile import key_skew_report

    rows = ([("hot",)] * 80 + [("warm",)] * 15 + [(None,)] * 4 + [("cold",)])
    df = spark.createDataFrame(rows, "k string")
    got = key_skew_report(df, "k", top_k=3, target_rows_per_task=10).collect()
    assert [r["k"] for r in got] == ["hot", "warm", None]
    hot = got[0]
    assert hot["key_rows"] == 80
    assert hot["share"] == pytest.approx(0.8)
    # uniform key would have 100/4 = 25 rows -> ratio 3.2; salt ceil(80/10)=8
    assert hot["skew_ratio"] == pytest.approx(3.2)
    assert hot["salt_factor"] == 8
    assert got[2]["key_rows"] == 4   # null keys are a real (reported) key


class TestCorrelationMatrix:
    def test_matches_numpy(self, spark):
        import numpy as np

        from bid_evaluation_ext.operators.profile import correlation_matrix

        rng = np.random.RandomState(4)
        a = rng.normal(0, 1, 200)
        b = 2 * a + rng.normal(0, 0.5, 200)   # strongly correlated
        c = rng.normal(0, 1, 200)             # independent
        df = spark.createDataFrame(
            [(float(x), float(y), float(z)) for x, y, z in zip(a, b, c)],
            "a double, b double, c double")
        got = {(r["col_a"], r["col_b"]): r["r"]
               for r in correlation_matrix(df, ["a", "b", "c"]).collect()}
        want = np.corrcoef(np.vstack([a, b, c]))
        assert got[("a", "b")] == pytest.approx(want[0, 1], abs=1e-9)
        assert got[("a", "c")] == pytest.approx(want[0, 2], abs=1e-9)
        assert got[("b", "c")] == pytest.approx(want[1, 2], abs=1e-9)
        assert got[("a", "b")] > 0.9 and abs(got[("a", "c")]) < 0.3

    def test_constant_column_null_and_listwise(self, spark):
        from bid_evaluation_ext.operators.profile import correlation_matrix

        df = spark.createDataFrame(
            [(1.0, 5.0, 1.0), (2.0, 5.0, None), (3.0, 5.0, 3.0)],
            "x double, k double, z double")
        rows = {(r["col_a"], r["col_b"]): r
                for r in correlation_matrix(df, ["x", "k", "z"]).collect()}
        assert rows[("k", "x")]["r"] is None      # constant column
        assert rows[("x", "z")]["n"] == 2         # listwise null drop
        assert rows[("x", "z")]["r"] == pytest.approx(1.0)
        import pytest as _pt
        with _pt.raises(ValueError):
            correlation_matrix(df, ["x"])


class TestTableFingerprint:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "id long, v string")

    def test_identical_tables_no_diff(self, spark):
        from bid_evaluation_ext.operators.profile import (
            fingerprint_diff, table_fingerprint)

        a = self._df(spark, [(i, f"v{i}") for i in range(100)])
        fa = table_fingerprint(a, buckets=16)
        fb = table_fingerprint(self._df(spark,
                                        [(i, f"v{i}")
                                         for i in reversed(range(100))]),
                               buckets=16)
        assert fingerprint_diff(fa, fb).count() == 0  # order-insensitive

    def test_single_row_change_localizes(self, spark):
        from bid_evaluation_ext.operators.profile import (
            fingerprint_diff, table_fingerprint)

        a = self._df(spark, [(i, f"v{i}") for i in range(100)])
        rows = [(i, f"v{i}") for i in range(100)]
        rows[42] = (42, "CHANGED")
        b = self._df(spark, rows)
        diff = fingerprint_diff(table_fingerprint(a, buckets=16),
                                table_fingerprint(b, buckets=16)).collect()
        assert 1 <= len(diff) <= 2  # old row's bucket and/or new row's
        total = table_fingerprint(a, buckets=16)
        assert total.agg(F.sum("n_rows")).collect()[0][0] == 100

    def test_null_vs_literal_null_string_differ(self, spark):
        from bid_evaluation_ext.operators.profile import (
            fingerprint_diff, table_fingerprint)

        a = self._df(spark, [(1, None)])
        b = self._df(spark, [(1, "null")])
        assert fingerprint_diff(table_fingerprint(a),
                                table_fingerprint(b)).count() > 0
        import pytest as _pt
        with _pt.raises(ValueError):
            table_fingerprint(a, buckets=0)
        with _pt.raises(ValueError):
            table_fingerprint(a, cols=[])


class TestBenford:
    def test_benford_sample_fits_and_uniform_fails(self, spark):
        import numpy as np

        from bid_evaluation_ext.operators.profile import benford_deviation

        rng = np.random.RandomState(5)
        # log-uniform values follow Benford; uniform values don't
        benford_vals = 10 ** rng.uniform(0, 5, 4000)
        uniform_vals = rng.uniform(100, 1000, 4000)
        b = spark.createDataFrame([(float(v),) for v in benford_vals],
                                  "v double")
        u = spark.createDataFrame([(float(v),) for v in uniform_vals],
                                  "v double")
        chi_b = sum(r["chi2_term"]
                    for r in benford_deviation(b, "v").collect())
        chi_u = sum(r["chi2_term"]
                    for r in benford_deviation(u, "v").collect())
        assert chi_b < 30          # consistent with Benford
        assert chi_u > 500         # wildly off

    def test_digit_extraction_and_exclusions(self, spark):
        from bid_evaluation_ext.operators.profile import benford_deviation

        df = spark.createDataFrame(
            [(912.34,), (0.07,), (-70.0,), (0.0,), (None,)], "v double")
        out = {r["digit"]: r["n"] for r in
               benford_deviation(df, "v").collect()}
        assert out[9] == 1   # 912.34 -> 91234
        assert out[7] == 2   # 0.07 -> 7 ; -70.0 -> 7000
        assert sum(out.values()) == 3  # zero/null excluded
        shares = {r["digit"]: r["expected_share"] for r in
                  benford_deviation(df, "v").collect()}
        import math
        assert shares[1] == pytest.approx(math.log10(2))
