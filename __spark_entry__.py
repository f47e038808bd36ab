"""Query registry of the scoring engine, with a DuckDB oracle per query.

``entry(spark)`` — flagship query (smoke, sf0.001).
``queries()``   — one entry per scoring operator from SURVEY.md §2; each
                  callable takes (spark, sf_dir) → DataFrame.
``oracle_sql()``— the DuckDB-equivalent ANSI SQL for every query
                  (``tools/check_oracle.py`` compares the two).

Query-key prefixes map to the SURVEY §2 inventory:
F1-F13 scalar scoring transforms, A1 statistics bundles, W1/W5 windows,
P4/P5 staged filters (inside ``staged_*``), J3 stats broadcast, O2 ordering
(inside ``staged_*``), batched evaluation (``batched_*``), S1 parquet source
(all queries).

All float outputs are rounded to 4 decimals ON BOTH SIDES so cross-engine
floating-point accumulation noise (~1e-12 relative) cannot flip the
value-hash; ranks/counts are BIGINT on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F


def _prep(spark: SparkSession) -> None:
    """Runtime session settings the engine depends on (the driver's session
    may not have them): pandas-parity arithmetic, UTC rendering, nanos
    timestamps read as long (converted by sources.io.load_table)."""
    for k, v in (
        ("spark.sql.ansi.enabled", "false"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.adaptive.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from bid_evaluation_spark.sources.io import load_table

    _prep(spark)
    return load_table(spark, sf_dir, name)


def _r4(col):
    """Round to 4 decimals via scale-multiply: round(x*1e4)/1e4.

    Spark's round(x, 4) rounds the double's SHORTEST DECIMAL REPR
    (BigDecimal.valueOf), while DuckDB rounds the binary value — they disagree
    whenever the shortest repr ends in a '5' at the 5th decimal. Scaling first
    makes both engines round the same integer-adjacent double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c.cast("double") * F.lit(10000.0)) / F.lit(10000.0)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: score suppliers on account balance + delivered volume.

    Broadcast joins (nation, per-supplier volume agg) + two linear criteria +
    weighted final + ranking — the reference's README quick-start re-expressed
    over TPC-H-ish tables (reference README.md:66-84)."""
    return _flagship(spark, "/root/testdata/sf0.001")


def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bid_evaluation_spark import Evaluator

    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    lineitem = _t(spark, sf_dir, "lineitem")

    vol = lineitem.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("volume")
    )
    base = (
        supplier.join(F.broadcast(nation),
                      supplier["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(vol), supplier["s_suppkey"] == vol["l_suppkey"], "left")
        .select("s_suppkey", "s_name", "n_name", "s_acctbal",
                F.coalesce("volume", F.lit(0)).alias("volume"))
    )
    result = (
        Evaluator()
        .linear("s_acctbal", 0.6)
        .linear("volume", 0.4)
        .evaluate(base)
    )
    return result.select(
        "s_suppkey", "s_name", "n_name",
        _r4("score_s_acctbal").alias("score_acctbal"),
        _r4("score_volume").alias("score_volume"),
        _r4("final_score").alias("final_score"),
        F.col("ranking"),
    )


_FLAGSHIP_SQL = """
WITH vol AS (
  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS volume
  FROM lineitem GROUP BY l_suppkey
),
base AS (
  SELECT s.s_suppkey, s.s_name, n.n_name, s.s_acctbal,
         coalesce(v.volume, 0) AS volume
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  LEFT JOIN vol v ON v.l_suppkey = s.s_suppkey
),
st AS (
  SELECT min(s_acctbal) amn, max(s_acctbal) amx,
         min(volume) vmn, max(volume) vmx
  FROM base
),
scored AS (
  SELECT b.*,
    (CASE WHEN amx = amn THEN 100.0 ELSE (s_acctbal - amn)/(amx - amn)*100.0 END) * 0.6 AS sa,
    (CASE WHEN vmx = vmn THEN 100.0 ELSE (volume - vmn)/(CAST(vmx AS DOUBLE) - vmn)*100.0 END) * 0.4 AS sv
  FROM base b CROSS JOIN st
)
SELECT s_suppkey, s_name, n_name,
       round((sa) * 10000.0) / 10000.0 AS score_acctbal,
       round((sv) * 10000.0) / 10000.0 AS score_volume,
       round(((sa + sv) / 1.0) * 10000.0) / 10000.0 AS final_score,
       CAST(rank() OVER (ORDER BY (sa + sv) DESC) AS BIGINT) AS ranking
FROM scored
"""


# ---------------------------------------------------------------------------
# F1-F4: core criterion transforms
# ---------------------------------------------------------------------------

def _q_f1_linear_supplier(spark, sf_dir):
    from bid_evaluation_spark import Evaluator

    df = _t(spark, sf_dir, "supplier")
    res = Evaluator().linear("s_acctbal", 0.4).evaluate(df)
    return res.select("s_suppkey", _r4("score_s_acctbal").alias("score"),
                      _r4("final_score").alias("final_score"), "ranking")


_SQL_F1_LINEAR_SUPPLIER = """
WITH st AS (SELECT min(s_acctbal) mn, max(s_acctbal) mx FROM supplier),
sc AS (
  SELECT s_suppkey,
    (CASE WHEN mx = mn THEN 100.0 ELSE (s_acctbal - mn)/(mx - mn)*100.0 END) * 0.4 AS w
  FROM supplier CROSS JOIN st
)
SELECT s_suppkey, round((w) * 10000.0) / 10000.0 AS score, round((w / 0.4) * 10000.0) / 10000.0 AS final_score,
       CAST(rank() OVER (ORDER BY w / 0.4 DESC) AS BIGINT) AS ranking
FROM sc
"""


def _q_f1_linear_lower_orders(spark, sf_dir):
    from bid_evaluation_spark import Evaluator

    df = _t(spark, sf_dir, "orders")
    res = Evaluator().linear("o_totalprice", 1.0, higher_is_better=False).evaluate(df)
    return res.select("o_orderkey", _r4("score_o_totalprice").alias("score"), "ranking")


_SQL_F1_LINEAR_LOWER_ORDERS = """
WITH st AS (SELECT min(o_totalprice) mn, max(o_totalprice) mx FROM orders),
sc AS (
  SELECT o_orderkey,
    CASE WHEN mx = mn THEN 100.0 ELSE (mx - o_totalprice)/(mx - mn)*100.0 END AS w
  FROM orders CROSS JOIN st
)
SELECT o_orderkey, round((w) * 10000.0) / 10000.0 AS score,
       CAST(rank() OVER (ORDER BY w DESC) AS BIGINT) AS ranking
FROM sc
"""


def _q_f2_threshold_part(spark, sf_dir):
    from bid_evaluation_spark import Evaluator

    df = _t(spark, sf_dir, "part")
    res = Evaluator().threshold(
        "p_size", 0.5, [(0, 10, 40.0), (10, 25, 70.0), (25, 1e9, 100.0)]
    ).evaluate(df)
    return res.select("p_partkey", _r4("score_p_size").alias("score"), "ranking")


_SQL_F2_THRESHOLD_PART = """
WITH sc AS (
  SELECT p_partkey,
    (CASE WHEN p_size >= 25 AND p_size < 1e9 THEN 100.0
          WHEN p_size >= 10 AND p_size < 25 THEN 70.0
          WHEN p_size >= 0  AND p_size < 10 THEN 40.0
          ELSE 0.0 END)::DOUBLE * 0.5 AS w
  FROM part
)
SELECT p_partkey, CAST(round((w) * 10000.0) / 10000.0 AS DOUBLE) AS score,
       CAST(rank() OVER (ORDER BY w / 0.5 DESC) AS BIGINT) AS ranking
FROM sc
"""


def _q_f3_direct_customer(spark, sf_dir):
    from bid_evaluation_spark import Evaluator

    df = _t(spark, sf_dir, "customer")
    res = Evaluator().direct("c_acctbal", 0.3, input_scale=10000).evaluate(df)
    return res.select("c_custkey", _r4("score_c_acctbal").alias("score"), "ranking")


_SQL_F3_DIRECT_CUSTOMER = """
WITH sc AS (SELECT c_custkey, c_acctbal * (100.0::DOUBLE/10000.0::DOUBLE) * 0.3::DOUBLE AS w FROM customer)
SELECT c_custkey, round((w) * 10000.0) / 10000.0 AS score,
       CAST(rank() OVER (ORDER BY w / 0.3 DESC) AS BIGINT) AS ranking
FROM sc
"""


def _q_f4_min_ratio_part(spark, sf_dir):
    from bid_evaluation_spark import Evaluator

    df = _t(spark, sf_dir, "part")
    res = Evaluator().min_ratio("p_retailprice", 0.6).evaluate(df)
    return res.select("p_partkey", _r4("score_p_retailprice").alias("score"), "ranking")


_SQL_F4_MIN_RATIO_PART = """
WITH st AS (SELECT min(p_retailprice) mn FROM part),
sc AS (SELECT p_partkey, mn / p_retailprice * 100.0 * 0.6 AS w FROM part CROSS JOIN st)
SELECT p_partkey, round((w) * 10000.0) / 10000.0 AS score,
       CAST(rank() OVER (ORDER BY w / 0.6 DESC) AS BIGINT) AS ranking
FROM sc
"""


# ---------------------------------------------------------------------------
# F5: formula criterion (native translation)
# ---------------------------------------------------------------------------

def _q_f5_formula_part(spark, sf_dir):
    from bid_evaluation_spark import Evaluator

    df = _t(spark, sf_dir, "part")
    res = Evaluator().formula(
        "p_retailprice", 1.0, "(value - min) / (max - min) * 100"
    ).evaluate(df)
    return res.select("p_partkey", _r4("score_p_retailprice").alias("score"), "ranking")


_SQL_F5_FORMULA_PART = """
WITH st AS (SELECT min(p_retailprice) mn, max(p_retailprice) mx FROM part),
sc AS (
  SELECT p_partkey,
    least(greatest(coalesce((p_retailprice - mn)/(mx - mn)*100.0, 0.0), 0.0), 100.0) AS w
  FROM part CROSS JOIN st
)
SELECT p_partkey, round((w) * 10000.0) / 10000.0 AS score,
       CAST(rank() OVER (ORDER BY w DESC) AS BIGINT) AS ranking
FROM sc
"""


def _q_f5_formula_clip_events(spark, sf_dir):
    from bid_evaluation_spark import Evaluator

    df = _t(spark, sf_dir, "events")
    res = Evaluator().formula("value", 1.0, "clip(value * 10 - mean, 0, 100)").evaluate(df)
    return res.select("event_id", _r4("score_value").alias("score"), "ranking")


_SQL_F5_FORMULA_CLIP_EVENTS = """
WITH st AS (SELECT avg(value) m FROM events),
sc AS (
  SELECT event_id,
    coalesce(least(greatest(greatest(0.0, least(100.0, value * 10 - m)), 0.0), 100.0), 0.0) AS w
  FROM events CROSS JOIN st
)
SELECT event_id, round((w) * 10000.0) / 10000.0 AS score,
       CAST(rank() OVER (ORDER BY w DESC) AS BIGINT) AS ranking
FROM sc
"""


def _q_f5_formula_membership_part(spark, sf_dir):
    """Compound-type formula grammar, natively translated (formula.py:
    membership over a container literal → equality fold; max over a list
    literal → the multi-arg selection fold). The reference accepts these
    via simpleeval's EvalWithCompoundTypes (criteria.py:126); here they
    stay whole-stage-codegen Column expressions — no UDF."""
    from bid_evaluation_spark import Evaluator

    df = _t(spark, sf_dir, "part")
    res = Evaluator().formula(
        "p_size", 1.0,
        "75 if value in [min, max] else max([value, mean]) / max * 100"
    ).evaluate(df)
    return res.select("p_partkey", _r4("score_p_size").alias("score"),
                      "ranking")


_SQL_F5_FORMULA_MEMBERSHIP_PART = """
WITH st AS (SELECT CAST(min(p_size) AS DOUBLE) mn,
                   CAST(max(p_size) AS DOUBLE) mx,
                   avg(p_size) m FROM part),
sc AS (
  SELECT p_partkey,
    least(greatest(
      CASE WHEN p_size = mn OR p_size = mx THEN 75.0
           ELSE greatest(p_size, m) / mx * 100.0 END, 0.0), 100.0) AS w
  FROM part CROSS JOIN st
)
SELECT p_partkey, round((w) * 10000.0) / 10000.0 AS score,
       CAST(rank() OVER (ORDER BY w DESC) AS BIGINT) AS ranking
FROM sc
"""


# ---------------------------------------------------------------------------
# F7: built-in custom functions (native expressions)
# ---------------------------------------------------------------------------

def _q_f7_proximity_to_mean_customer(spark, sf_dir):
    from bid_evaluation_spark import Evaluator

    df = _t(spark, sf_dir, "customer")
    res = Evaluator().custom("c_acctbal", 1.0, "proximity_to_mean").evaluate(df)
    return res.select("c_custkey", _r4("score_c_acctbal").alias("score"), "ranking")


_SQL_F7_PROXIMITY_TO_MEAN_CUSTOMER = """
WITH st AS (SELECT avg(c_acctbal) m FROM customer),
sc AS (
  SELECT c_custkey, greatest(100.0 - abs((c_acctbal - m)/m)*100.0, 0.0) AS w
  FROM customer CROSS JOIN st
)
SELECT c_custkey, round((w) * 10000.0) / 10000.0 AS score,
       CAST(rank() OVER (ORDER BY w DESC) AS BIGINT) AS ranking
FROM sc
"""


def _q_f7_log_scale_part(spark, sf_dir):
    from bid_evaluation_spark import Evaluator

    df = _t(spark, sf_dir, "part")
    res = Evaluator().custom("p_retailprice", 1.0, "log_scale").evaluate(df)
    return res.select("p_partkey", _r4("score_p_retailprice").alias("score"), "ranking")


_SQL_F7_LOG_SCALE_PART = """
WITH st AS (SELECT max(p_retailprice) mx FROM part),
sc AS (
  SELECT p_partkey, ln(p_retailprice + 1.0)/ln(mx + 1.0)*100.0 AS w
  FROM part CROSS JOIN st
)
SELECT p_partkey, round((w) * 10000.0) / 10000.0 AS score,
       CAST(rank() OVER (ORDER BY w DESC) AS BIGINT) AS ranking
FROM sc
"""


def _q_f7_inverse_squared_supplier(spark, sf_dir):
    from bid_evaluation_spark import Evaluator

    df = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 0)
    res = Evaluator().custom("s_acctbal", 1.0, "inverse_squared").evaluate(df)
    return res.select("s_suppkey", _r4("score_s_acctbal").alias("score"), "ranking")


_SQL_F7_INVERSE_SQUARED_SUPPLIER = """
WITH base AS (SELECT * FROM supplier WHERE s_acctbal > 0),
st AS (SELECT min(s_acctbal) mn FROM base),
sc AS (
  SELECT s_suppkey, power(mn / s_acctbal, 2) * 100.0 AS w
  FROM base CROSS JOIN st
)
SELECT s_suppkey, round((w) * 10000.0) / 10000.0 AS score,
       CAST(rank() OVER (ORDER BY w DESC) AS BIGINT) AS ranking
FROM sc
"""


# ---------------------------------------------------------------------------
# F8-F13: scoring templates
# ---------------------------------------------------------------------------

def _q_f8_budget_proximity_orders(spark, sf_dir):
    from bid_evaluation_spark import Evaluator

    df = _t(spark, sf_dir, "orders")
    res = Evaluator().template("o_totalprice", 1.0, "budget_proximity",
                               target=150000).evaluate(df)
    return res.select("o_orderkey", _r4("score_o_totalprice").alias("score"), "ranking")


_SQL_F8_BUDGET_PROXIMITY_ORDERS = """
WITH sc AS (
  SELECT o_orderkey,
    least(greatest((1.0 - abs(o_totalprice - 150000.0)/150000.0)*100.0, 0.0), 100.0) AS w
  FROM orders
)
SELECT o_orderkey, round((w) * 10000.0) / 10000.0 AS score,
       CAST(rank() OVER (ORDER BY w DESC) AS BIGINT) AS ranking
FROM sc
"""


def _q_f9_sweet_spot_part(spark, sf_dir):
    from bid_evaluation_spark import Evaluator

    df = _t(spark, sf_dir, "part")
    res = Evaluator().template("p_size", 1.0, "sweet_spot_range",
                               min_ideal=10, max_ideal=30).evaluate(df)
    return res.select("p_partkey", _r4("score_p_size").alias("score"), "ranking")


_SQL_F9_SWEET_SPOT_PART = """
WITH sc AS (
  SELECT p_partkey,
    CASE WHEN p_size < 10.0 THEN least(greatest(100.0 - (10.0 - p_size)/10.0*100.0, 0.0), 100.0)
         WHEN p_size > 30.0 THEN least(greatest(100.0 - (p_size - 30.0)/30.0*100.0, 0.0), 100.0)
         ELSE 100.0 END::DOUBLE AS w
  FROM part
)
SELECT p_partkey, CAST(round((w) * 10000.0) / 10000.0 AS DOUBLE) AS score,
       CAST(rank() OVER (ORDER BY w DESC) AS BIGINT) AS ranking
FROM sc
"""


def _q_f10_penalty_orders(spark, sf_dir):
    from bid_evaluation_spark import Evaluator

    df = _t(spark, sf_dir, "orders")
    res = Evaluator().template("o_totalprice", 1.0, "penalty_function",
                               base_score=100, threshold=100000,
                               penalty_per_unit=0.0005).evaluate(df)
    return res.select("o_orderkey", _r4("score_o_totalprice").alias("score"), "ranking")


_SQL_F10_PENALTY_ORDERS = """
WITH sc AS (
  SELECT o_orderkey,
    least(greatest(CASE WHEN o_totalprice > 100000.0
                        THEN 100.0::DOUBLE - (o_totalprice - 100000.0::DOUBLE)*0.0005::DOUBLE
                        ELSE 100.0::DOUBLE END, 0.0::DOUBLE), 100.0::DOUBLE) AS w
  FROM orders
)
SELECT o_orderkey, round((w) * 10000.0) / 10000.0 AS score,
       CAST(rank() OVER (ORDER BY w DESC) AS BIGINT) AS ranking
FROM sc
"""


def _q_f11_bonus_tiers_part(spark, sf_dir):
    from bid_evaluation_spark import Evaluator

    df = _t(spark, sf_dir, "part")
    res = Evaluator().template("p_size", 1.0, "bonus_tiers", base_score=40,
                               tier1_threshold=15, tier1_bonus=25,
                               tier2_threshold=35, tier2_bonus=30).evaluate(df)
    return res.select("p_partkey", _r4("score_p_size").alias("score"), "ranking")


_SQL_F11_BONUS_TIERS_PART = """
WITH sc AS (
  SELECT p_partkey,
    least(greatest(40.0
      + CASE WHEN p_size >= 15.0 THEN 25.0 ELSE 0.0 END
      + CASE WHEN p_size >= 35.0 THEN 30.0 ELSE 0.0 END, 0.0), 100.0)::DOUBLE AS w
  FROM part
)
SELECT p_partkey, CAST(round((w) * 10000.0) / 10000.0 AS DOUBLE) AS score,
       CAST(rank() OVER (ORDER BY w DESC) AS BIGINT) AS ranking
FROM sc
"""


def _q_f12_percentage_of_best_supplier(spark, sf_dir):
    from bid_evaluation_spark import Evaluator

    df = _t(spark, sf_dir, "supplier")
    res = Evaluator().template("s_acctbal", 1.0, "percentage_of_best").evaluate(df)
    return res.select("s_suppkey", _r4("score_s_acctbal").alias("score"), "ranking")


_SQL_F12_PERCENTAGE_OF_BEST_SUPPLIER = """
WITH st AS (SELECT max(s_acctbal) mx FROM supplier),
sc AS (
  SELECT s_suppkey, least(greatest(s_acctbal / mx * 100.0, 0.0), 100.0) AS w
  FROM supplier CROSS JOIN st
)
SELECT s_suppkey, round((w) * 10000.0) / 10000.0 AS score,
       CAST(rank() OVER (ORDER BY w DESC) AS BIGINT) AS ranking
FROM sc
"""


def _q_f13_distance_from_mean_customer(spark, sf_dir):
    from bid_evaluation_spark import Evaluator

    df = _t(spark, sf_dir, "customer")
    res = Evaluator().template("c_acctbal", 1.0, "distance_from_mean").evaluate(df)
    return res.select("c_custkey", _r4("score_c_acctbal").alias("score"), "ranking")


_SQL_F13_DISTANCE_FROM_MEAN_CUSTOMER = """
WITH st AS (SELECT avg(c_acctbal) m, stddev_samp(c_acctbal) s FROM customer),
sc AS (
  SELECT c_custkey,
    CASE WHEN s IS NULL OR s = 0 THEN 100.0
         ELSE least(greatest(((c_acctbal - m)/s + 3.0)/6.0*100.0, 0.0), 100.0) END AS w
  FROM customer CROSS JOIN st
)
SELECT c_custkey, round((w) * 10000.0) / 10000.0 AS score,
       CAST(rank() OVER (ORDER BY w DESC) AS BIGINT) AS ranking
FROM sc
"""


# ---------------------------------------------------------------------------
# A1/J3: statistics bundle & stats broadcast
# ---------------------------------------------------------------------------

def _q_a1_stats_bundle_lineitem(spark, sf_dir):
    from bid_evaluation_spark.plans.stats import stats_bundle_df

    df = _t(spark, sf_dir, "lineitem")
    bundle = stats_bundle_df(df, ["l_extendedprice", "l_quantity"])
    return bundle.select(*[
        _r4(f"{c}__{k}").alias(f"{a}_{k}")
        for c, a in (("l_extendedprice", "ep"), ("l_quantity", "qty"))
        for k in ("min", "max", "mean", "median", "std", "q25", "q75")
    ])


_SQL_A1_STATS_BUNDLE_LINEITEM = """
SELECT
  round((min(l_extendedprice)) * 10000.0) / 10000.0 AS ep_min,
  round((max(l_extendedprice)) * 10000.0) / 10000.0 AS ep_max,
  round((avg(l_extendedprice)) * 10000.0) / 10000.0 AS ep_mean,
  round((quantile_cont(l_extendedprice, 0.5)) * 10000.0) / 10000.0 AS ep_median,
  round((stddev_samp(l_extendedprice)) * 10000.0) / 10000.0 AS ep_std,
  round((quantile_cont(l_extendedprice, 0.25)) * 10000.0) / 10000.0 AS ep_q25,
  round((quantile_cont(l_extendedprice, 0.75)) * 10000.0) / 10000.0 AS ep_q75,
  round((min(l_quantity)) * 10000.0) / 10000.0 AS qty_min,
  round((max(l_quantity)) * 10000.0) / 10000.0 AS qty_max,
  round((avg(l_quantity)) * 10000.0) / 10000.0 AS qty_mean,
  round((quantile_cont(l_quantity, 0.5)) * 10000.0) / 10000.0 AS qty_median,
  round((stddev_samp(l_quantity)) * 10000.0) / 10000.0 AS qty_std,
  round((quantile_cont(l_quantity, 0.25)) * 10000.0) / 10000.0 AS qty_q25,
  round((quantile_cont(l_quantity, 0.75)) * 10000.0) / 10000.0 AS qty_q75
FROM lineitem
"""


def _q_j3_zscore_orders(spark, sf_dir):
    from bid_evaluation_spark.plans.stats import compute_stats

    df = _t(spark, sf_dir, "orders")
    st = compute_stats(df, ["o_totalprice"])["o_totalprice"]
    z = (F.col("o_totalprice") - F.lit(st["mean"])) / F.lit(st["std"])
    return df.select("o_orderkey", F.round(z, 4).alias("z"))


_SQL_J3_ZSCORE_ORDERS = """
WITH st AS (SELECT avg(o_totalprice) m, stddev_samp(o_totalprice) s FROM orders)
SELECT o_orderkey, round(((o_totalprice - m)/s) * 10000.0) / 10000.0 AS z
FROM orders CROSS JOIN st
"""


# ---------------------------------------------------------------------------
# W1/W5: full evaluation + ranking, winner pick
# ---------------------------------------------------------------------------

def _q_w1_eval_rank_part(spark, sf_dir):
    from bid_evaluation_spark import Evaluator

    df = _t(spark, sf_dir, "part")
    res = (
        Evaluator()
        .linear("p_retailprice", 0.4, higher_is_better=False)
        .threshold("p_size", 0.6, [(0, 10, 40.0), (10, 25, 70.0), (25, 1e9, 100.0)])
        .evaluate(df)
    )
    return res.select(
        "p_partkey",
        _r4("score_p_retailprice").alias("score_price"),
        _r4("score_p_size").alias("score_size"),
        _r4("final_score").alias("final_score"),
        "ranking",
    )


_SQL_W1_EVAL_RANK_PART = """
WITH st AS (SELECT min(p_retailprice) mn, max(p_retailprice) mx FROM part),
sc AS (
  SELECT p_partkey,
    (CASE WHEN mx = mn THEN 100.0 ELSE (mx - p_retailprice)/(mx - mn)*100.0 END) * 0.4 AS sp,
    (CASE WHEN p_size >= 25 AND p_size < 1e9 THEN 100.0
          WHEN p_size >= 10 AND p_size < 25 THEN 70.0
          WHEN p_size >= 0  AND p_size < 10 THEN 40.0
          ELSE 0.0 END)::DOUBLE * 0.6 AS ss
  FROM part CROSS JOIN st
)
SELECT p_partkey, round((sp) * 10000.0) / 10000.0 AS score_price, CAST(round((ss) * 10000.0) / 10000.0 AS DOUBLE) AS score_size,
       round((sp + ss) * 10000.0) / 10000.0 AS final_score,
       CAST(rank() OVER (ORDER BY (sp + ss) DESC) AS BIGINT) AS ranking
FROM sc
"""


def _q_w1_eval_rank_unnorm_part(spark, sf_dir):
    from bid_evaluation_spark import Evaluator

    df = _t(spark, sf_dir, "part")
    res = (
        Evaluator(normalize_weights=False)
        .linear("p_retailprice", 60.0)
        .min_ratio("p_size", 40.0)
        .evaluate(df)
    )
    return res.select("p_partkey", _r4("final_score").alias("final_score"), "ranking")


_SQL_W1_EVAL_RANK_UNNORM_PART = """
WITH st AS (SELECT min(p_retailprice) mn, max(p_retailprice) mx,
                   min(p_size) smn FROM part),
sc AS (
  SELECT p_partkey,
    (CASE WHEN mx = mn THEN 100.0 ELSE (p_retailprice - mn)/(mx - mn)*100.0 END) * 60.0
    + (CAST(smn AS DOUBLE) / p_size * 100.0) * 40.0 AS fs
  FROM part CROSS JOIN st
)
SELECT p_partkey, round((fs) * 10000.0) / 10000.0 AS final_score,
       CAST(rank() OVER (ORDER BY fs DESC) AS BIGINT) AS ranking
FROM sc
"""


def _q_w5_winner_part(spark, sf_dir):
    from bid_evaluation_spark import Evaluator

    df = _t(spark, sf_dir, "part")
    res = Evaluator().template("p_retailprice", 1.0, "percentage_of_best").evaluate(df)
    return (
        res.orderBy("ranking", "p_partkey")
        .limit(1)
        .select("p_partkey", _r4("final_score").alias("final_score"))
    )


_SQL_W5_WINNER_PART = """
WITH st AS (SELECT max(p_retailprice) mx FROM part),
sc AS (
  SELECT p_partkey, least(greatest(p_retailprice / mx * 100.0, 0.0), 100.0) AS w
  FROM part CROSS JOIN st
)
SELECT p_partkey, round((w / 1.0) * 10000.0) / 10000.0 AS final_score
FROM sc ORDER BY w DESC, p_partkey LIMIT 1
"""


# ---------------------------------------------------------------------------
# Staged pipelines (P4/P5 filters, W2/W3/W4 windows, O2 ordering)
# ---------------------------------------------------------------------------

def _q_staged_threshold_orders(spark, sf_dir):
    from bid_evaluation_spark import StagedEvaluator

    df = _t(spark, sf_dir, "orders")
    st = (
        StagedEvaluator()
        .add_stage("Screening", filter_type="score_threshold", threshold=40)
        .linear("o_totalprice", 1.0, higher_is_better=False)
        .add_stage("Value")
        .min_ratio("o_totalprice", 1.0)
    )
    res = st.evaluate(df)
    out = res.select(
        "o_orderkey",
        _r4("screening_score").alias("screening_score"),
        F.col("screening_ranking"),
        _r4("value_score").alias("value_score"),
        F.col("value_ranking"),
        "eliminated_at_stage",
        _r4("final_score").alias("final_score"),
        "ranking",
    )
    return out


_SQL_STAGED_THRESHOLD_ORDERS = """
WITH s1stats AS (SELECT min(o_totalprice) mn, max(o_totalprice) mx FROM orders),
s1 AS (
  SELECT o.*, CASE WHEN mx = mn THEN 100.0
                   ELSE (mx - o_totalprice)/(mx - mn)*100.0 END AS screening_score
  FROM orders o CROSS JOIN s1stats
),
s1r AS (
  SELECT *, CAST(rank() OVER (ORDER BY screening_score DESC) AS BIGINT) AS screening_ranking
  FROM s1
),
e AS (
  SELECT *, CASE WHEN screening_score < 40.0 THEN 'Screening' END AS eliminated_at_stage
  FROM s1r
),
s2stats AS (SELECT min(o_totalprice) mn2 FROM e WHERE eliminated_at_stage IS NULL),
s2 AS (
  SELECT e.*, CASE WHEN eliminated_at_stage IS NULL
                   THEN mn2 / o_totalprice * 100.0 END AS value_score
  FROM e CROSS JOIN s2stats
),
s2r AS (
  SELECT *, CASE WHEN eliminated_at_stage IS NULL THEN
    CAST(rank() OVER (PARTITION BY (eliminated_at_stage IS NULL)
                      ORDER BY value_score DESC) AS BIGINT) END AS value_ranking
  FROM s2
)
SELECT o_orderkey, round((screening_score) * 10000.0) / 10000.0 AS screening_score, screening_ranking,
       round((value_score) * 10000.0) / 10000.0 AS value_score, value_ranking, eliminated_at_stage,
       round((value_score) * 10000.0) / 10000.0 AS final_score, value_ranking AS ranking
FROM s2r
"""


def _q_staged_batched_orders(spark, sf_dir):
    """Batched staged pipeline: every o_orderpriority batch runs the same
    two-stage screen→value pipeline in ONE job — per-batch survivor stats via
    grouped agg + broadcast join, all windows partitioned by the batch key
    (no global exchange, driver loop per stage not per batch)."""
    from bid_evaluation_spark import StagedEvaluator

    df = _t(spark, sf_dir, "orders")
    st = (
        StagedEvaluator()
        .add_stage("Screening", filter_type="score_threshold", threshold=40)
        .linear("o_totalprice", 1.0, higher_is_better=False)
        .add_stage("Value")
        .min_ratio("o_totalprice", 1.0)
    )
    res = st.evaluate_batched(df, "o_orderpriority")
    return res.select(
        "o_orderkey", "o_orderpriority",
        _r4("screening_score").alias("screening_score"),
        F.col("screening_ranking"),
        _r4("value_score").alias("value_score"),
        "eliminated_at_stage",
        _r4("final_score").alias("final_score"),
        "ranking",
    )


_SQL_STAGED_BATCHED_ORDERS = """
WITH s1stats AS (
  SELECT o_orderpriority p1, min(o_totalprice) mn, max(o_totalprice) mx
  FROM orders GROUP BY 1
),
s1 AS (
  SELECT o.*, CASE WHEN mx = mn THEN 100.0
                   ELSE (mx - o_totalprice)/(mx - mn)*100.0 END AS screening_score
  FROM orders o JOIN s1stats ON o_orderpriority = p1
),
s1r AS (
  SELECT *, CAST(rank() OVER (PARTITION BY o_orderpriority
                              ORDER BY screening_score DESC) AS BIGINT)
            AS screening_ranking
  FROM s1
),
e AS (
  SELECT *, CASE WHEN screening_score < 40.0 THEN 'Screening' END AS eliminated_at_stage
  FROM s1r
),
s2stats AS (
  SELECT o_orderpriority p2, min(o_totalprice) mn2 FROM e
  WHERE eliminated_at_stage IS NULL GROUP BY 1
),
s2 AS (
  SELECT e.*, CASE WHEN eliminated_at_stage IS NULL
                   THEN mn2 / o_totalprice * 100.0 END AS value_score
  FROM e LEFT JOIN s2stats ON o_orderpriority = p2
),
s2r AS (
  SELECT *, CASE WHEN eliminated_at_stage IS NULL THEN
    CAST(rank() OVER (PARTITION BY o_orderpriority, (eliminated_at_stage IS NULL)
                      ORDER BY value_score DESC) AS BIGINT) END AS ranking
  FROM s2
)
SELECT o_orderkey, o_orderpriority,
       round((screening_score) * 10000.0) / 10000.0 AS screening_score, screening_ranking,
       round((value_score) * 10000.0) / 10000.0 AS value_score, eliminated_at_stage,
       round((value_score) * 10000.0) / 10000.0 AS final_score, ranking
FROM s2r
"""


def _q_staged_topn_customer(spark, sf_dir):
    from bid_evaluation_spark import StagedEvaluator

    df = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    st = (
        StagedEvaluator(final_score_mode="weighted_combination")
        .add_stage("Technical", filter_type="top_n", top_n=100, weight=0.6)
        .direct("c_acctbal", 1.0, input_scale=10000)
        .add_stage("Economic", weight=0.4)
        .min_ratio("c_acctbal", 1.0)
    )
    res = st.evaluate(df)
    return res.select(
        "c_custkey",
        _r4("technical_score").alias("technical_score"),
        F.col("technical_ranking"),
        _r4("economic_score").alias("economic_score"),
        "eliminated_at_stage",
        _r4("final_score").alias("final_score"),
        "ranking",
    )


_SQL_STAGED_TOPN_CUSTOMER = """
WITH base AS (SELECT * FROM customer WHERE c_acctbal > 0),
s1 AS (SELECT b.*, c_acctbal * (100.0::DOUBLE/10000.0::DOUBLE) AS technical_score FROM base b),
s1r AS (
  SELECT *, CAST(rank() OVER (ORDER BY technical_score DESC) AS BIGINT) AS technical_ranking
  FROM s1
),
e AS (
  SELECT *, CASE WHEN technical_ranking > 100 THEN 'Technical' END AS eliminated_at_stage
  FROM s1r
),
s2stats AS (SELECT min(c_acctbal) mn2 FROM e WHERE eliminated_at_stage IS NULL),
s2 AS (
  SELECT e.*, CASE WHEN eliminated_at_stage IS NULL
                   THEN mn2 / c_acctbal * 100.0 END AS economic_score
  FROM e CROSS JOIN s2stats
),
fin AS (
  SELECT *, coalesce(technical_score, 0)*0.6 + coalesce(economic_score, 0)*0.4 AS final_score
  FROM s2
)
SELECT c_custkey, round((technical_score) * 10000.0) / 10000.0 AS technical_score, technical_ranking,
       round((economic_score) * 10000.0) / 10000.0 AS economic_score, eliminated_at_stage,
       round((final_score) * 10000.0) / 10000.0 AS final_score,
       CASE WHEN eliminated_at_stage IS NULL THEN
         CAST(rank() OVER (PARTITION BY (eliminated_at_stage IS NULL)
                           ORDER BY final_score DESC) AS BIGINT) END AS ranking
FROM fin
"""


def _q_staged_topn_exclude_part(spark, sf_dir):
    from bid_evaluation_spark import StagedEvaluator

    df = _t(spark, sf_dir, "part")
    st = (
        StagedEvaluator()
        .add_stage("Screen", filter_type="top_n", top_n=500, on_tie="exclude")
        .direct("p_size", 1.0)
        .add_stage("Price")
        .min_ratio("p_retailprice", 1.0)
    )
    res = st.evaluate(df)
    return res.select(
        "p_partkey", _r4("screen_score").alias("screen_score"),
        "eliminated_at_stage", _r4("final_score").alias("final_score"), "ranking",
    )


_SQL_STAGED_TOPN_EXCLUDE_PART = """
WITH s1 AS (SELECT p.*, CAST(p_size AS DOUBLE) AS screen_score FROM part p),
s1r AS (
  SELECT *, row_number() OVER (ORDER BY screen_score DESC) AS rn,
            count(*) OVER () AS total
  FROM s1
),
cut AS (SELECT max(CASE WHEN rn = 500 THEN screen_score END) AS cutoff FROM s1r),
cnt AS (SELECT count(*) AS n_ge FROM s1r CROSS JOIN cut WHERE screen_score >= cutoff),
e AS (
  SELECT s.*, CASE
    WHEN s.total <= 500 THEN NULL
    WHEN c2.n_ge > 500 THEN (CASE WHEN s.screen_score > c.cutoff THEN NULL ELSE 'Screen' END)
    ELSE (CASE WHEN s.screen_score >= c.cutoff THEN NULL ELSE 'Screen' END)
    END AS eliminated_at_stage
  FROM s1r s CROSS JOIN cut c CROSS JOIN cnt c2
),
s2stats AS (SELECT min(p_retailprice) mn2 FROM e WHERE eliminated_at_stage IS NULL),
s2 AS (
  SELECT e.*, CASE WHEN eliminated_at_stage IS NULL
                   THEN mn2 / p_retailprice * 100.0 END AS price_score
  FROM e CROSS JOIN s2stats
)
SELECT p_partkey, round((screen_score) * 10000.0) / 10000.0 AS screen_score, eliminated_at_stage,
       round((price_score) * 10000.0) / 10000.0 AS final_score,
       CASE WHEN eliminated_at_stage IS NULL THEN
         CAST(rank() OVER (PARTITION BY (eliminated_at_stage IS NULL)
                           ORDER BY price_score DESC) AS BIGINT) END AS ranking
FROM s2
"""


# ---------------------------------------------------------------------------
# F6: custom pandas-UDF criterion; batched (many-tender) evaluation
# ---------------------------------------------------------------------------


def _q_f6_custom_udf_supplier(spark, sf_dir):
    """F6 CustomCriterion: user ``(values, stats) -> scores`` pandas function
    executed as an Arrow-vectorized pandas UDF with the collected stats dict
    (reference criteria.py:154-169) — spread-normalized distance from mean."""
    from bid_evaluation_spark import Evaluator

    df = _t(spark, sf_dir, "supplier")

    def bal_spread(values, stats):
        return (values - stats["mean"]).abs() / (stats["max"] - stats["min"]) * 100

    res = (
        Evaluator()
        .custom("s_acctbal", 0.8, bal_spread, name="bal_spread")
        .evaluate(df)
    )
    return res.select(
        "s_suppkey",
        _r4("score_bal_spread").alias("score_bal_spread"),
        _r4("final_score").alias("final_score"),
        F.col("ranking"),
    )


_SQL_F6_CUSTOM_UDF_SUPPLIER = """
WITH stats AS (
  SELECT avg(s_acctbal) AS mean, max(s_acctbal) AS mx, min(s_acctbal) AS mn
  FROM supplier
)
SELECT s_suppkey,
       round((abs(s_acctbal - mean) / (mx - mn) * 100 * 0.8) * 10000.0) / 10000.0
         AS score_bal_spread,
       round((abs(s_acctbal - mean) / (mx - mn) * 100) * 10000.0) / 10000.0
         AS final_score,
       CAST(rank() OVER (
         ORDER BY abs(s_acctbal - mean) / (mx - mn) * 100 DESC
       ) AS BIGINT) AS ranking
FROM supplier, stats
"""


def _q_batched_linear_orders(spark, sf_dir):
    """Many-tender scale path: ``evaluate_batched`` scores every
    o_orderpriority batch in ONE job — per-batch stats via one groupBy,
    broadcast-joined back, rank windows partitioned by the batch key
    (no global exchange, no driver loop)."""
    from bid_evaluation_spark import Evaluator

    df = _t(spark, sf_dir, "orders")
    res = (
        Evaluator()
        .linear("o_totalprice", 1.0, higher_is_better=False)
        .evaluate_batched(df, "o_orderpriority")
    )
    return res.select(
        "o_orderkey", "o_orderpriority",
        _r4("final_score").alias("final_score"),
        F.col("ranking"),
    )


_SQL_BATCHED_LINEAR_ORDERS = """
WITH stats AS (
  SELECT o_orderpriority AS p, min(o_totalprice) AS mn, max(o_totalprice) AS mx
  FROM orders GROUP BY 1
)
SELECT o_orderkey, o_orderpriority,
       round((CASE WHEN mx = mn THEN 100.0
                   ELSE (mx - o_totalprice) / (mx - mn) * 100 END) * 10000.0)
         / 10000.0 AS final_score,
       CAST(rank() OVER (
         PARTITION BY o_orderpriority
         ORDER BY (CASE WHEN mx = mn THEN 100.0
                        ELSE (mx - o_totalprice) / (mx - mn) * 100 END) DESC
       ) AS BIGINT) AS ranking
FROM orders JOIN stats ON o_orderpriority = p
"""


# ---------------------------------------------------------------------------
# A1: per-group and approximate statistics
# ---------------------------------------------------------------------------


def _q_a1_grouped_stats_orders(spark, sf_dir):
    """Per-group statistics bundle (plans/stats.py grouped_stats_df): the
    seven-stat reference bundle per order priority in ONE shuffle — the
    machinery behind batched evaluation's broadcast-stats join, here
    value-checked directly (batched_linear_orders only exercises it
    through the final scores). Exact percentile with a SHARED quantile
    buffer per column; stddev_samp = pandas ddof=1."""
    from bid_evaluation_spark.plans.stats import grouped_stats_df

    df = _t(spark, sf_dir, "orders")
    stats = grouped_stats_df(df, "o_orderpriority", ["o_totalprice"])
    return stats.select(
        "o_orderpriority",
        _r4("o_totalprice__min").alias("price_min"),
        _r4("o_totalprice__max").alias("price_max"),
        _r4("o_totalprice__mean").alias("price_mean"),
        _r4("o_totalprice__median").alias("price_median"),
        _r4("o_totalprice__std").alias("price_std"),
        _r4("o_totalprice__q25").alias("price_q25"),
        _r4("o_totalprice__q75").alias("price_q75"),
    )


_SQL_A1_GROUPED_STATS_ORDERS = """
SELECT o_orderpriority,
  round(min(o_totalprice) * 10000.0) / 10000.0 AS price_min,
  round(max(o_totalprice) * 10000.0) / 10000.0 AS price_max,
  round(avg(o_totalprice) * 10000.0) / 10000.0 AS price_mean,
  round(quantile_cont(o_totalprice, CAST(0.5 AS DOUBLE)) * 10000.0)
    / 10000.0 AS price_median,
  round(stddev_samp(o_totalprice) * 10000.0) / 10000.0 AS price_std,
  round(quantile_cont(o_totalprice, CAST(0.25 AS DOUBLE)) * 10000.0)
    / 10000.0 AS price_q25,
  round(quantile_cont(o_totalprice, CAST(0.75 AS DOUBLE)) * 10000.0)
    / 10000.0 AS price_q75
FROM orders GROUP BY o_orderpriority
"""


def _q_a1_approx_quantiles_lineitem(spark, sf_dir):
    """Sketch-based quantiles (percentile_approx — Greenwald-Khanna,
    the MERGEABLE O(1)-state 100-TB path the exact percentile buffer
    can't walk): per-returnflag p50/p95/p99 of extendedprice. At test
    scale the 1e6-accuracy buffer holds every value, so the sketch
    returns the exact lower order statistic and DuckDB's
    ``quantile_disc`` is a true value oracle — the query gates that
    the approx path is WIRED correctly (grouping, accuracy, element
    semantics), while SCALE.md documents the accuracy/state trade."""
    li = _t(spark, sf_dir, "lineitem")
    q = F.percentile_approx("l_extendedprice",
                            F.array(F.lit(0.5), F.lit(0.95),
                                    F.lit(0.99)),
                            F.lit(1_000_000))
    return (li.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"), q.alias("_q"))
            .select("l_returnflag", "n",
                    F.element_at("_q", 1).alias("p50"),
                    F.element_at("_q", 2).alias("p95"),
                    F.element_at("_q", 3).alias("p99")))


_SQL_A1_APPROX_QUANTILES_LINEITEM = """
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
       quantile_disc(l_extendedprice, 0.5) AS p50,
       quantile_disc(l_extendedprice, 0.95) AS p95,
       quantile_disc(l_extendedprice, 0.99) AS p99
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

_QUERIES: dict = {
    "flagship_supplier_scoring": (_flagship, _FLAGSHIP_SQL),
    "f1_linear_supplier": (_q_f1_linear_supplier, _SQL_F1_LINEAR_SUPPLIER),
    "f1_linear_lower_orders": (_q_f1_linear_lower_orders, _SQL_F1_LINEAR_LOWER_ORDERS),
    "f2_threshold_part": (_q_f2_threshold_part, _SQL_F2_THRESHOLD_PART),
    "f3_direct_customer": (_q_f3_direct_customer, _SQL_F3_DIRECT_CUSTOMER),
    "f4_min_ratio_part": (_q_f4_min_ratio_part, _SQL_F4_MIN_RATIO_PART),
    "f5_formula_part": (_q_f5_formula_part, _SQL_F5_FORMULA_PART),
    "f6_custom_udf_supplier": (_q_f6_custom_udf_supplier,
                               _SQL_F6_CUSTOM_UDF_SUPPLIER),
    "batched_linear_orders": (_q_batched_linear_orders,
                              _SQL_BATCHED_LINEAR_ORDERS),
    "f5_formula_clip_events": (_q_f5_formula_clip_events, _SQL_F5_FORMULA_CLIP_EVENTS),
    "f5_formula_membership_part": (_q_f5_formula_membership_part,
                                   _SQL_F5_FORMULA_MEMBERSHIP_PART),
    "f7_proximity_to_mean_customer": (_q_f7_proximity_to_mean_customer,
                                      _SQL_F7_PROXIMITY_TO_MEAN_CUSTOMER),
    "f7_log_scale_part": (_q_f7_log_scale_part, _SQL_F7_LOG_SCALE_PART),
    "f7_inverse_squared_supplier": (_q_f7_inverse_squared_supplier,
                                    _SQL_F7_INVERSE_SQUARED_SUPPLIER),
    "f8_budget_proximity_orders": (_q_f8_budget_proximity_orders,
                                   _SQL_F8_BUDGET_PROXIMITY_ORDERS),
    "f9_sweet_spot_part": (_q_f9_sweet_spot_part, _SQL_F9_SWEET_SPOT_PART),
    "f10_penalty_orders": (_q_f10_penalty_orders, _SQL_F10_PENALTY_ORDERS),
    "f11_bonus_tiers_part": (_q_f11_bonus_tiers_part, _SQL_F11_BONUS_TIERS_PART),
    "f12_percentage_of_best_supplier": (_q_f12_percentage_of_best_supplier,
                                        _SQL_F12_PERCENTAGE_OF_BEST_SUPPLIER),
    "f13_distance_from_mean_customer": (_q_f13_distance_from_mean_customer,
                                        _SQL_F13_DISTANCE_FROM_MEAN_CUSTOMER),
    "a1_stats_bundle_lineitem": (_q_a1_stats_bundle_lineitem,
                                 _SQL_A1_STATS_BUNDLE_LINEITEM),
    "j3_zscore_orders": (_q_j3_zscore_orders, _SQL_J3_ZSCORE_ORDERS),
    "w1_eval_rank_part": (_q_w1_eval_rank_part, _SQL_W1_EVAL_RANK_PART),
    "w1_eval_rank_unnorm_part": (_q_w1_eval_rank_unnorm_part,
                                 _SQL_W1_EVAL_RANK_UNNORM_PART),
    "w5_winner_part": (_q_w5_winner_part, _SQL_W5_WINNER_PART),
    "staged_threshold_orders": (_q_staged_threshold_orders, _SQL_STAGED_THRESHOLD_ORDERS),
    "staged_batched_orders": (_q_staged_batched_orders, _SQL_STAGED_BATCHED_ORDERS),
    "staged_topn_customer": (_q_staged_topn_customer, _SQL_STAGED_TOPN_CUSTOMER),
    "staged_topn_exclude_part": (_q_staged_topn_exclude_part,
                                 _SQL_STAGED_TOPN_EXCLUDE_PART),
    "a1_grouped_stats_orders": (_q_a1_grouped_stats_orders,
                                _SQL_A1_GROUPED_STATS_ORDERS),
    "a1_approx_quantiles_lineitem": (_q_a1_approx_quantiles_lineitem,
                                     _SQL_A1_APPROX_QUANTILES_LINEITEM),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: fn for name, (fn, _) in _QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query."""
    return {name: sql for name, (_, sql) in _QUERIES.items() if sql is not None}
