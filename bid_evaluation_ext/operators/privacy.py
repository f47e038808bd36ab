"""Privacy profiling and release helpers: k-anonymity and noisy counts.

Before a corpus or metrics table leaves the pipeline, two standard
questions (both public methodology — Sweeney's k-anonymity, Dwork's
Laplace mechanism): does any quasi-identifier combination isolate fewer
than k people, and can aggregate counts be released with calibrated
noise? These operators answer both Spark-first:

- :func:`k_anonymity_report` is one groupBy over the quasi-identifier
  tuple + one aggregate — equivalence-class sizes never leave the
  executors except as the (tiny) violating-class list.
- :func:`dp_noisy_counts` adds Laplace(Δ/ε) noise to per-group counts.
  The noise stream is SEEDED AND REPLAYABLE (md5-uniform → inverse-CDF
  Laplace): this is the TESTING/accounting mode — it makes releases
  reproducible and oracle-checkable, and a production release simply
  supplies a fresh random seed per publication (the mechanism,
  sensitivity and scale arithmetic are identical). A fixed seed reused
  across overlapping releases provides NO differential-privacy
  guarantee — documented here, asserted nowhere else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: md5-hex prefix width for portable 60-bit uniform draws
_HEX15 = 15


def k_anonymity_report(df: DataFrame, quasi_cols, k: int = 5) -> DataFrame:
    """Equivalence-class audit over the quasi-identifier columns:
    returns one row per VIOLATING class (size < ``k``) as
    ``(*quasi_cols, class_size)`` — empty result ⟺ the projection is
    k-anonymous. Null quasi-identifier values form their own classes
    (they are linkable values too). One partially-aggregated groupBy;
    the violating list is small by definition (each row < k members).
    """
    quasi_cols = list(quasi_cols)
    if not quasi_cols:
        raise ValueError("need at least one quasi-identifier column")
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    return (df.groupBy(*quasi_cols)
            .agg(F.count(F.lit(1)).alias("class_size"))
            .filter(F.col("class_size") < k))


def dp_noisy_counts(df: DataFrame, group_col: str, epsilon: float,
                    sensitivity: float = 1.0,
                    seed: str = "dp") -> DataFrame:
    """Per-group counts with Laplace(``sensitivity``/``epsilon``) noise —
    the Laplace mechanism's arithmetic with a SEEDED, replayable noise
    stream (see module docstring: testing/accounting mode; supply a
    fresh seed per production release). Noise inverts the Laplace CDF at
    a 60-bit md5 uniform of ``(group, seed)``:
    ``noise = −b·sgn(u−½)·ln(1−2|u−½|)``. Returns
    ``(group_col, true_count, noisy_count)`` with ``noisy_count``
    clamped at 0 (post-processing preserves the privacy analysis).
    One partially-aggregated groupBy + a map-only noise projection.
    """
    if epsilon <= 0:
        raise ValueError(f"epsilon must be positive, got {epsilon}")
    if sensitivity <= 0:
        raise ValueError(f"sensitivity must be positive, got {sensitivity}")
    b = float(sensitivity) / float(epsilon)
    counts = (df.groupBy(group_col)
              .agg(F.count(F.lit(1)).alias("true_count")))
    key = F.coalesce(F.col(group_col).cast("string"), F.lit("\x00null"))
    hx = F.substring(F.md5(F.concat(key, F.lit("|" + seed))
                           .cast("binary")), 1, _HEX15)
    u = (F.conv(hx, 16, 10).cast("long").cast("double") + F.lit(0.5)) \
        / F.lit(float(16 ** _HEX15))
    centered = u - F.lit(0.5)
    noise = (-F.lit(b) * F.signum(centered)
             * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered)))
    return counts.select(
        group_col, "true_count",
        F.greatest(F.lit(0.0),
                   F.col("true_count") + noise).alias("noisy_count"))


def l_diversity_report(df: DataFrame, quasi_cols, sensitive_col: str,
                       l: int = 3) -> DataFrame:
    """ℓ-diversity audit (Machanavajjhala et al. ICDE 2006) over the
    quasi-identifier columns: one row per VIOLATING equivalence class
    (fewer than ``l`` distinct sensitive values) as ``(*quasi_cols,
    class_size, n_sensitive, entropy)`` — empty result ⟺ every class is
    ℓ-diverse. ``entropy`` is the Shannon entropy (nats, 4 decimals) of
    the class's sensitive-value distribution, the statistic of the
    stricter entropy-ℓ-diversity variant (a class passes that variant
    when ``entropy ≥ ln(l)``).

    Null sensitive values count as a value (they are disclosable too).
    One partial-agg groupBy collapses the scan to (quasi, sensitive)
    cells; the class-share window and roll-up then run on that bounded
    cell table, never the raw rows.
    """
    quasi_cols = list(quasi_cols)
    if not quasi_cols:
        raise ValueError("need at least one quasi-identifier column")
    if l < 2:
        raise ValueError(f"l must be >= 2, got {l}")
    from pyspark.sql import Window

    cells = (df.groupBy(*quasi_cols,
                        F.col(sensitive_col).alias("_sv"))
             .agg(F.count(F.lit(1)).alias("_cnt")))
    wc = Window.partitionBy(*quasi_cols)
    p = F.col("_cnt").cast("double") / F.sum("_cnt").over(wc).cast("double")
    return (cells.withColumn("_term", -p * F.log(p))
            .groupBy(*quasi_cols)
            .agg(F.sum("_cnt").cast("long").alias("class_size"),
                 F.count(F.lit(1)).cast("long").alias("n_sensitive"),
                 (F.round(F.sum("_term") * 1e4) / 1e4
                  + F.lit(0.0)).alias("entropy"))
            .filter(F.col("n_sensitive") < l)
            .select(*quasi_cols, "class_size", "n_sensitive", "entropy"))
