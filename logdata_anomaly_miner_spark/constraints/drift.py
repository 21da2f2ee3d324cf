"""Distribution-drift constraint: bucketed histograms + KL divergence / PSI.

Maps the intent of VariableTypeDetector's goodness-of-fit drift tests
(aminer/analysis/VariableTypeDetector.py:31-2419 — KS/CvM over learned
distributions); the north star specifies KL/PSI against a persisted baseline
stats table, which is the industry-standard batch form.

Shape: bucketize (pure expression) → groupBy(group, bucket) count → join
baseline histogram → per-group PSI/KL via sum over buckets. Everything is
map-side combinable; the join key (group, bucket) is low-cardinality.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EPS = 1e-6  # smoothing for empty buckets (standard PSI practice)


def bucketize(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 10,
) -> DataFrame:
    """Fixed-width bucket index in [0, n_buckets-1]; values at/above hi clamp
    into the last bucket (HistogramAnalysis LinearNumericBinDefinition analog,
    aminer/analysis/HistogramAnalysis.py:115-256)."""
    v = F.col(value_col).cast("double")
    width = (hi - lo) / n_buckets
    b = F.floor((v - F.lit(lo)) / F.lit(width))
    b = F.when(b < 0, 0).when(b >= n_buckets, n_buckets - 1).otherwise(b)
    return df.withColumn("bucket", b.cast("long"))


def histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 10,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """(group..., bucket, cnt) histogram."""
    return (
        bucketize(df.filter(F.col(value_col).isNotNull()), value_col, lo, hi, n_buckets)
        .groupBy(*group_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def psi_kl(
    current_hist: DataFrame,
    baseline_hist: DataFrame,
    group_cols: Sequence[str] = (),
    n_buckets: int = 10,
) -> DataFrame:
    """Per-group PSI and KL(current ‖ baseline) from two histograms.

    PSI = Σ (p−q)·ln(p/q);  KL = Σ p·ln(p/q); p=current share, q=baseline
    share, both smoothed with EPS so empty buckets are defined.
    """
    g = list(group_cols)
    cur = current_hist.groupBy(*g, "bucket").agg(F.sum("cnt").alias("c_cnt"))
    base = baseline_hist.groupBy(*g, "bucket").agg(F.sum("cnt").alias("b_cnt"))
    joined = cur.join(base, [*g, "bucket"], "full_outer").fillna(
        {"c_cnt": 0, "b_cnt": 0}
    )
    tot = joined.groupBy(*g).agg(
        F.sum("c_cnt").alias("c_tot"), F.sum("b_cnt").alias("b_tot")
    )
    j = joined.join(tot, g) if g else joined.crossJoin(tot)
    # nullif: a group present in only ONE histogram has the other total 0,
    # and ANSI mode errors even on double/0 — an all-new kind must read as
    # share 0 (EPS-smoothed, maximal drift), not abort the suite
    p = F.coalesce(F.col("c_cnt") / F.nullif(F.col("c_tot"), F.lit(0)), F.lit(0.0)) + F.lit(EPS)
    q = F.coalesce(F.col("b_cnt") / F.nullif(F.col("b_tot"), F.lit(0)), F.lit(0.0)) + F.lit(EPS)
    return (
        j.withColumn("_psi", (p - q) * F.log(p / q))
        .withColumn("_kl", p * F.log(p / q))
        .groupBy(*g)
        .agg(F.sum("_psi").alias("psi"), F.sum("_kl").alias("kl"))
    )
