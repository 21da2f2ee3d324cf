"""Histogram reporting + average-change detection.

Re-expresses:
- HistogramAnalysis with LinearNumericBinDefinition and
  ModuloTimeBinDefinition (aminer/analysis/HistogramAnalysis.py:79-623):
  periodic histogram reports over values; bins linear or time-modulo
  (e.g. hour-of-day).
- MatchValueAverageChangeDetector (aminer/analysis/
  MatchValueAverageChangeDetector.py:25-245): mean of a numeric value per
  time bin; flags bins whose average deviates significantly from the
  learned average (variance-normalized).
- ParserCount (aminer/analysis/ParserCount.py:27-134): periodic counts per
  parser path ≙ counts per span kind / event type.

All pure groupBy aggregations — map-side combinable, one narrow shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def linear_histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    bin_size: float,
) -> DataFrame:
    """(bin, cnt) with bin = floor((v - lo)/bin_size) —
    LinearNumericBinDefinition (HistogramAnalysis.py:115-166)."""
    v = F.col(value_col).cast("double")
    return (
        df.filter(v.isNotNull())
        .withColumn("bin", F.floor((v - F.lit(lo)) / F.lit(bin_size)))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def modulo_time_histogram(
    df: DataFrame,
    ts_col: str = "ts",
    modulo: float = 86400.0,
    divisor: float = 3600.0,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """(group..., bin, cnt) with bin = floor((ts % modulo)/divisor) —
    ModuloTimeBinDefinition (HistogramAnalysis.py:168-256); the defaults give
    an hour-of-day histogram."""
    ts = F.col(ts_col).cast("double")
    b = F.floor(F.pmod(ts, F.lit(modulo)) / F.lit(divisor))
    return (
        df.withColumn("bin", b.cast("long"))
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def parser_counts(df: DataFrame, path_col: str = "kind") -> DataFrame:
    """Counts per parser path / span kind (ParserCount analog)."""
    return df.groupBy(path_col).agg(F.count(F.lit(1)).alias("cnt"))


def average_change(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    bin_size: float,
    group_cols: Sequence[str] = (),
    min_bin_elements: int = 1,
    change_threshold: float = 2.0,
    num_history_bins: int = 10,
) -> DataFrame:
    """Per-bin mean vs trailing history mean, normalized by history stddev
    (population, matching numpy defaults elsewhere): flags bins where
    |mean - hist_mean| > change_threshold * hist_std.

    Bins are anchored at the first timestamp. Returns one row per (group,
    bin) with mean/hist_mean/hist_std/changed.
    """
    ts = F.col(ts_col).cast("double")
    v = F.col(value_col).cast("double")
    df = df.crossJoin(F.broadcast(df.agg(F.min(ts).alias("_t0"))))
    binned = df.withColumn("bin", F.floor((ts - F.col("_t0")) / F.lit(bin_size)))
    per_bin = (
        binned.groupBy(*group_cols, "bin")
        .agg(F.avg(v).alias("mean"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_bin_elements)
    )
    w = Window.partitionBy(*group_cols).orderBy("bin").rowsBetween(-num_history_bins, -1)
    out = (
        per_bin.withColumn("hist_mean", F.avg("mean").over(w))
        .withColumn("hist_std", F.stddev_pop("mean").over(w))
        .withColumn("n_hist", F.count("mean").over(w))
    )
    return out.withColumn(
        "changed",
        (F.col("n_hist") >= 2)
        & (
            F.abs(F.col("mean") - F.col("hist_mean"))
            > F.lit(change_threshold) * F.col("hist_std")
        ),
    )
