"""Time-of-day interval detector.

Re-expresses PathValueTimeIntervalDetector (aminer/analysis/
PathValueTimeIntervalDetector.py:26-412): learns the allowed times of day
(modulo ``time_period_length``, default one day) at which each value occurs;
an occurrence outside every learned interval is an anomaly. The batch form
buckets the time of day by hour and anti-joins unseen (value, hour) combos;
the reference's ± allowed_time_diff smoothing is not reproduced.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bucketed(df: DataFrame, ts_col: str) -> DataFrame:
    """Adds ``tod_bucket``: the hour of the day of ``ts_col``."""
    b = F.floor(F.pmod(F.col(ts_col).cast("double"), F.lit(86400.0)) / F.lit(3600.0))
    return df.withColumn("tod_bucket", b.cast("long"))


def learn_time_intervals(
    df: DataFrame, value_cols: Sequence[str], ts_col: str = "ts"
) -> DataFrame:
    """Baseline = distinct (value..., tod_bucket)."""
    return _bucketed(df, ts_col).select(*value_cols, "tod_bucket").dropDuplicates()


def check_time_intervals(
    df: DataFrame,
    baseline: DataFrame,
    value_cols: Sequence[str],
    ts_col: str = "ts",
) -> DataFrame:
    """Distinct (value, bucket) combos never seen in the baseline."""
    base = baseline.select(*value_cols, "tod_bucket")
    cur = _bucketed(df, ts_col).select(*value_cols, "tod_bucket").dropDuplicates()
    return cur.join(base, on=[*value_cols, "tod_bucket"], how="left_anti")
