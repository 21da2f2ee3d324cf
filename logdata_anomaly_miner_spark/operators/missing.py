"""Missing-value / heartbeat detector.

Re-expresses MissingMatchPathValueDetector (aminer/analysis/
MissingMatchPathValueDetector.py:25-334): a value (host, service, ...) that
has not been seen again within its interval triggers a "missing" event.

Batch shape: groupBy(value).agg(max(ts)) + filter(now − last_seen >
interval). ``now`` defaults to the batch max timestamp (offline mode);
timestamps compared in integer microseconds for cross-engine determinism.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def check_missing_values(
    df: DataFrame,
    value_cols: Sequence[str],
    interval_s: float,
    ts_micros_col: str,
) -> DataFrame:
    """(value..., last_seen_us) for values silent longer than interval_s
    before `now`, the global max timestamp."""
    last = df.groupBy(*value_cols).agg(F.max(ts_micros_col).alias("last_seen_us"))
    now_df = df.agg(F.max(ts_micros_col).alias("_now_us"))
    last = last.crossJoin(F.broadcast(now_df))
    return (
        last.filter(
            F.col("last_seen_us") < F.col("_now_us") - F.lit(int(interval_s * 1_000_000))
        )
        .drop("_now_us")
    )
