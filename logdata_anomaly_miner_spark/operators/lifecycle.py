"""Learn-mode lifecycle (shared detector options).

Re-expresses the AtomHandlerInterface lifecycle options every reference
detector inherits (aminer/input/InputInterfaces.py:275-280 init;
per-detector transition e.g. aminer/analysis/ValueRangeDetector.py:81-84,
extension :162-164):

- ``stop_learning_time``: learn_mode flips to False for every atom with
  atom_time strictly greater than start + stop_learning_time (strict "<"
  comparison at VRD :82 means the atom at exactly the boundary still
  learns). Batch analog of the reference's wall-clock start is the first
  atom's timestamp.
- ``stop_learning_no_anomaly_time`` (Δ): every learned atom pushes the
  stop timestamp to its time + Δ (VRD :162-164), so learning stops at the
  FIRST atom whose gap to its predecessor exceeds Δ — and never resumes.
  The stopping atom itself is checked but not learned.

The gap scan is distributed exactly like operators/timestamps.py: range
buckets + per-bucket lag + broadcast carry-in — no single-partition window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from logdata_anomaly_miner_spark.operators.timestamps import _with_range_bucket


def learning_cutoff(
    df: DataFrame,
    ts_col: str = "ts",
    stop_learning_time: float | Column | None = None,
    stop_learning_no_anomaly_time: float | None = None,
) -> tuple[DataFrame, bool]:
    """Returns (one-row DataFrame with ``cutoff_ts`` double, inclusive).

    Atoms learn iff ts <= cutoff_ts (inclusive=True, stop_learning_time
    mode) or ts < cutoff_ts (inclusive=False, no-anomaly-gap mode).
    cutoff_ts is null when learning never stops. If both options are set,
    the no-anomaly extension dominates (base init :279-280 overwrites).

    ``stop_learning_time`` may be an aggregate Column over ``df`` (e.g.
    half the batch's time span) so data-derived cutoffs stay in-plan — a
    driver-side collect would add a full scan per plan construction."""
    ts = F.col(ts_col).cast("double")
    if stop_learning_no_anomaly_time is not None:
        delta = float(stop_learning_no_anomaly_time)
        d = _with_range_bucket(df.select(ts.alias("_ts")), ["_ts"], None)
        w = Window.partitionBy("_pid").orderBy("_ts")
        d = d.withColumn("_prev", F.lag("_ts").over(w))
        last = d.groupBy("_pid").agg(F.max("_ts").alias("_last"))
        carry = (
            last.alias("a")
            .join(last.alias("b"), F.col("b._pid") < F.col("a._pid"))
            .groupBy(F.col("a._pid").alias("_pid"))
            .agg(F.max("b._last").alias("_carry"))
        )
        d = d.join(F.broadcast(carry), "_pid", "left")
        prev = F.coalesce(F.col("_prev"), F.col("_carry"))
        cut = d.filter(prev.isNotNull() & (F.col("_ts") > prev + F.lit(delta))).agg(
            F.min("_ts").alias("cutoff_ts")
        )
        return cut, False
    if stop_learning_time is not None:
        slt = (
            stop_learning_time
            if isinstance(stop_learning_time, Column)
            else F.lit(float(stop_learning_time))
        )
        return df.agg((F.min(ts) + slt).alias("cutoff_ts")), True
    return df.agg(F.lit(None).cast("double").alias("cutoff_ts")), True


def split_learn_check(
    df: DataFrame,
    ts_col: str = "ts",
    stop_learning_time: float | Column | None = None,
    stop_learning_no_anomaly_time: float | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split a batch into (learn_df, check_only_df) per the lifecycle rules.
    check_only rows are still CHECKED by detectors (learn_mode=False runs
    the check path) — they just never extend the baseline."""
    cut, inclusive = learning_cutoff(
        df, ts_col, stop_learning_time, stop_learning_no_anomaly_time
    )
    ts = F.col(ts_col).cast("double")
    d = df.crossJoin(F.broadcast(cut))
    if inclusive:
        learning = F.col("cutoff_ts").isNull() | (ts <= F.col("cutoff_ts"))
    else:
        learning = F.col("cutoff_ts").isNull() | (ts < F.col("cutoff_ts"))
    return (
        d.filter(learning).drop("cutoff_ts"),
        d.filter(~learning).drop("cutoff_ts"),
    )
