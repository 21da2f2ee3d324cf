"""Range-constraint detector.

Re-expresses ValueRangeDetector (aminer/analysis/ValueRangeDetector.py:27-238;
check :131-149, learn :151-164, persisted {min,max} per id-tuple :62-63).

Two modes, matching AMiner's two lifecycle phases:

1. ``check_value_range_sequential`` — learn_mode=True parity. AMiner
   processes atoms in order: the first observation per id sets min=max, each
   later observation is checked against the range accumulated *so far* and
   then (learn mode) extends it. That sequential fold is exactly a running
   min/max window: anomaly(row i) = value_i outside
   [min(values_0..i-1), max(values_0..i-1)] per id, ordered by (ts, order).
   Verified on the reference unit fixture (ValueRangeDetectorTest.py:26-112)
   in tests/test_value_range.py.

2. ``check_value_range`` — learn_mode=False / scale path: check a batch
   against a fixed learned baseline via a join (broadcast for small
   baselines) + filter. No window, no per-group sort: O(n) scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def learn_ranges(
    df: DataFrame, id_cols: Sequence[str], value_col: str
) -> DataFrame:
    """Baseline = per-group [min,max] (reference learn :151-164).
    Map-side partial aggregation makes this one shuffle of |groups| rows."""
    return df.groupBy(*id_cols).agg(
        F.min(value_col).cast("double").alias("min"),
        F.max(value_col).cast("double").alias("max"),
    )


def check_value_range(
    df: DataFrame,
    id_cols: Sequence[str],
    value_col: str,
    baseline: DataFrame,
) -> DataFrame:
    """Batch check against a fixed (broadcast) baseline (reference check
    :131-149). Rows whose group has no learned range are NOT violations
    (AMiner treats first sight as learning material), hence inner join."""
    v = F.col(value_col).cast("double")
    return (
        df.join(F.broadcast(baseline), on=list(id_cols), how="inner")
        .filter((v < F.col("min")) | (v > F.col("max")))
        .withColumn(
            "detail",
            F.to_json(
                F.struct(
                    v.alias("value"),
                    F.col("min").alias("range_min"),
                    F.col("max").alias("range_max"),
                )
            ),
        )
    )


def check_value_range_sequential(
    df: DataFrame,
    id_cols: Sequence[str],
    value_col: str,
    order_cols: Sequence[str] = ("ts",),
) -> tuple[DataFrame, DataFrame]:
    """learn_mode=True parity, learning from scratch: per id, running-prefix
    min/max check.

    Returns (violations, learned_baseline). Window sorts are per-group;
    groups are bounded (id cardinality), so this scales by partitioning on
    id.
    """
    v = F.col(value_col).cast("double")
    w = (
        Window.partitionBy(*id_cols)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scored = df.withColumn("_pmin", F.min(v).over(w)).withColumn("_pmax", F.max(v).over(w))
    violations = (
        scored.filter(
            F.col("_pmin").isNotNull()
            & ((v < F.col("_pmin")) | (v > F.col("_pmax")))
        )
        .withColumn(
            "detail",
            F.to_json(
                F.struct(
                    v.alias("value"),
                    F.col("_pmin").alias("range_min"),
                    F.col("_pmax").alias("range_max"),
                )
            ),
        )
        .drop("_pmin", "_pmax")
    )
    return violations, learn_ranges(df, id_cols, value_col)


def check_value_range_lifecycle(
    df: DataFrame,
    id_cols: Sequence[str],
    value_col: str,
    order_cols: Sequence[str] = ("ts",),
    ts_col: str = "ts",
    stop_learning_time: float | Column | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full VRD lifecycle (reference ValueRangeDetector.py:74-164), learning
    from scratch: run the sequential prefix check while learn_mode holds,
    then check the remaining atoms against the FROZEN learned ranges once
    stop_learning_time flips learn_mode off. Returns (violations + phase
    column, learned baseline — which post-cutoff atoms never extend)."""
    from logdata_anomaly_miner_spark.operators.lifecycle import split_learn_check

    learn_df, check_df = split_learn_check(df, ts_col, stop_learning_time)
    v_learn, learned = check_value_range_sequential(learn_df, id_cols, value_col, order_cols)
    v_check = check_value_range(check_df, id_cols, value_col, learned)
    cols = [*df.columns, "detail"]
    violations = (
        v_learn.withColumn("phase", F.lit("learn"))
        .select(*cols, "phase")
        .unionByName(v_check.withColumn("phase", F.lit("check")).select(*cols, "phase"))
    )
    return violations, learned
