"""Timestamp-ordering operators.

Re-expresses:
- TimestampsUnsortedDetector (aminer/analysis/TimestampsUnsortedDetector.py:
  23-76): event whenever an atom's timestamp is smaller than its
  predecessor's (in ingest order).
- SimpleMonotonicTimestampAdjust (aminer/analysis/
  TimestampCorrectionFilters.py:18-52): clamp decreasing timestamps to the
  running maximum.

Ingest order in batch = an explicit order column (event id / file offset).
The running max is a prefix window over ONE global sequence. A naive window
would put every row in a single WindowExec partition; instead both
operators run a **two-phase distributed prefix scan**: range-partition on
the order column, compute the per-range local prefix (running max / lag),
reduce each range to one summary row, derive each range's carry-in from
the (tiny, broadcast) summary table, and combine locally. The summary self-join is
|ranges|² rows — negligible — and no stage ever sees the whole sequence.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def _with_range_bucket(
    df: DataFrame, order_cols: Sequence[str], num_buckets: int | None
) -> DataFrame:
    """Adds ``_pid``: a range-bucket id where bucket i holds order values
    no greater than bucket i+1's (equal order values always share a
    bucket).

    DETERMINISM: the id must be a pure function of the ROW — downstream
    two-phase prefix scans evaluate the bucketed frame twice (local window
    + per-bucket summary), and Spark recomputes each branch. The obvious
    repartitionByRange + spark_partition_id() is NOT stable: range
    boundaries come from a sampling pass that can differ between the two
    evaluations, silently shifting rows across buckets and corrupting the
    carry (observed: +41-row drift in per-pair positions on a 60k-row
    melt). Boundaries here come from an in-plan aggregate of the first
    order column — deterministic (partition merge order is fixed) and
    evaluation-stable. NULL order values land in bucket 0 (matching their
    nulls-first position in the window sort), and degenerate all-equal
    input collapses to one bucket — correct, just serial.

    ANY deterministic, order-consistent bucket id yields IDENTICAL
    downstream prefix positions — a local scan counts rows inside the
    bucket, the carry counts rows in strictly earlier buckets, so the sum
    is the global rank regardless of where the boundaries sit. Only load
    balance differs, so the leading order column's type picks the
    boundaries:

    - integral (tinyint..bigint): equal-width buckets from min/max via the
      codegen'd width_bucket builtin. These columns are ingest ids, line
      numbers and event ids — dense by construction, so equal widths are
      balanced, and the percentile pass plus the per-row boundary-count
      lambda are skipped (measured ~2.5 s per evaluation on a 600k-row
      melt).
    - timestamp, date, float, double, decimal: percentile_approx quantile
      boundaries, which keep a bursty distribution balanced (equal widths
      would funnel a burst into one bucket).

    Known limit: a bursty order column stored as an integer (e.g. epoch
    micros in a bigint) gets width buckets — same output, worse balance."""
    nb = num_buckets or max(
        2, df.sparkSession.sparkContext.defaultParallelism * 2
    )
    c0 = order_cols[0]
    dtype = dict(df.dtypes).get(c0, "")
    if dtype in ("timestamp", "timestamp_ntz", "date"):
        # orderable but not arithmetic: casting to double yields fractional
        # epoch seconds (microsecond precision), preserving the sort order
        # exactly, so the bucket boundaries stay order-consistent
        v = F.col(c0).cast("timestamp").cast("double")
    elif dtype in (*_INTEGRAL, "float", "double") or dtype.startswith("decimal"):
        v = F.col(c0).cast("double")
    else:
        raise TypeError(
            "range bucketing needs a numeric/timestamp/date leading order "
            f"column; got {c0}:{dtype}"
        )
    if dtype in _INTEGRAL:
        mm = df.agg(F.min(v).alias("_blo"), F.max(v).alias("_bhi"))
        # nullif guard: an all-equal (or empty/all-null) input degenerates
        # to one bucket — width_bucket gets null bounds, returns null,
        # coalesce lands every row in bucket 0. Nulls sort first: null v ->
        # bucket 0 below every non-null bucket (width_bucket >= 1). The
        # coalesce comes before least(), which skips nulls: least(null, nb)
        # would put null rows in the LAST bucket. least() folds the max
        # value's bucket nb + 1 into nb.
        raw = F.width_bucket(
            v, F.col("_blo"), F.nullif(F.col("_bhi"), F.col("_blo")), F.lit(nb)
        )
        return (
            df.crossJoin(F.broadcast(mm))
            .withColumn("_pid", F.least(F.coalesce(raw, F.lit(0)), F.lit(nb)))
            .drop("_blo", "_bhi")
        )
    probs = F.array(*[F.lit(i / nb) for i in range(1, nb)])
    mm = df.agg(F.percentile_approx(v, probs, F.lit(10_000)).alias("_bnds"))
    # bucket(row) = number of boundaries <= its order value.
    # NOTE (r8): an unrolled when(v >= element_at(_bnds, i)) comparison sum
    # was tried here to move the bucket id into whole-stage codegen; it
    # measured 2x SLOWER than this aggregate (the nb-1-term expression is
    # duplicated into every operator that partitions on _pid, and the
    # generated code blows past codegen limits), so the single-evaluation
    # lambda stays.
    bucket = F.coalesce(
        F.aggregate(
            F.col("_bnds"),
            F.lit(0),
            lambda acc, b: acc + F.when(v >= b, 1).otherwise(0),
        ),
        F.lit(0),
    )
    return (
        df.crossJoin(F.broadcast(mm))
        .withColumn("_pid", bucket)
        .drop("_bnds")
    )


def _carry_join(
    d: DataFrame, val_col: str, order_cols: Sequence[str], out_col: str
) -> DataFrame:
    """Adds ``out_col`` = the last (in order) ``val_col`` of the nearest
    preceding non-empty range bucket (null for the first). The per-range
    summary is one max_by aggregate; the |ranges|² summary self-join is
    negligible and the result broadcasts."""
    last = d.groupBy("_pid").agg(
        F.max_by(F.col(val_col), F.struct(*[F.col(c) for c in order_cols])).alias(
            "_last_v"
        )
    )
    carry = (
        last.alias("a")
        .join(last.alias("b"), F.col("b._pid") < F.col("a._pid"))
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(F.max_by(F.col("b._last_v"), F.col("b._pid")).alias(out_col))
    )
    return d.join(F.broadcast(carry), "_pid", "left")


def unsorted_timestamps(
    df: DataFrame,
    ts_col: str = "ts",
    order_cols: Sequence[str] = ("event_id",),
    num_buckets: int | None = None,
) -> DataFrame:
    """Rows whose timestamp is smaller than the previous row's (ingest order)."""
    # Per-range lag; each range's first row compares against
    # the last timestamp (in order) of the nearest preceding non-empty range.
    d = _with_range_bucket(df, order_cols, num_buckets)
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    d = d.withColumn("_prev_local", F.lag(F.col(ts_col)).over(w))
    d = _carry_join(d, ts_col, order_cols, "_carry")
    prev = F.coalesce(F.col("_prev_local"), F.col("_carry"))
    return (
        d.withColumn("prev_ts", prev)
        .filter(F.col("prev_ts").isNotNull() & (F.col(ts_col) < F.col("prev_ts")))
        .drop("_pid", "_prev_local", "_carry")
    )


def monotonic_adjust(
    df: DataFrame,
    ts_col: str = "ts",
    order_cols: Sequence[str] = ("event_id",),
    out_col: str = "ts_adj",
) -> DataFrame:
    """Adds ``out_col`` = running max of the timestamp in ingest order
    (decreasing timestamps clamped up, reference :18-52)."""
    # Local running max per range + max over all earlier ranges (carry-in),
    # combined with greatest() (null carry for range 0).
    d = _with_range_bucket(df, order_cols, None)
    w = (
        Window.partitionBy("_pid")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d = d.withColumn("_local", F.max(F.col(ts_col)).over(w))
    pid_max = d.groupBy("_pid").agg(F.max(F.col(ts_col)).alias("_pmax"))
    carry = (
        pid_max.alias("a")
        .join(pid_max.alias("b"), F.col("b._pid") < F.col("a._pid"))
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(F.max("b._pmax").alias("_carry"))
    )
    d = d.join(F.broadcast(carry), "_pid", "left")
    return d.withColumn(
        out_col, F.greatest(F.col("_local"), F.col("_carry"))
    ).drop("_pid", "_local", "_carry")
