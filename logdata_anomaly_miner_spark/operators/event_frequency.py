"""Windowed event-frequency detector.

Re-expresses EventFrequencyDetector (aminer/analysis/EventFrequencyDetector.py:
28-556) and SlidingEventFrequencyDetector (…/SlidingEventFrequencyDetector.py:
22-271).

Key semantics reproduced (and unit-tested in tests/test_event_frequency.py):

- **Anchored tumbling windows** (reference :181-194): windows start at the
  first atom's time, NOT at calendar boundaries — window index
  ``w = floor((ts - t0) / window_size)`` with ``t0 = min(ts)``. Spark's
  calendar `window()` would silently shift every boundary, so we use the
  arithmetic form.
- **Band check at window close** (reference :210-260 via calculate_range
  :361-399): a closed window's count is anomalous if outside
  ``mean ± std/confidence_factor`` where mean/std are over the trailing
  ``num_windows`` counts (np.std ⇒ **stddev_pop**, ddof=0); when only one
  history window exists, ``std = mean * (1 - confidence_factor)``.
  A key needs ≥1 prior window since first seen (len(counts)>=2) to be
  checked; the final (incomplete) window is never checked.
- **Zero-count windows count**: a key active earlier but silent in window w
  contributes count 0 there (reset_counter appends 0) — realized via a
  per-key window **spine** (`sequence()` + explode + left join). The
  reference's "No log events received in time window" warnings for
  globally empty windows (:195-201; one per maximal gap) come from the
  stateful replay in streaming/state.py.
- ``unique_path_list`` ⇒ count **distinct** values per window (:320-328,
  ``countDistinct``; at extreme scale swap for approx_count_distinct).

Scale notes: counts are one shuffle (groupBy key,w); the spine is generated
from per-key (min_w, max_w) aggregates — no driver loop; band computation is
a bounded window frame per key ordered by w (history is capped at
num_windows, matching the reference's bounded deque).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def anchored_window_counts(
    df: DataFrame,
    key_cols: Sequence[str],
    window_size: float,
    ts_col: str = "ts",
    unique_cols: Sequence[str] | None = None,
    t0: float | None = None,
) -> DataFrame:
    """Counts per (key, w) on a dense per-key spine from the key's first
    window to the global last window. Returns columns key_cols + (w, cnt)
    plus ``last_w`` (global last window index, never checked)."""
    ts = F.col(ts_col).cast("double")
    if t0 is None:
        t0_df = df.agg(F.min(ts).alias("t0"))
        df = df.crossJoin(F.broadcast(t0_df))
        t0_col = F.col("t0")
    else:
        t0_col = F.lit(float(t0))
    with_w = df.withColumn("w", F.floor((ts - t0_col) / F.lit(float(window_size))))

    if unique_cols:
        counts = with_w.groupBy(*key_cols, "w").agg(
            F.countDistinct(*[F.col(c) for c in unique_cols]).alias("cnt")
        )
    else:
        counts = with_w.groupBy(*key_cols, "w").agg(F.count(F.lit(1)).alias("cnt"))
    return densify_counts(counts, key_cols)


def densify_counts(counts: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Dense spine over sparse (key, w, cnt) rows: every key gets every
    window from its first to the global max, zero-filled, plus ``w_last``
    (global last window index, never checked). Shared by the batch
    anchored counts and the streaming foreachBatch band check."""
    key_span = counts.groupBy(*key_cols).agg(F.min("w").alias("w_first"))
    global_max = counts.agg(F.max("w").alias("w_last"))
    spine = (
        key_span.crossJoin(F.broadcast(global_max))
        .select(
            *key_cols,
            F.explode(F.sequence(F.col("w_first"), F.col("w_last"))).alias("w"),
            F.col("w_last"),
        )
    )
    return (
        spine.join(counts.select(*key_cols, "w", "cnt"), [*key_cols, "w"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
    )


def frequency_bands(
    counts: DataFrame,
    key_cols: Sequence[str],
    num_windows: int,
    confidence_factor: float,
) -> DataFrame:
    """Attach (lower, upper) band per (key, w) from trailing history
    (reference calculate_range :361-399). Adds n_hist, mean, std columns."""
    w_hist = (
        Window.partitionBy(*key_cols)
        .orderBy("w")
        .rowsBetween(-num_windows, -1)
    )
    cf = float(confidence_factor)
    out = (
        counts.withColumn("mean", F.avg("cnt").over(w_hist))
        .withColumn("std", F.stddev_pop("cnt").over(w_hist))
        .withColumn("n_hist", F.count("cnt").over(w_hist))
    )
    # single-history-window fallback: std = mean * (1 - cf)  (reference :386-389)
    out = out.withColumn(
        "std",
        F.when(F.col("n_hist") <= 1, F.col("mean") * F.lit(1.0 - cf)).otherwise(
            F.col("std")
        ),
    )
    return out.withColumn("lower", F.col("mean") - F.col("std") / F.lit(cf)).withColumn(
        "upper", F.col("mean") + F.col("std") / F.lit(cf)
    )


def check_event_frequency(
    df: DataFrame,
    key_cols: Sequence[str],
    window_size: float,
    num_windows: int,
    confidence_factor: float,
    ts_col: str = "ts",
    t0: float | None = None,
) -> DataFrame:
    """Full detector: violations per (key, w) for closed windows.

    A window is checked when (a) it is not the global last (only a later
    atom closes it), and (b) the key has ≥1 prior window (n_hist ≥ 1;
    reference :213-216).
    """
    counts = anchored_window_counts(df, key_cols, window_size, ts_col, t0=t0)
    banded = frequency_bands(counts, key_cols, num_windows, confidence_factor)
    checked = banded.filter(F.col("w") < F.col("w_last")).filter(F.col("n_hist") >= 1)
    # SKIPPED-WINDOW RULE (reference :186-201 + reset_counter :340-348):
    # counts[-1] at a completion check is always a window in which at least
    # one atom arrived (the atom that closed it bumped next_check_time past
    # it or a later atom skipped over it, appending a bare zero). A window
    # with zero GLOBAL activity therefore only ever enters the history —
    # it is never itself band-checked (empty_window_warnings covers it).
    # A key idle in a window that OTHER keys kept active IS still checked
    # at 0. Caught by the demo3 end-to-end golden replay (round 5).
    active_w = (
        banded.groupBy("w")
        .agg(F.sum("cnt").alias("_g"))
        .filter(F.col("_g") > 0)
        .select("w")
    )
    checked = checked.join(F.broadcast(active_w), "w", "left_semi")
    return (
        checked.filter((F.col("cnt") < F.col("lower")) | (F.col("cnt") > F.col("upper")))
        .withColumn(
            "detail",
            F.to_json(
                F.struct(
                    F.col("cnt").alias("count"),
                    F.round(F.col("lower"), 9).alias("lower"),
                    F.round(F.col("upper"), 9).alias("upper"),
                )
            ),
        )
    )


def frequency_bands_seasonal(
    counts: DataFrame,
    key_cols: Sequence[str],
    num_windows: int,
    confidence_factor: float,
    lookback: int,
) -> DataFrame:
    """Seasonal variant — exact re-expression of reference calculate_range
    (:361-399) with season/lookback set, including the bounded-deque
    semantics of reset_counter (:340-347, counts list truncated to
    num_windows+2 entries):

    - **gate** (:367): the differenced path is taken iff
      ``len(counts) > lookback + 2`` where ``len(counts)`` is the TRUNCATED
      list length ``min(n_hist+1, num_windows+2)``; otherwise the band is
      the plain (non-seasonal) trailing history.
    - **diff history** (:373-374 + slice :385): diffs
      d_w = cnt_w − cnt_{w−lookback} for retained indices, excluding the
      most recent diff ⇒ rows frame (−(num_windows+1−lookback), −2); diffs
      before the key's lookback-th window are null and ignored by avg/std.
    - **season_offset** (:375-378): mean of retained PAST counts in the
      same seasonal slot. time_index increments by 1 mod lookback per
      window (:352), so slot equality ⟺ w ≡ current w (mod lookback); the
      retained list bounds matching rows to the trailing
      floor((num_windows+1)/lookback) slot rows.
    - **std fallback** (:386-390): when the diff slice has ≤1 element, std
      falls back to mean(RAW counts trailing slice) * (1 − cf) — raw counts
      even on the seasonal path.

    All window frames per key — one sort. Adds n_hist, season_offset,
    lower, upper columns."""
    cf = float(confidence_factor)
    lb = int(lookback)
    w_ord = Window.partitionBy(*key_cols).orderBy("w")
    with_diff = counts.withColumn(
        "_diff", F.col("cnt") - F.lag("cnt", lb).over(w_ord)
    )
    hist_plain = w_ord.rowsBetween(-num_windows, -1)
    # When lb >= num_windows the gate (len > lb+2 with len capped at
    # num_windows+2) can never pass, so the diff frame is unused — but it
    # must still be a valid (lo <= hi) frame for the analyzer.
    diff_frame = w_ord.rowsBetween(min(-(num_windows + 1 - lb), -2), -2)
    slot_rows = max(1, (num_windows + 1) // lb)
    w_slot = (
        Window.partitionBy(*key_cols, F.pmod(F.col("w"), F.lit(lb)))
        .orderBy("w")
        .rowsBetween(-slot_rows, -1)
    )
    out = (
        with_diff
        .withColumn(
            "n_hist",
            F.count("cnt").over(w_ord.rowsBetween(Window.unboundedPreceding, -1)),
        )
        .withColumn("mean_plain", F.avg("cnt").over(hist_plain))
        .withColumn("std_plain", F.stddev_pop("cnt").over(hist_plain))
        .withColumn("n_plain", F.count("cnt").over(hist_plain))
        .withColumn("mean_d", F.avg("_diff").over(diff_frame))
        .withColumn("std_d", F.stddev_pop("_diff").over(diff_frame))
        .withColumn("n_d", F.count("_diff").over(diff_frame))
        .withColumn("season_offset", F.avg("cnt").over(w_slot))
    )
    seasonal = (
        F.least(F.col("n_hist") + 1, F.lit(num_windows + 2)) > F.lit(lb + 2)
    )
    mean = F.when(seasonal, F.col("mean_d")).otherwise(F.col("mean_plain"))
    n_used = F.when(seasonal, F.col("n_d")).otherwise(F.col("n_plain"))
    std = F.when(
        n_used > 1,
        F.when(seasonal, F.col("std_d")).otherwise(F.col("std_plain")),
    ).otherwise(F.col("mean_plain") * F.lit(1.0 - cf))
    offset = F.when(seasonal, F.col("season_offset")).otherwise(F.lit(0.0))
    out = out.withColumn(
        "season_offset", F.when(seasonal, F.col("season_offset")).otherwise(F.lit(0.0))
    )
    lower = mean + offset - std / F.lit(cf)
    upper = mean + offset + std / F.lit(cf)
    return (
        out.withColumn("lower", lower)
        .withColumn("upper", upper)
        .drop("mean_plain", "std_plain", "n_plain", "n_d")
    )


def check_early_exceeding(
    df: DataFrame,
    key_cols: Sequence[str],
    window_size: float,
    num_windows: int,
    confidence_factor: float,
    ts_col: str = "ts",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """early_exceeding_anomaly_output (reference :264-302): the FIRST event
    within a window at which the key's running count already exceeds the
    band's upper limit — an alarm raised mid-window instead of at close.

    Batch shape: cumulative count per (key, w) ordered by event time; join
    the (key, w) upper bounds; keep the first crossing row per (key, w)."""
    ts = F.col(ts_col).cast("double")
    work = df.crossJoin(F.broadcast(df.agg(F.min(ts).alias("_t0"))))
    with_w = work.withColumn("w", F.floor((ts - F.col("_t0")) / F.lit(float(window_size))))
    counts = anchored_window_counts(df, key_cols, window_size, ts_col)
    banded = frequency_bands(counts, key_cols, num_windows, confidence_factor)
    bounds = banded.filter(F.col("n_hist") >= 1).select(*key_cols, "w", "upper")
    order = [ts, *[F.col(c) for c in tiebreak_cols]]
    run = Window.partitionBy(*key_cols, "w").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = with_w.withColumn("running_cnt", F.count(F.lit(1)).over(run))
    crossed = cum.join(bounds, [*key_cols, "w"]).filter(
        F.col("running_cnt") > F.col("upper")
    )
    first = Window.partitionBy(*key_cols, "w").orderBy(*order)
    return (
        crossed.withColumn("_rn", F.row_number().over(first))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def sliding_counts(
    df: DataFrame,
    key_cols: Sequence[str],
    window_size: float,
    micros_col: str | None = None,
) -> DataFrame:
    """Per-row trailing-window occurrence count (``sliding_cnt``): RANGE
    frame over event time (``micros_col``, else ``ts`` in seconds) ≙ the
    reference's timestamp deque (get_current_frequency counts timestamps
    ≥ t − window, so the frame is inclusive on both ends, which
    rangeBetween is)."""
    ord_col = (
        F.col(micros_col)
        if micros_col
        else (F.col("ts").cast("double") * 1_000_000).cast("long")
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(ord_col)
        .rangeBetween(-int(window_size * 1_000_000), 0)
    )
    return df.withColumn("sliding_cnt", F.count(F.lit(1)).over(w))


def check_sliding_frequency(
    df: DataFrame,
    key_cols: Sequence[str],
    window_size: float,
    max_occurrences: int,
    micros_col: str | None = None,
) -> DataFrame:
    """SlidingEventFrequencyDetector (:22-271): count of events per key in
    the trailing ``window_size`` seconds of ``ts`` exceeds
    ``max_occurrences``."""
    return sliding_counts(df, key_cols, window_size, micros_col).filter(
        F.col("sliding_cnt") > max_occurrences
    )
