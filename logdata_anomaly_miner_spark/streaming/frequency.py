"""Streaming event-frequency detection.

Batch EventFrequencyDetector (operators/event_frequency.py) uses windows
anchored at the first atom for byte-parity with the reference
(EventFrequencyDetector.py:181-194). In streaming mode there is no "first
atom" once the job restarts, so the streaming variant uses Spark's
calendar-aligned tumbling `window()` with a watermark for late data — a
DOCUMENTED deviation (relaxed mode); the counts land in the same
window_counts table shape (FIXTURES.md §2) and the band check runs as a
follow-up batch query over that table.

SimpleMultisourceAtomSync (aminer/input/SimpleMultisourceAtomSync.py:19-126)
— the reference's k-way event-time merge with sync_wait_time — maps to
``union_sources`` + the watermark: the watermark IS the bounded wait for
stragglers.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def union_sources(sources: Sequence[DataFrame]) -> DataFrame:
    """K-way merge of sources; event-time ordering is reconstructed by the
    engine's watermarking, not by a driver-side merge loop. (Same union as
    the batch multisource_union — one implementation, re-exported here.)"""
    from logdata_anomaly_miner_spark.sources.readers import multisource_union

    return multisource_union(list(sources))


def streaming_window_counts(
    stream: DataFrame,
    key_cols: Sequence[str],
    window_size_s: float = 600.0,
    watermark_s: float = 600.0,
    ts_col: str = "ts",
) -> DataFrame:
    """readStream df -> per (key, window) counts with late-data handling.
    Output schema: key_cols + (win_start, win_end, cnt)."""
    ts = F.col(ts_col).cast("timestamp")
    return (
        stream.withColumn("_event_time", ts)
        .withWatermark("_event_time", f"{int(watermark_s)} seconds")
        .groupBy(
            F.window("_event_time", f"{int(window_size_s)} seconds").alias("win"),
            *key_cols,
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            *key_cols,
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "cnt",
        )
    )


def streaming_band_check(
    key_cols: Sequence[str],
    window_size_s: float,
    num_windows: int,
    confidence_factor: float,
    t0_epoch: float,
    sink_dir: str,
):
    """foreachBatch body for an end-to-end streaming band alarm: each
    micro-batch re-runs the BATCH band detector (frequency_bands over the
    densified window counts) on the complete windowed-count state and
    overwrites the alarm table — so at any point the alarms equal the batch
    ``check_event_frequency`` over the data seen so far, given a
    calendar-aligned anchor ``t0_epoch`` (the documented streaming
    deviation: anchored ≡ calendar windows when t0 is aligned).

    Use with ``.outputMode("complete")``; at cluster scale swap the
    parquet overwrite for a Delta/Iceberg MERGE keyed on (key, w) and
    update-mode input so state stays bounded by the watermark."""
    from logdata_anomaly_miner_spark.operators.event_frequency import (
        densify_counts,
        frequency_bands,
    )

    def on_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        counts = batch_df.select(
            *key_cols,
            # floor, not cast: cast truncates toward zero, merging the
            # window just BEFORE t0 with the one just after it
            F.floor(
                (F.col("win_start").cast("double") - F.lit(float(t0_epoch)))
                / F.lit(float(window_size_s))
            )
            .cast("long")
            .alias("w"),
            "cnt",
        )
        dense = densify_counts(counts, key_cols)
        banded = frequency_bands(dense, key_cols, num_windows, confidence_factor)
        alarms = (
            banded.filter(F.col("w") < F.col("w_last"))
            .filter(F.col("n_hist") >= 1)
            .filter((F.col("cnt") < F.col("lower")) | (F.col("cnt") > F.col("upper")))
            .select(*key_cols, "w", "cnt", "lower", "upper")
        )
        alarms.write.mode("overwrite").parquet(sink_dir)

    return on_batch


def run_streaming_band_check(
    stream: DataFrame,
    key_cols: Sequence[str],
    window_size_s: float,
    num_windows: int,
    confidence_factor: float,
    t0_epoch: float,
    sink_dir: str,
    ts_col: str = "ts",
    watermark_s: float = 600.0,
    await_seconds: int | None = None,
):
    """Wire streaming_window_counts into the foreachBatch band check and
    run it (availableNow trigger processes everything currently readable,
    then stops — the batch-parity harness; drop the trigger for a
    continuous job)."""
    counts = streaming_window_counts(
        stream, key_cols, window_size_s, watermark_s, ts_col
    )
    query = (
        counts.writeStream.outputMode("complete")
        .foreachBatch(
            streaming_band_check(
                key_cols, window_size_s, num_windows, confidence_factor,
                t0_epoch, sink_dir,
            )
        )
        .trigger(availableNow=True)
        .start()
    )
    if await_seconds is not None:
        query.awaitTermination(await_seconds)
    return query
