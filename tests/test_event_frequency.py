"""Parity with reference EventFrequencyDetectorTest.py:24-233 semantics
(FIXTURES.md §3.4): anchored windows, trailing mean±std/cf bands, ddof=0,
single-history fallback std, empty-window gaps, sliding counts."""

from __future__ import annotations

from logdata_anomaly_miner_spark.operators.event_frequency import (
    anchored_window_counts,
    check_event_frequency,
    check_sliding_frequency,
)

T0 = 1_700_000_000.0


def test_anchored_not_calendar(spark):
    """Windows anchor at first atom time (ref :181-183). T0+0.5 chosen so a
    calendar-aligned window() would split rows differently."""
    rows = [(T0 + 0.5, "a"), (T0 + 9.9, "a"), (T0 + 10.6, "a")]
    df = spark.createDataFrame(rows, "ts double, k string")
    counts = anchored_window_counts(df, ["k"], 10.0)
    got = {(r["k"], r["w"]): r["cnt"] for r in counts.collect()}
    # anchor = T0+0.5: rows at +0.5,+9.9 -> w0 ; +10.6 -> w1
    assert got == {("a", 0): 2, ("a", 1): 1}


def test_zero_count_windows_on_spine(spark):
    rows = [(T0, "a"), (T0 + 1, "a"), (T0 + 25, "a"), (T0 + 25, "b")]
    df = spark.createDataFrame(rows, "ts double, k string")
    counts = anchored_window_counts(df, ["k"], 10.0)
    got = {(r["k"], r["w"]): r["cnt"] for r in counts.collect()}
    # 'a' first window 0, global last = 2; w1 empty -> 0
    assert got == {("a", 0): 2, ("a", 1): 0, ("a", 2): 1, ("b", 2): 1}


def test_frequency_anomaly_detection(spark):
    """3 stable windows of 2 events then a window with 6 -> anomaly there,
    and window after the burst (count 2 vs inflated history) stays normal."""
    rows = []
    # w0..w2: 2 events each for key 'a'
    for w in range(3):
        rows += [(T0 + w * 10 + 1, "a"), (T0 + w * 10 + 2, "a")]
    # w3: 6 events (burst)
    rows += [(T0 + 31 + i * 0.5, "a") for i in range(6)]
    # w4: back to 2; w5: one closer event so w4 is closed
    rows += [(T0 + 41, "a"), (T0 + 42, "a"), (T0 + 51, "a"), (T0 + 52, "a")]
    df = spark.createDataFrame(rows, "ts double, k string")
    viols = check_event_frequency(
        df, ["k"], window_size=10.0, num_windows=10, confidence_factor=0.51
    )
    got = sorted((r["w"], r["cnt"]) for r in viols.collect())
    # w3 (6 vs history mean 2, std 0 -> band [2,2]) is anomalous.
    # w1, w2: history all 2s -> in band. w0: no history (n_hist=0) -> skipped.
    assert (3, 6) in got
    assert all(w != 0 for w, _ in got)
    assert (1, 2) not in got and (2, 2) not in got


def test_single_history_fallback_std(spark):
    """With exactly 1 history window, std = mean*(1-cf) (ref :386-389):
    band = mean ± mean*(1-cf)/cf. cf=0.5 -> band [0, 2*mean]."""
    rows = [(T0 + 1, "a"), (T0 + 2, "a"),           # w0: 2
            (T0 + 11, "a"), (T0 + 12, "a"), (T0 + 13, "a"), (T0 + 14, "a"), (T0 + 15, "a"),  # w1: 5 > 4
            (T0 + 21, "a")]                          # w2 closes w1
    df = spark.createDataFrame(rows, "ts double, k string")
    viols = check_event_frequency(df, ["k"], 10.0, num_windows=10, confidence_factor=0.5)
    got = [(r["w"], r["cnt"]) for r in viols.collect()]
    assert got == [(1, 5)]  # 5 > 2 + 2*(1-0.5)/0.5 = 4


def test_last_window_never_checked(spark):
    rows = [(T0 + 1, "a"), (T0 + 11, "a")] + [(T0 + 21 + i * 0.1, "a") for i in range(50)]
    df = spark.createDataFrame(rows, "ts double, k string")
    viols = check_event_frequency(df, ["k"], 10.0, num_windows=10, confidence_factor=0.51)
    assert viols.count() == 0  # the wild window (w2) is the last -> open


def test_unique_counts(spark):
    rows = [(T0 + 1, "a", "x"), (T0 + 2, "a", "x"), (T0 + 3, "a", "y"),
            (T0 + 11, "a", "x")]
    df = spark.createDataFrame(rows, "ts double, k string, v string")
    counts = anchored_window_counts(df, ["k"], 10.0, unique_cols=["v"])
    got = {(r["k"], r["w"]): r["cnt"] for r in counts.collect()}
    assert got == {("a", 0): 2, ("a", 1): 1}  # x,y distinct in w0


def test_sliding_frequency(spark):
    rows = [(T0 + i, "a") for i in (0, 1, 2, 3, 50, 51)]
    df = spark.createDataFrame(rows, "ts double, k string")
    viols = check_sliding_frequency(df, ["k"], window_size=5.0, max_occurrences=3)
    got = [(r["ts"] - T0, r["sliding_cnt"]) for r in viols.collect()]
    assert got == [(3.0, 4)]  # 4 events within [t-5, t] at t=+3


def test_stddev_is_population(spark):
    """ddof parity: np.std of [2,4] = 1.0 (pop), not 1.414 (sample).
    cf=0.51: pop band = 3 ± 1/0.51 = [1.04, 4.96] -> count 5 anomalous;
    sample std would give band [0.23, 5.77] -> 5 normal. The assert below
    fails if stddev_samp were used."""
    rows = [(T0 + 1, "a"), (T0 + 2, "a"),                             # w0: 2
            (T0 + 11, "a"), (T0 + 12, "a"), (T0 + 13, "a"), (T0 + 14, "a"),  # w1: 4
            *[(T0 + 21 + i * 0.1, "a") for i in range(5)],            # w2: 5
            (T0 + 31, "a")]                                           # w3 closes w2
    df = spark.createDataFrame(rows, "ts double, k string")
    viols = check_event_frequency(df, ["k"], 10.0, num_windows=10, confidence_factor=0.51)
    got = [(r["w"], r["cnt"]) for r in viols.collect()]
    assert (2, 5) in got
