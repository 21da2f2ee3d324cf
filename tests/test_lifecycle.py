"""Learn-mode lifecycle parity with the reference unit tests.

Replays the semantics of ValueRangeDetectorTest.py:181-209 (stop_learning_time
and stop_learning_no_anomaly_time transitions) in batch form: instead of
asserting the learn_mode flag, we assert which atoms extended the baseline
and which were checked against the frozen one — the observable consequence
of the flag.
"""

from __future__ import annotations

from logdata_anomaly_miner_spark.operators.lifecycle import (
    learning_cutoff,
    split_learn_check,
)
from logdata_anomaly_miner_spark.operators.value_range import (
    check_value_range_lifecycle,
)

T = 1_700_000_000.0


def test_stop_learning_time_transition(spark):
    """Reference :181-192 — atoms at t and t+99 learn, t+101 does not
    (stop_learning_time=100; the strict '<' at VRD :82 means an atom at
    exactly t+100 would still learn)."""
    df = spark.createDataFrame(
        [(T, 1), (T + 99.0, 2), (T + 100.0, 3), (T + 101.0, 4)],
        "ts double, atom int",
    )
    learn, check = split_learn_check(df, "ts", stop_learning_time=100.0)
    assert sorted(r["atom"] for r in learn.collect()) == [1, 2, 3]
    assert sorted(r["atom"] for r in check.collect()) == [4]


def test_stop_learning_no_anomaly_time_transition(spark):
    """Reference :194-209 — atoms at t, t+99, t+100 learn (each learned atom
    pushes the stop timestamp to its time + 100); t+201 exceeds t+100+100
    and flips learn_mode off."""
    df = spark.createDataFrame(
        [(T, 1), (T + 99.0, 2), (T + 100.0, 3), (T + 201.0, 4), (T + 250.0, 5)],
        "ts double, atom int",
    )
    learn, check = split_learn_check(df, "ts", stop_learning_no_anomaly_time=100.0)
    assert sorted(r["atom"] for r in learn.collect()) == [1, 2, 3]
    # once stopped, learning never resumes, even for small later gaps
    assert sorted(r["atom"] for r in check.collect()) == [4, 5]


def test_learning_never_stops_without_options(spark):
    df = spark.createDataFrame([(T, 1), (T + 9999.0, 2)], "ts double, atom int")
    learn, check = split_learn_check(df, "ts")
    assert learn.count() == 2 and check.count() == 0
    cut, inclusive = learning_cutoff(df, "ts")
    assert cut.collect()[0]["cutoff_ts"] is None and inclusive


def test_value_range_lifecycle_end_to_end(spark):
    """Baseline freezes at the cutoff: post-cutoff atoms are checked against
    the frozen range and never extend it."""
    rows = [
        (T + 0.0, "id1", 5.0),    # learns: range [5,5]
        (T + 50.0, "id1", 9.0),   # checked vs [5,5] -> violation; learns -> [5,9]
        (T + 99.0, "id1", 7.0),   # inside [5,9]
        (T + 300.0, "id1", 12.0),  # past the 100 s -> check-only; 12 > 9 violation
        (T + 301.0, "id1", 8.0),   # check-only, inside frozen [5,9]
        (T + 302.0, "id1", 4.0),   # check-only, 4 < 5 violation
    ]
    df = spark.createDataFrame(rows, "ts double, id string, value double")
    violations, learned = check_value_range_lifecycle(
        df,
        ["id"],
        "value",
        order_cols=("ts",),
        ts_col="ts",
        stop_learning_time=100.0,
    )
    got = sorted((r["ts"] - T, r["phase"]) for r in violations.collect())
    assert got == [(50.0, "learn"), (300.0, "check"), (302.0, "check")]
    base = learned.collect()[0]
    assert (base["min"], base["max"]) == (5.0, 9.0)
