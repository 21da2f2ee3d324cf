"""Parity with reference ValueRangeDetectorTest.py:26-112 (FIXTURES.md §3.1)."""

from __future__ import annotations

from logdata_anomaly_miner_spark.operators.value_range import (
    check_value_range,
    check_value_range_sequential,
    learn_ranges,
)

T0 = 1_700_000_000.0
ROWS = [
    (T0 + 0, "a", 2.5),
    (T0 + 1, "b", 5.0),
    (T0 + 2, "a", 4.75),
    (T0 + 3, "b", 6.3),
    (T0 + 4, "a", 4.25),
    (T0 + 5, "b", 3.1),
]


def _df(spark):
    return spark.createDataFrame(ROWS, "ts double, id string, value double")


def test_sequential_learn_mode_parity(spark):
    """Anomalies at t+2 (a:4.75 ∉ [2.5,2.5]), t+3 (b:6.3 ∉ [5,5]),
    t+5 (b:3.1 < 5); NOT at t+4 (a:4.25 ∈ [2.5,4.75])."""
    df = _df(spark)
    viols, learned = check_value_range_sequential(df, ["id"], "value", ["ts"])
    got = sorted((r["ts"] - T0, r["id"], r["value"]) for r in viols.collect())
    assert got == [(2.0, "a", 4.75), (3.0, "b", 6.3), (5.0, "b", 3.1)]

    # Final baseline (learn extends through anomalies):
    # min {a:2.5, b:3.1}, max {a:4.75, b:6.3}  (ValueRangeDetectorTest.py:321)
    b = {r["id"]: (r["min"], r["max"]) for r in learned.collect()}
    assert b == {"a": (2.5, 4.75), "b": (3.1, 6.3)}


def test_batch_check_against_fixed_baseline(spark):
    """learn_mode=False: check whole batch against a learned baseline."""
    df = _df(spark)
    baseline = spark.createDataFrame(
        [("a", 2.5, 4.75), ("b", 5.0, 6.3)], "id string, min double, max double"
    )
    viols = check_value_range(df, ["id"], "value", baseline)
    got = sorted((r["id"], r["value"]) for r in viols.collect())
    assert got == [("b", 3.1)]


def test_unseen_group_is_not_violation(spark):
    df = _df(spark)
    baseline = spark.createDataFrame([("a", 2.0, 5.0)], "id string, min double, max double")
    viols = check_value_range(df, ["id"], "value", baseline)
    assert viols.count() == 0  # all 'a' in range; 'b' unseen -> learning material


def test_learn_ranges(spark):
    got = {r["id"]: (r["min"], r["max"]) for r in learn_ranges(_df(spark), ["id"], "value").collect()}
    assert got == {"a": (2.5, 4.75), "b": (3.1, 6.3)}
