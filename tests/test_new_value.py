"""Parity with reference NewMatchPathValueDetectorTest.py:27-82 (FIXTURES.md §3.2)."""

from __future__ import annotations

from logdata_anomaly_miner_spark.operators.new_value import (
    check_new_combos_enhanced,
    check_new_id_combos,
    check_new_values,
    learn_values,
)

T0 = 1_700_000_000.0


def _df(spark):
    rows = [
        (T0 + 0, "d1", "val_a"),
        (T0 + 1, "d2", "val_a"),   # repeat -> no event
        (T0 + 2, "d3", "val_b"),
        (T0 + 3, "d4", "val_b"),   # repeat -> no event
        (T0 + 4, "d5", "val_a"),   # repeat -> no event
    ]
    return spark.createDataFrame(rows, "ts double, doc_id string, value string")


def test_one_event_per_first_occurrence(spark):
    df = _df(spark)
    viols = check_new_values(df, ["value"], baseline=None, order_cols=["ts", "doc_id"])
    got = sorted((r["ts"] - T0, r["value"]) for r in viols.collect())
    assert got == [(0.0, "val_a"), (2.0, "val_b")]


def test_known_values_suppressed(spark):
    df = _df(spark)
    baseline = spark.createDataFrame([("val_a",)], "value string")
    viols = check_new_values(df, ["value"], baseline, order_cols=["ts", "doc_id"])
    got = [(r["ts"] - T0, r["value"]) for r in viols.collect()]
    assert got == [(2.0, "val_b")]


def test_learn_values_merge(spark):
    df = _df(spark)
    baseline = spark.createDataFrame([("val_c",)], "value string")
    learned = learn_values(df, ["value"], baseline)
    assert sorted(r["value"] for r in learned.collect()) == ["val_a", "val_b", "val_c"]


def test_combo_detector(spark):
    rows = [
        (T0, "u1", "login"),
        (T0 + 1, "u1", "login"),
        (T0 + 2, "u1", "logout"),
        (T0 + 3, "u2", "login"),
    ]
    df = spark.createDataFrame(rows, "ts double, user string, action string")
    viols = check_new_values(df, ["user", "action"], baseline=None, order_cols=["ts"])
    got = sorted((r["user"], r["action"]) for r in viols.collect())
    assert got == [("u1", "login"), ("u1", "logout"), ("u2", "login")]


def test_enhanced_combo_metadata(spark):
    rows = [
        (T0, "u1", "login"),
        (T0 + 1, "u1", "login"),
        (T0 + 2, "u2", "login"),
    ]
    df = spark.createDataFrame(rows, "ts double, user string, action string")
    baseline = spark.createDataFrame(
        [("u1", "login", T0 - 100, T0 - 50, 3)],
        "user string, action string, first_seen double, last_seen double, n_seen long",
    )
    viols, merged = check_new_combos_enhanced(df, ["user", "action"], baseline)
    assert [(r["user"], r["action"]) for r in viols.collect()] == [("u2", "login")]
    m = {(r["user"], r["action"]): (r["first_seen"], r["last_seen"], r["n_seen"]) for r in merged.collect()}
    assert m[("u1", "login")] == (T0 - 100, T0 + 1, 5)
    assert m[("u2", "login")] == (T0 + 2, T0 + 2, 1)


def test_new_id_combo(spark):
    # values for one logical entity arrive across separate rows sharing an id
    rows = [
        (T0, "s1", "alice", None),
        (T0 + 1, "s1", None, "10.0.0.1"),
        (T0 + 2, "s2", "bob", None),
        (T0 + 3, "s2", None, "10.0.0.2"),
    ]
    df = spark.createDataFrame(rows, "ts double, sid string, user string, ip string")
    baseline = spark.createDataFrame([("alice", "10.0.0.1")], "user string, ip string")
    viols = check_new_id_combos(df, "sid", ["user", "ip"], baseline)
    assert [(r["user"], r["ip"]) for r in viols.collect()] == [("bob", "10.0.0.2")]


def test_new_paths(spark):
    """NewMatchPathDetector ≙ the suite's unknown-kind schema check."""
    from logdata_anomaly_miner_spark.constraints.schema_checks import unknown_kind

    df = spark.createDataFrame([("text",), ("image",), ("weird_kind",)], "kind string")
    viols = df.filter(unknown_kind(["text", "image", "audio"]))
    assert [r["kind"] for r in viols.collect()] == ["weird_kind"]
