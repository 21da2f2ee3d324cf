"""Distribution-drift constraint: histograms, PSI/KL, verdicts."""

from __future__ import annotations

import math

import pytest

from logdata_anomaly_miner_spark.constraints.drift import (
    EPS,
    bucketize,
    histogram,
    psi_kl,
)


def test_bucketize_clamps(spark):
    df = spark.createDataFrame([(-5.0,), (0.0,), (55.0,), (99.9,), (100.0,), (150.0,)], "v double")
    got = [r["bucket"] for r in bucketize(df, "v", 0.0, 100.0, 10).collect()]
    assert got == [0, 0, 5, 9, 9, 9]  # below-lo -> 0, at/above hi -> last


def test_psi_zero_for_identical(spark):
    df = spark.createDataFrame([(float(i % 10),) for i in range(100)], "v double")
    h = histogram(df, "v", 0.0, 10.0, 10)
    psi = psi_kl(h, h).collect()[0]
    assert psi["psi"] == pytest.approx(0.0, abs=1e-12)
    assert psi["kl"] == pytest.approx(0.0, abs=1e-9)


def test_psi_matches_manual(spark):
    # baseline: uniform over buckets 0,1; current: all in bucket 0
    base = spark.createDataFrame([(0, 50), (1, 50)], "bucket long, cnt long")
    cur = spark.createDataFrame([(0, 100)], "bucket long, cnt long")
    got = psi_kl(cur, base).collect()[0]["psi"]
    p0, q0 = 1.0 + EPS, 0.5 + EPS
    p1, q1 = 0.0 + EPS, 0.5 + EPS
    want = (p0 - q0) * math.log(p0 / q0) + (p1 - q1) * math.log(p1 / q1)
    assert got == pytest.approx(want, rel=1e-12)


def test_drift_verdict_and_groups(spark):
    base = spark.createDataFrame(
        [("a", 0, 50), ("a", 1, 50), ("b", 0, 50), ("b", 1, 50)],
        "kind string, bucket long, cnt long",
    )
    cur = spark.createDataFrame(
        [("a", 0, 50), ("a", 1, 50), ("b", 0, 100)],  # b shifted hard
        "kind string, bucket long, cnt long",
    )
    got = {r["kind"]: r["psi"] > 0.2 for r in psi_kl(cur, base, ["kind"]).collect()}
    assert got == {"a": False, "b": True}
