"""TSAArimaDetector numeric replay of the reference unit-test scenario.

Ports T/unit/analysis/TSAArimaDetectorTest.py (round-5 VERDICT item 3):

- ``setUpClass``/``generate_data`` build 10,000 log atoms exactly 1 second
  apart (``generate_data(10000, 1)``) — a constant-rate stream, one event
  type; ``run_tad_test`` feeds them through EventTypeDetector +
  TSAArimaDetector with defaults num_division_time_step=10,
  num_periods_tsa_ini=15, num_results_bt=15, alpha=0.05.
- ``test3persistence`` then asserts the persisted state is
  ``result_list == [[1]*15]`` — i.e. after the statsmodels
  ARIMA(10,0,0)x(0,0,0,10) initialization, EVERY one-step forecast check
  passed (1 = within band); the rolling 15-result binomial-test window
  ends all-ones.

Replay: the same arrival stream, bucketed into 10-second windows (the
reference's time_step = period / num_division_time_step division of a
constant stream), must yield ZERO anomaly windows from every forecaster in
this package's ladder — ar1 (declarative), HR-ARMA(1,1) (declarative),
and the full ARMA(p=10, seasonal_lag=10) that mirrors the reference's
order=(10,0,0), seasonal_order=(0,0,0,10) (tsa.py:217).

HR-vs-MLE delta: the reference fits by statsmodels maximum likelihood; this
package uses Hannan–Rissanen / OLS closed forms (tsa.py module docstring).
On the constant-rate replay both are exact (zero residual), so the parity
assertion is tolerance-free. The second test quantifies the estimator gap
where it CAN differ: on a synthetic AR(1) with known phi, the OLS estimate
must sit within ±0.08 of the truth (OLS and MLE agree asymptotically; at
n=400 their mutual gap is O(1/n), far inside this tolerance band).
"""

from __future__ import annotations

import math
import random

import pytest

from pyspark.sql import functions as F

from logdata_anomaly_miner_spark.operators.tsa import (
    ar1_forecast_bands,
    arma_forecast_bands,
    hr_arma_forecast_bands,
)

T0 = 1_700_000_000


def _reference_stream_counts(spark):
    """generate_data(10000, 1): atoms at t0+1 .. t0+10000 (1/sec), one
    event type; reference time step = 10 s (num_division_time_step
    division) -> (key, w, cnt) window counts."""
    atoms = spark.range(1, 10_001).select(
        (F.lit(T0) + F.col("id")).alias("ts"), F.lit("et0").alias("k")
    )
    return (
        atoms.groupBy("k", F.floor((F.col("ts") - T0 - 1) / 10).alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def test_constant_rate_stream_all_forecasts_pass(spark):
    counts = _reference_stream_counts(spark)
    # sanity: the constant-rate stream gives 1000 windows of exactly 10
    rows = counts.collect()
    assert len(rows) == 1000 and all(r["cnt"] == 10 for r in rows)

    # the reference's result_list stayed [1]*15 (no forecast miss); every
    # rung of this package's forecaster ladder must agree: zero anomalies
    a1 = ar1_forecast_bands(counts, ["k"], min_train=10)
    assert a1.filter("anomaly").count() == 0
    hr = hr_arma_forecast_bands(counts, ["k"], mode="ma", min_train=10)
    assert hr.filter("anomaly").count() == 0
    # mirror of the reference's order=(10,0,0), seasonal (0,0,0,10)
    full = arma_forecast_bands(
        counts, ["k"], p=10, q=0, seasonal_lag=10, min_train=15
    )
    assert full.filter("anomaly").count() == 0
    # and the band check is not vacuous: predictions exist and are exact
    scored = full.filter(F.col("pred").isNotNull())
    assert scored.count() > 900
    mx = scored.agg(F.max(F.abs(F.col("cnt") - F.col("pred")))).collect()[0][0]
    assert mx < 1e-6


def test_ar1_estimate_within_documented_mle_tolerance(spark):
    """phi-hat from the declarative regr_slope fit vs the known truth of a
    seeded AR(1): |phi_hat - phi| <= 0.08 at n=400 (the HR/OLS-vs-MLE
    estimator gap is O(1/n), well inside; the tolerance budgets mostly
    finite-sample noise, documented in the module docstring above)."""
    rng = random.Random(42)
    phi, mu, n = 0.6, 20.0, 400
    y = [mu]
    for _ in range(n - 1):
        y.append(mu + phi * (y[-1] - mu) + rng.gauss(0, 1.5))
    counts = spark.createDataFrame(
        [("k", i, float(v)) for i, v in enumerate(y)], "k string, w long, cnt double"
    )
    out = ar1_forecast_bands(counts, ["k"], min_train=10)
    # recover phi-hat = cov(y_t, y_{t-1})/var(y_{t-1}) from pred deltas:
    # pred = icept + slope*x -> slope = d(pred)/d(x)
    two = (
        out.filter(F.col("pred").isNotNull())
        .orderBy("w")
        .select("w", "cnt", "pred")
        .limit(500)
        .collect()
    )
    # slope via two points with distinct lag values
    by_lag = {}
    for prev, cur in zip(two, two[1:]):
        if cur["w"] == prev["w"] + 1:
            by_lag[prev["cnt"]] = cur["pred"]
    xs = sorted(by_lag)
    x1, x2 = xs[0], xs[-1]
    slope = (by_lag[x2] - by_lag[x1]) / (x2 - x1)
    assert math.isfinite(slope)
    assert abs(slope - phi) <= 0.08, f"phi_hat={slope:.4f} vs phi={phi}"
    # an injected 12-sigma rate spike must be flagged by the same fit
    spiked = counts.union(
        spark.createDataFrame([("k", n, mu + 40.0)], "k string, w long, cnt double")
    )
    flagged = ar1_forecast_bands(spiked, ["k"], min_train=10).filter(
        (F.col("w") == n) & F.col("anomaly")
    )
    assert flagged.count() == 1


def _gen_ma2(n=600, c=5.0, th1=0.6, th2=-0.3, seed=7):
    """Seeded MA(2): y_t = c + e_t + th1·e_{t-1} + th2·e_{t-2}."""
    import numpy as np

    rng = np.random.default_rng(seed)
    e = rng.normal(0, 1, n + 2)
    return list(c + e[2:] + th1 * e[1:-1] + th2 * e[:-2])


def test_css_refinement_tightens_ma_estimates():
    """Round-6 VERDICT item 4: the conditional-sum-of-squares Nelder–Mead
    refinement (tsa.py _css_innovations/_nelder_mead, the statsmodels-free
    counterpart of the reference's MLE fit, TSAArimaDetector.py:32-560)
    must lift the Hannan–Rissanen MA start values to MLE-grade accuracy:
    on a seeded MA(2) the HR theta_1 misses truth by ~0.14 while the CSS
    optimum lands within ±0.02 (the round-5 documented OLS-vs-MLE band was
    ±0.08), and the CSS objective never exceeds its HR start value."""
    import numpy as np

    from logdata_anomaly_miner_spark.operators.tsa import (
        _css_innovations,
        _nelder_mead,
    )

    yv = np.asarray(_gen_ma2(), dtype=np.float64)
    p, q, slag = 0, 2, 0
    m = max(p + q, 2)
    ny = len(yv)
    # HR stages exactly as arma_forecast_bands.fit
    x1 = np.column_stack(
        [np.ones(ny - m)] + [yv[m - k - 1 : ny - k - 1] for k in range(m)]
    )
    th1_, *_ = np.linalg.lstsq(x1, yv[m:], rcond=None)
    e = np.full(ny, np.nan)
    e[m:] = yv[m:] - x1 @ th1_
    start = max(m + q, p, slag)
    rows = np.arange(start, ny)
    x2 = np.column_stack(
        [np.ones(len(rows))] + [e[rows - k] for k in range(1, q + 1)]
    )
    th_hr, *_ = np.linalg.lstsq(x2, yv[rows], rcond=None)

    def loss(v):
        inn, _ = _css_innovations(v, yv, p, q, slag)
        return float(np.sum(inn[max(p, slag):] ** 2))

    th_css = _nelder_mead(loss, th_hr)
    # HR is visibly biased on theta_1; CSS is not
    assert abs(th_hr[1] - 0.6) > 0.1
    assert abs(th_css[1] - 0.6) <= 0.02, th_css
    assert abs(th_css[2] - (-0.3)) <= 0.02, th_css
    assert loss(th_css) <= loss(th_hr) + 1e-9


def test_arma_css_q2_spark_matches_python_replica(spark):
    """End-to-end q=2 through the Spark operator: arma_forecast_bands with
    method='css' returns the same one-step predictions as a pure-python replay
    of the CSS pipeline, and a clean MA(2) stream yields no 4-sigma anomalies
    while an injected 25-sigma spike is flagged (z=1.96 would correctly flag
    ~5%% of clean Gaussian residuals, so the no-anomaly check uses z=4)."""
    import numpy as np

    from logdata_anomaly_miner_spark.operators.tsa import _css_innovations, _nelder_mead

    vals = _gen_ma2(n=300)
    counts = spark.createDataFrame(
        [("k", i, float(v)) for i, v in enumerate(vals)],
        "k string, w long, cnt double",
    )
    out = arma_forecast_bands(counts, ["k"], p=0, q=2, method="css", min_train=20, z=4.0)
    rows = {r["w"]: r for r in out.collect()}
    assert sum(1 for r in rows.values() if r["anomaly"]) == 0
    # python replica of the operator's css path
    yv = np.asarray(vals, dtype=np.float64)
    p, q, slag = 0, 2, 0
    m, ny = max(p + q, 2), len(yv)
    x1 = np.column_stack(
        [np.ones(ny - m)] + [yv[m - k - 1 : ny - k - 1] for k in range(m)]
    )
    th1_, *_ = np.linalg.lstsq(x1, yv[m:], rcond=None)
    e = np.full(ny, np.nan)
    e[m:] = yv[m:] - x1 @ th1_
    start = max(m + q, p, slag)
    rr = np.arange(start, ny)
    x2 = np.column_stack([np.ones(len(rr))] + [e[rr - k] for k in range(1, q + 1)])
    th_hr, *_ = np.linalg.lstsq(x2, yv[rr], rcond=None)

    def loss(v):
        inn, _ = _css_innovations(v, yv, p, q, slag)
        return float(np.sum(inn[max(p, slag):] ** 2))

    th_css = _nelder_mead(loss, th_hr)
    e_opt, _ = _css_innovations(th_css, yv, p, q, slag)
    for t in rr:
        assert rows[int(t)]["pred"] == pytest.approx(
            float(yv[t] - e_opt[t]), abs=1e-9
        )
    # spike detection with the same fit
    spiked = counts.union(
        spark.createDataFrame(
            [("k", len(vals), 5.0 + 25.0)], "k string, w long, cnt double"
        )
    )
    out2 = arma_forecast_bands(spiked, ["k"], p=0, q=2, method="css", min_train=20, z=4.0)
    flagged = {r["w"] for r in out2.filter("anomaly").collect()}
    assert len(vals) in flagged


def test_kalman_exact_likelihood_matches_ar1_closed_form():
    """method='mle' estimator core: the Kalman concentrated negative
    log-likelihood (tsa.py _kalman_concentrated_nll — Harvey state space,
    stationary Lyapunov init, sigma² concentrated out) must equal the
    KNOWN closed form of the exact AR(1) Gaussian likelihood,
    n·ln(ssq/n) - ln(1-phi²) with ssq = (1-phi²)(y1-mu)² + Σ(x_t-phi·x_{t-1})²,
    to numerical precision."""
    import numpy as np

    from logdata_anomaly_miner_spark.operators.tsa import (
        _kalman_concentrated_nll,
    )

    rng = np.random.default_rng(11)
    n, mu = 200, 5.0
    y = np.zeros(n)
    y[0] = mu + rng.normal(0, 1 / math.sqrt(1 - 0.49))
    for t in range(1, n):
        y[t] = mu + 0.7 * (y[t - 1] - mu) + rng.normal()

    def closed(c, ph):
        m = c / (1 - ph)
        x = y - m
        ssq = (1 - ph * ph) * x[0] ** 2 + float(np.sum((x[1:] - ph * x[:-1]) ** 2))
        return n * math.log(ssq / n) - math.log(1 - ph * ph)

    for ph in (0.3, 0.7, 0.9):
        c = mu * (1 - ph)
        k, preds = _kalman_concentrated_nll([c, ph], y, 1, 0)
        assert k == pytest.approx(closed(c, ph), abs=1e-9)
        assert preds is not None and len(preds) == n


def test_mle_tier_improves_likelihood_and_runs_end_to_end(spark):
    """method='mle' through the Spark operator: on a short near-boundary
    MA(1) the exact-MLE estimate must not worsen the exact likelihood
    achieved by the CSS start (it optimizes it), the operator runs
    end-to-end with clean data unflagged at 4 sigma, and an injected spike
    is caught."""
    import numpy as np

    from logdata_anomaly_miner_spark.operators.tsa import _css_innovations, _kalman_concentrated_nll, _nelder_mead

    rng = np.random.default_rng(11)
    n, th = 80, 0.9
    e = rng.normal(0, 1, n + 1)
    vals = [float(v) for v in 3.0 + e[1:] + th * e[:-1]]
    counts = spark.createDataFrame(
        [("k", i, v) for i, v in enumerate(vals)], "k string, w long, cnt double"
    )
    out = arma_forecast_bands(
        counts, ["k"], p=0, q=1, method="mle", min_train=20, z=4.0
    )
    rows = {r["w"]: r for r in out.collect()}
    assert sum(1 for r in rows.values() if r["anomaly"]) == 0
    assert sum(1 for r in rows.values() if r["pred"] is not None) > 50
    # python replica: CSS start -> Kalman optimum never worse in exact NLL
    yv = np.asarray(vals)
    m = 2
    x1 = np.column_stack(
        [np.ones(n - m)] + [yv[m - k - 1 : n - k - 1] for k in range(m)]
    )
    t1, *_ = np.linalg.lstsq(x1, yv[m:], rcond=None)
    eh = np.full(n, np.nan)
    eh[m:] = yv[m:] - x1 @ t1
    rr = np.arange(m + 1, n)
    x2 = np.column_stack([np.ones(len(rr)), eh[rr - 1]])
    th_hr, *_ = np.linalg.lstsq(x2, yv[rr], rcond=None)
    th_css = _nelder_mead(
        lambda v: float(np.sum(_css_innovations(v, yv, 0, 1, 0)[0] ** 2)), th_hr
    )
    th_mle = _nelder_mead(
        lambda v: _kalman_concentrated_nll(v, yv, 0, 1)[0], th_css
    )
    nll_css = _kalman_concentrated_nll(th_css, yv, 0, 1)[0]
    nll_mle = _kalman_concentrated_nll(th_mle, yv, 0, 1)[0]
    assert nll_mle <= nll_css + 1e-9
    assert abs(th_mle[1] - th) < 0.15  # near truth on this seed
    # spike caught by the same fit
    spiked = counts.union(
        spark.createDataFrame([("k", n, 3.0 + 25.0)], "k string, w long, cnt double")
    )
    out2 = arma_forecast_bands(
        spiked, ["k"], p=0, q=1, method="mle", min_train=20, z=4.0
    )
    assert n in {r["w"] for r in out2.filter("anomaly").collect()}


def test_css_seasonal_lag_smaller_than_p():
    """Regression (round-7 review): _css_innovations with 0 < seasonal_lag
    < p must align the seasonal slice to the conditioning start, not to 0
    (the old yv[:n-slag] slice had the wrong length and crashed)."""
    import numpy as np

    from logdata_anomaly_miner_spark.operators.tsa import _css_innovations

    y = np.arange(20, dtype=float) + np.sin(np.arange(20))
    e, start = _css_innovations([0.1, 0.5, 0.2, 0.3, 0.05], y, 2, 1, 1)
    assert start == 2 and len(e) == 20
    t = 5
    base = 0.1 + 0.5 * y[4] + 0.2 * y[3] + 0.05 * y[4]
    assert e[t] == pytest.approx(y[t] - (base + 0.3 * e[4]), abs=1e-12)
