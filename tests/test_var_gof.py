"""VariableTypeDetector gof core (reference VariableTypeDetector.py:969-1150
detect_continuous_shape, :1605-1700 s_gof_test + binomial ladder)."""

from __future__ import annotations

import math
from statistics import NormalDist

import pytest

from logdata_anomaly_miner_spark.operators.var_gof import (
    binomial_critical,
    fit_continuous,
    s_gof_ladder,
)


def _rows(vals, grp="g"):
    return [(grp, i, float(v)) for i, v in enumerate(vals)]


def _ks_uniform_py(vals):
    """Independent plain-Python KS statistic vs uniform(min,max)."""
    s = sorted(vals)
    n = len(s)
    lo, hi = s[0], s[-1]
    d = 0.0
    for i, x in enumerate(s, start=1):
        f = (x - lo) / (hi - lo)
        d = max(d, i / n - f, f - (i - 1) / n)
    return d


def test_ks_stat_matches_python(spark):
    vals = [((i * 37) % 101) / 101.0 for i in range(100)]  # uniform-ish grid
    df = spark.createDataFrame(_rows(vals), "g string, i long, v double")
    out = fit_continuous(df, ["g"], "v", ["i"], num_init=100).collect()[0]
    # uniform must win on a uniform grid, with the exact KS statistic
    assert out["dist"] == "uni"
    assert out["stat"] == pytest.approx(_ks_uniform_py(vals), abs=1e-12)
    assert out["accepted"]


def test_normal_sample_fits_normal(spark):
    nd = NormalDist(10.0, 2.0)
    vals = [nd.inv_cdf((i + 0.5) / 100) for i in range(100)]
    df = spark.createDataFrame(_rows(vals), "g string, i long, v double")
    out = fit_continuous(df, ["g"], "v", ["i"], num_init=100).collect()[0]
    assert out["dist"] == "nor"
    assert out["accepted"]
    assert out["mu"] == pytest.approx(10.0, abs=0.1)


def test_cm_statistic_mode(spark):
    """CvM mode: omega^2 = 1/(12n) + sum (F - (2i-1)/2n)^2; a perfect
    uniform grid gives the minimum 1/(12n) + tiny grid residue."""
    vals = [(i + 0.5) / 100 for i in range(100)]
    df = spark.createDataFrame(_rows(vals), "g string, i long, v double")
    out = fit_continuous(df, ["g"], "v", ["i"], num_init=100, test="CM").collect()[0]
    assert out["dist"] == "uni"
    # F((i+.5-.5)/99-scaled) is not exactly (2i-1)/2n: just sanity-bound it
    assert 0 < out["stat"] < 0.4614 and out["accepted"]


def test_binomial_critical():
    # Bin(3, 0.05): P(X>=1)=0.142625 > .05, P(X>=2)=0.00725 <= .05 -> k=2
    assert binomial_critical(3, 0.05, 0.05) == 2
    # Bin(30, 0.05): matches an exact tail scan
    k = binomial_critical(30, 0.05, 0.05)
    tail = sum(
        math.comb(30, i) * 0.05**i * 0.95 ** (30 - i) for i in range(k, 31)
    )
    tail_prev = sum(
        math.comb(30, i) * 0.05**i * 0.95 ** (30 - i) for i in range(k - 1, 31)
    )
    assert tail <= 0.05 < tail_prev


def test_s_gof_ladder_alarms_on_drift(spark):
    """Init: uniform [0,1]. Chunks 0-1 uniform (pass); chunks 2-4 shifted to
    [2,3] (hard fail). With num_s_gof_bt=3 and k_crit=2, the alarm fires
    once two of the trailing three chunks failed."""
    vals = [((i * 37) % 100) / 100.0 for i in range(100)]          # init
    vals += [((i * 41) % 100) / 100.0 for i in range(40)]          # chunks 0,1
    vals += [2.0 + ((i * 43) % 100) / 100.0 for i in range(60)]    # chunks 2-4
    df = spark.createDataFrame(_rows(vals), "g string, i long, v double")
    fitted = fit_continuous(df, ["g"], "v", ["i"], num_init=100)
    out = s_gof_ladder(
        df,
        ["g"],
        "v",
        ["i"],
        fitted,
        num_init=100,
        num_s_gof_values=20,
        num_s_gof_bt=3,
    ).collect()
    by_chunk = {r["chunk"]: r for r in out}
    assert not by_chunk[0]["failed"] and not by_chunk[1]["failed"]
    assert by_chunk[2]["failed"] and by_chunk[3]["failed"] and by_chunk[4]["failed"]
    # alarm needs >= 3 tests in window AND >= 2 fails: first at chunk 3
    assert not by_chunk[2]["alarm"]
    assert by_chunk[3]["alarm"] and by_chunk[4]["alarm"]


def test_fit_discrete_classification(spark):
    """detect_var_type discrete branch: stat / unq / others / d kinds and
    the learned value probabilities."""
    from logdata_anomaly_miner_spark.operators.var_gof import fit_discrete

    rows = []
    # stat: one value 100x
    rows += [("s", i, "only") for i in range(100)]
    # unq: all distinct
    rows += [("u", i, f"v{i}") for i in range(100)]
    # others: 95 distinct out of 100 (>= 100*(1-0.1))
    rows += [("o", i, f"w{min(i, 94)}") for i in range(100)]
    # d: three values 50/30/20
    dvals = ["x"] * 50 + ["y"] * 30 + ["z"] * 20
    rows += [("d", i, dvals[i]) for i in range(100)]
    df = spark.createDataFrame(rows, "g string, i long, v string")
    out = fit_discrete(df, ["g"], "v", ["i"], num_init=100)
    kinds = {r["g"]: r["var_kind"] for r in out.select("g", "var_kind").dropDuplicates().collect()}
    assert kinds == {"s": "stat", "u": "unq", "o": "others", "d": "d"}
    probs = {r["value"]: r["p"] for r in out.filter("g = 'd'").collect()}
    assert probs == {"x": 0.5, "y": 0.3, "z": 0.2}


def test_d_ladder_drift_and_new_values(spark):
    """Discrete chi² ladder: matching chunks pass, a skewed chunk fails,
    a chunk with an unseen value fails via the new-values branch, and the
    trailing binomial ladder alarms once successes drop low enough."""
    from logdata_anomaly_miner_spark.operators.var_gof import (
        bt_min_successes,
        d_ladder,
        fit_discrete,
    )

    base_pat = ["x"] * 5 + ["y"] * 3 + ["z"] * 2          # p = .5/.3/.2
    vals = base_pat * 10                                   # init: 100
    vals += base_pat * 4                                   # chunks 0,1 (20 each): match
    vals += ["x"] * 20                                     # chunk 2: all-x, skewed
    vals += base_pat + ["x"] * 9 + ["NEW"]                 # chunk 3: unseen value
    rows = [("g", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, i long, v string")
    baseline = fit_discrete(df, ["g"], "v", ["i"], num_init=100)
    out = d_ladder(
        df, ["g"], "v", ["i"], baseline,
        num_init=100, num_update=20, num_d_bt=3, d_bt_alpha=0.3,
    ).collect()
    by_chunk = {r["chunk"]: r for r in out}
    assert not by_chunk[0]["failed"] and not by_chunk[1]["failed"]
    assert by_chunk[2]["failed"] and by_chunk[2]["n_new"] == 0
    assert by_chunk[3]["failed"] and by_chunk[3]["n_new"] == 1
    # ladder: num_d_bt=3 -> alarm when successes in window < min_success
    ms = bt_min_successes(3, 0.95, 0.3)
    assert ms == 3  # P(Bin(3,.95) failures >= 1) ~= .14 < .3 tail walk
    assert not by_chunk[1]["alarm"]  # window [0,1] not full... chunk2: [0,1,2] 2 succ < 3
    assert by_chunk[2]["alarm"] and by_chunk[3]["alarm"]
    assert by_chunk[0]["dof"] == 2


def test_constant_group_is_static_and_excluded_from_ladder(spark):
    """A constant init sample is the reference's STATIC type: classified
    as such (trivially accepted, stat 0) and excluded from the s_gof
    ladder rather than emitting all-null rows that vanish from both
    accept and reject filters."""
    rows = [("const", i, 5.0) for i in range(160)] + [
        ("vary", i, float((i * 37) % 101) / 101.0) for i in range(160)
    ]
    df = spark.createDataFrame(rows, "g string, i long, v double")
    fit = fit_continuous(df, ["g"], "v", ["i"], num_init=100)
    got = {r["g"]: r for r in fit.collect()}
    assert got["const"]["dist"] == "static"
    assert got["const"]["stat"] == 0.0 and got["const"]["accepted"] is True
    assert got["vary"]["dist"] == "uni" and got["vary"]["accepted"]

    lad = s_gof_ladder(df, ["g"], "v", ["i"], fit, num_init=100, num_s_gof_values=50)
    groups = {r["g"] for r in lad.collect()}
    assert groups == {"vary"}  # static group routed to d_test, not s_gof


# ---------------------------------------------------------------------------
# betam / spec / emp branches (reference :1065-1091, :1161-1162, :1558-1603)
# ---------------------------------------------------------------------------

REFERENCE_LIB = "/root/reference/source/root/usr/lib/logdata-anomaly-miner"


def _ks2_exact(a, b):
    """Exact two-sample KS statistic (scipy ks_2samp definition: both ECDFs
    right-evaluated at every point of either sample)."""
    a, b = sorted(float(x) for x in a), sorted(float(x) for x in b)

    def ecdf_le(s, x):
        import bisect

        return bisect.bisect_right(s, x) / len(s)

    pts = a + b
    return max(abs(ecdf_le(a, x) - ecdf_le(b, x)) for x in pts)


def _mix_points(m):
    """The engine's 1000-point beta(1,5)/beta(5,1) quantile mixture:
    m Bresenham grid slots carry component 1."""
    pts = []
    for j in range(1000):
        u = j / 999.0
        if (j + 1) * m // 1000 > j * m // 1000:
            pts.append(1.0 - (1.0 - u) ** 0.2)
        else:
            pts.append(u ** 0.2)
    return sorted(pts)


def _mix_cdf_le(x, m):
    """Closed-form mixture ECDF — plain-python replica of the engine's
    _betam_cdf_le (identical arithmetic; the engine never materializes the
    1000 points, and ** vs the inverse closed form can disagree by one
    grid point right at a quantile boundary, so the STRICT parity oracle
    must count the same way)."""
    omx = 1.0 - x
    omx2 = omx * omx
    f15 = 1.0 - omx2 * omx2 * omx
    x2 = x * x
    f51 = x2 * x2 * x
    k1 = min(math.floor(999.0 * f15), 999)
    k2 = min(math.floor(999.0 * f51), 999)
    cnt1 = math.floor((k1 + 1) * m / 1000.0)
    cnt2 = (k2 + 1) - math.floor((k2 + 1) * m / 1000.0)
    return (cnt1 + cnt2) / 1000.0


def _ks2_closed(scaled_vals, m):
    """Two-sample KS of scaled values vs the closed-form mixture ECDF,
    using the engine's a/b-term formulation (exact sup for continuous
    interior data; one mixture point sits exactly at each of 0 and 1)."""
    s = sorted(scaled_vals)
    n = len(s)
    d = 0.0
    for i, x in enumerate(s, start=1):
        f = _mix_cdf_le(x, m)
        hit = 1.0 if x in (0.0, 1.0) else 0.0
        d = max(d, abs(f - i / n), abs(f - hit / 1000.0 - (i - 1) / n))
    return d


def _betam_fixture_vals(lo=3.0, hi=7.0):
    """100 values drawn from the p=0.5 mixture itself (every 10th mixture
    point), affinely mapped to [lo, hi]."""
    mix = _mix_points(500)
    return [lo + (hi - lo) * mix[j] for j in range(0, 1000, 10)]


def test_betam_fit_wins_on_mixture_data(spark):
    """A sample drawn from the mixed-beta shape selects 'betam', with the
    engine's two-sample KS statistic matching an exact independent python
    computation against the engine's own mixture construction."""
    vals = _betam_fixture_vals()
    df = spark.createDataFrame(_rows(vals), "g string, i long, v double")
    out = fit_continuous(
        df, ["g"], "v", ["i"], num_init=100, with_betam=True
    ).collect()[0]
    assert out["dist"] == "betam"
    assert out["accepted"]
    # replicate the engine semantics exactly: m from the sample stats,
    # two-sample KS in min-max-scaled space
    lo, hi = min(vals), max(vals)
    mu = sum(vals) / len(vals)
    rel = (mu - lo) / (hi - lo)
    assert 1.0 / 6.0 < rel < 5.0 / 6.0
    m = int((5.0 / 6.0 - rel) * 1.5 * 1000.0 + 0.5)
    scaled = [(v - lo) / (hi - lo) for v in vals]
    # strict: the engine's closed-form two-sample KS, replicated in python
    assert out["stat"] == pytest.approx(_ks2_closed(scaled, m), abs=1e-9)
    # sanity: within one grid point of the KS vs the MATERIALIZED mixture
    # sample (** and the inverse closed form can differ by one boundary
    # point, 1/1000 of ECDF mass)
    assert out["stat"] == pytest.approx(
        _ks2_exact(scaled, _mix_points(m)), abs=2e-3
    )


def test_betam_not_selected_on_uniform_data(spark):
    """The betam candidate must not swallow well-fitting one-sample shapes:
    a uniform grid still classifies 'uni' with betam enabled."""
    vals = [((i * 37) % 101) / 101.0 for i in range(100)]
    df = spark.createDataFrame(_rows(vals), "g string, i long, v double")
    out = fit_continuous(
        df, ["g"], "v", ["i"], num_init=100, with_betam=True
    ).collect()[0]
    assert out["dist"] == "uni" and out["accepted"]


def test_betam_matches_reference_tables_and_selection(spark):
    """Drive the reference's OWN shipped quantile tables (VTDData.py) through
    the reference's mixture construction (s_gof_get_quantiles :1596-1603 /
    detect_continuous_shape :1071-1078) and check that the engine's
    closed-form substitution (a) stays within the tables' 3-decimal
    interpolation error and (b) selects the same distribution under the
    reference's p-value-branch comparison."""
    import os
    import sys

    if not os.path.isdir(REFERENCE_LIB):
        pytest.skip("reference checkout not available")
    sys.path.insert(0, REFERENCE_LIB)
    try:
        from aminer.analysis import VTDData
    finally:
        sys.path.remove(REFERENCE_LIB)
    q = VTDData.quantiles

    vals = _betam_fixture_vals()
    lo, hi = min(vals), max(vals)
    mu = sum(vals) / len(vals)
    rel = (mu - lo) / (hi - lo)
    proportion = (rel - 5.0 / 6.0) / (-4.0 / 6.0)
    # reference mixture (exact reference arithmetic, incl. banker's round)
    idx1 = [int(round(i / proportion)) for i in range(int(round(1000 * proportion)))]
    ref_mix = sorted(
        [float(q["betam1"][i]) for i in idx1]
        + [float(q["betam2"][i]) for i in range(1000) if i not in idx1]
    )
    m = int((5.0 / 6.0 - rel) * 1.5 * 1000.0 + 0.5)
    eng_mix = _mix_points(m)
    # (a) pointwise: closed form vs the shipped interpolated table
    gap = max(abs(a - b) for a, b in zip(eng_mix, ref_mix))
    assert gap <= 2.5e-3, gap
    # (b) the KS statistics agree closely and the engine's pick matches the
    # argmin-c (== reference p-value-branch argmax-p) pick computed with the
    # REFERENCE tables
    scaled = [(v - lo) / (hi - lo) for v in vals]
    d_ref = _ks2_exact(scaled, ref_mix)
    out = fit_continuous(
        spark.createDataFrame(_rows(vals), "g string, i long, v double"),
        ["g"], "v", ["i"], num_init=100, with_betam=True,
    ).collect()[0]
    assert out["stat"] == pytest.approx(d_ref, abs=5e-3)
    n = len(vals)
    c_betam_ref = d_ref * math.sqrt(n * 1000 / (n + 1000))
    c_uni = _ks_uniform_py(vals) * math.sqrt(n)
    assert c_betam_ref < c_uni  # reference tables would pick betam too
    assert out["dist"] == "betam"


def _emp_fixture_vals():
    """Tight bimodal clusters: rejected by every candidate (uni/nor/beta
    and the mixture), so the emp fallback must trigger."""
    return [0.2 + i * 0.0004 for i in range(50)] + [
        0.8 + i * 0.0004 for i in range(50)
    ]


def test_emp_fallback_classification(spark):
    vals = _emp_fixture_vals()
    df = spark.createDataFrame(_rows(vals), "g string, i long, v double")
    base = fit_continuous(
        df, ["g"], "v", ["i"], num_init=100, with_betam=True
    ).collect()[0]
    assert not base["accepted"]  # nothing fits
    out = fit_continuous(
        df, ["g"], "v", ["i"], num_init=100, with_betam=True, use_empiric=True
    ).collect()[0]
    assert out["dist"] == "emp"
    assert out["stat"] is None
    assert not out["accepted"]  # gof outcome preserved; 'emp' is the class
    # without use_empiric the best (rejected) candidate name is kept
    assert base["dist"] != "emp" and base["stat"] is not None


def test_emp_ladder_two_sample_ks(spark):
    """emp groups slide a two-sample KS against the equidistant quantile
    subsample of the init values (s_gof_get_quantiles :1560-1574,
    s_gof_test :1621-1624): an identically-shaped chunk passes, a drifted
    chunk fails, and the chunk statistic equals an exact python ks_2samp
    against the reference-constructed subsample."""
    init = _emp_fixture_vals()
    # same shape: 25+25 points spanning the SAME cluster ranges (doubled
    # step, so the chunk ECDF tracks the init subsample's)
    chunk_same = [0.2 + i * 0.0008 for i in range(25)] + [
        0.8 + i * 0.0008 for i in range(25)
    ]
    chunk_drift = [0.5 + i * 0.0004 for i in range(50)]
    vals = init + chunk_same + chunk_drift
    df = spark.createDataFrame(_rows(vals), "g string, i long, v double")
    fitted = fit_continuous(
        df, ["g"], "v", ["i"], num_init=100, with_betam=True, use_empiric=True
    )
    out = s_gof_ladder(
        df, ["g"], "v", ["i"], fitted,
        num_init=100, num_s_gof_values=50, num_s_gof_bt=3, use_empiric=True,
    ).collect()
    by_chunk = {r["chunk"]: r for r in out}
    # reference subsample: indices int(num_init*j/(2*num_s)) of sorted init
    s = 50
    sorted_init = sorted(init)
    sub = [sorted_init[int(100 * j / (2 * s))] for j in range(2 * s)]
    crit2 = math.sqrt((2 * s + s) * math.log(2 / 0.05) / (2 * 2 * s * s))
    d0 = _ks2_exact(sub, chunk_same)
    d1 = _ks2_exact(sub, chunk_drift)
    assert by_chunk[0]["stat"] == pytest.approx(d0, abs=1e-9)
    assert by_chunk[1]["stat"] == pytest.approx(d1, abs=1e-9)
    assert bool(by_chunk[0]["failed"]) == (d0 > crit2)
    assert bool(by_chunk[1]["failed"]) == (d1 > crit2)
    assert not by_chunk[0]["failed"] and by_chunk[1]["failed"]


def test_betam_ladder_chunk_stat(spark):
    """betam groups slide the closed-form mixture ECDF scaled back to value
    space; chunk statistics match the exact python two-sample KS against
    the engine mixture, including values outside [vmin, vmax]."""
    init = _betam_fixture_vals()
    chunk_same = _betam_fixture_vals()[::2]  # 50 mixture-shaped values
    chunk_out = [8.0 + 0.01 * i for i in range(50)]  # beyond vmax
    vals = init + chunk_same + chunk_out
    df = spark.createDataFrame(_rows(vals), "g string, i long, v double")
    fitted = fit_continuous(df, ["g"], "v", ["i"], num_init=100, with_betam=True)
    assert fitted.collect()[0]["dist"] == "betam"
    out = s_gof_ladder(
        df, ["g"], "v", ["i"], fitted, num_init=100, num_s_gof_values=50
    ).collect()
    by_chunk = {r["chunk"]: r for r in out}
    lo, hi = min(init), max(init)
    mu = sum(init) / len(init)
    m = int((5.0 / 6.0 - (mu - lo) / (hi - lo)) * 1.5 * 1000.0 + 0.5)
    # strict: closed-form replica in value space (clip to [0,1] mirrors the
    # ladder's out-of-range saturation)
    def d_closed(chunk):
        s = sorted(chunk)
        n = len(s)
        d = 0.0
        for i, v in enumerate(s, start=1):
            xr = (v - lo) / (hi - lo)
            x = min(max(xr, 0.0), 1.0)
            f = 1.0 if xr > 1 else (0.0 if xr < 0 else _mix_cdf_le(x, m))
            hit = 1.0 if 0.0 <= xr <= 1.0 and x in (0.0, 1.0) else 0.0
            flt = 1.0 if xr > 1 else (0.0 if xr <= 0 else f - hit / 1000.0)
            d = max(d, abs(f - i / n), abs(flt - (i - 1) / n))
        return d

    assert by_chunk[0]["stat"] == pytest.approx(d_closed(chunk_same), abs=1e-9)
    assert by_chunk[1]["stat"] == pytest.approx(d_closed(chunk_out), abs=1e-9)
    # sanity vs the materialized mixture sample (one-grid-point tolerance)
    mix_scaled = [lo + (hi - lo) * x for x in _mix_points(m)]
    assert by_chunk[0]["stat"] == pytest.approx(
        _ks2_exact(mix_scaled, chunk_same), abs=2e-3
    )
    assert by_chunk[1]["stat"] == pytest.approx(
        _ks2_exact(mix_scaled, chunk_out), abs=2e-3
    )
    assert not by_chunk[0]["failed"] and by_chunk[1]["failed"]


def test_spec_candidate_with_injected_table(spark):
    """The 'spec' candidate takes its quantile table as configuration (the
    reference ships its self-generated table as data, VTDData.py): a sample
    drawn from the table selects 'spec', the statistic matches exact python
    ks_2samp in z-space, and the mirrored orientation is exposed as
    'spec_rev'."""
    import os
    import sys

    if os.path.isdir(REFERENCE_LIB):
        sys.path.insert(0, REFERENCE_LIB)
        try:
            from aminer.analysis import VTDData
        finally:
            sys.path.remove(REFERENCE_LIB)
        table = [float(x) for x in VTDData.quantiles["spec"]]
    else:  # synthetic left-skewed table, standardized like the reference's
        # (mean 0, population sd 1): the sample is compared in z-space
        raw = [((i + 0.5) / 1000.0) ** 0.35 for i in range(1000)]
        mu0 = sum(raw) / len(raw)
        sd0 = math.sqrt(sum((x - mu0) ** 2 for x in raw) / len(raw))
        table = sorted((x - mu0) / sd0 for x in raw)
    vals = [5.0 + 2.0 * table[j] for j in range(0, 1000, 10)]
    df = spark.createDataFrame(_rows(vals), "g string, i long, v double")
    out = fit_continuous(
        df, ["g"], "v", ["i"], num_init=100, spec_quantiles=table
    ).collect()[0]
    assert out["dist"] == "spec"
    mu = sum(vals) / len(vals)
    sd = math.sqrt(sum((v - mu) ** 2 for v in vals) / len(vals))
    zs = [(v - mu) / sd for v in vals]
    assert out["stat"] == pytest.approx(_ks2_exact(table, zs), abs=1e-9)
    # mirrored sample picks the reversed orientation
    vals_rev = [5.0 - 2.0 * table[j] for j in range(0, 1000, 10)]
    df_rev = spark.createDataFrame(_rows(vals_rev), "g string, i long, v double")
    out_rev = fit_continuous(
        df_rev, ["g"], "v", ["i"], num_init=100, spec_quantiles=table
    ).collect()[0]
    assert out_rev["dist"] == "spec_rev"


def test_cm_mods_match_reference_tables():
    """cm_boundary_mods regenerates the reference's boundary modifiers
    (VariableTypeDetector.py:360-385) from closed forms; the reference
    reads them from its numerically-tabulated 3-decimal quantile dicts
    (VTDData.quantiles) — both must agree within the tables' precision."""
    import os
    import sys

    from logdata_anomaly_miner_spark.operators.var_gof import cm_boundary_mods

    if not os.path.isdir(REFERENCE_LIB):
        pytest.skip("reference checkout not available")
    sys.path.insert(0, REFERENCE_LIB)
    try:
        from aminer.analysis import VTDData
    finally:
        sys.path.remove(REFERENCE_LIB)
    q = VTDData.quantiles
    for num_init in (50, 100, 150):
        pmin = max(0.001, int(1 / (num_init + 1) * 1000 + 0.5) / 1000)
        pmax = min(0.999, int(num_init / (num_init + 1) * 1000 + 0.5) / 1000)
        ref = {
            "min_uni": 1 / (num_init + 1),
            "max_uni": 1 / (num_init + 1),
            "min_b1": q["beta1"][pmin],
            "max_b1": 1 - q["beta1"][pmax],
            "min_b2": q["beta2"][pmin],
            "max_b2": 1 - q["beta2"][pmax],
            "min_b4": q["beta4"][pmin],
        }
        got = cm_boundary_mods(num_init)
        for k in ref:
            assert got[k] == pytest.approx(ref[k], abs=5e-4), (num_init, k)


def test_cm_mode_boundary_mod_statistic_matches_python(spark):
    """CM-mode uniform candidate with boundary modifiers: the engine's
    CvM statistic equals a plain-python replica of the reference's
    transformed test (uniform fixture; uni must still win and accept)."""
    from logdata_anomaly_miner_spark.operators.var_gof import cm_boundary_mods

    vals = [(i + 0.5) / 100 for i in range(100)]
    df = spark.createDataFrame(_rows(vals), "g string, i long, v double")
    out = fit_continuous(df, ["g"], "v", ["i"], num_init=100, test="CM").collect()[0]
    assert out["dist"] == "uni" and out["accepted"]
    M = cm_boundary_mods(100)
    lo, hi = min(vals), max(vals)
    n = len(vals)
    s = sorted(vals)
    w2 = 1.0 / (12.0 * n)
    for i, v in enumerate(s, start=1):
        x = (v - lo) / (hi - lo) * (1 - M["min_uni"] - M["max_uni"]) + M["min_uni"]
        x = min(max(x, 0.0), 1.0)
        w2 += (x - (2 * i - 1) / (2.0 * n)) ** 2
    assert out["stat"] == pytest.approx(w2, abs=1e-12)


def test_changed_var_types_alternative_walk(spark):
    """update_var_type failure path (reference :1199-1268): a failing chunk
    walks the init fit's accepted alternatives in init-significance order —
    an arcsine-shaped chunk moves a uni-fitted variable to beta1, a chunk
    outside every candidate's support drops it to 'others', and a
    conforming chunk emits nothing. Statistics and the chosen alternative
    are verified against a plain-python replica."""
    from logdata_anomaly_miner_spark.operators.var_gof import changed_var_types

    # chunk size 400: the uniform-vs-arcsine CDF gap is 0.1157, so chunks
    # must be long enough for crit = 1.3581/sqrt(n) to sit BELOW it
    init = [((i * 37) % 101) / 101.0 for i in range(100)]        # uniform
    chunk_ok = [((i * 41) % 400) / 400.0 for i in range(400)]    # uniform
    arcs = [math.sin(math.pi * ((i + 0.5) / 400) / 2) ** 2 for i in range(400)]
    lo, hi = min(init), max(init)
    chunk_b1 = [lo + (hi - lo) * a for a in arcs]                # arcsine
    chunk_out = [5.0 + 0.01 * i for i in range(400)]             # way out
    vals = init + chunk_ok + chunk_b1 + chunk_out
    df = spark.createDataFrame(_rows(vals), "g string, i long, v double")
    out = {r["chunk"]: r for r in changed_var_types(
        df, ["g"], "v", ["i"], num_init=100, num_s_gof_values=400
    ).collect()}
    # python replica: candidate stats on init and per chunk
    mu = sum(init) / len(init)
    sd = math.sqrt(sum((x - mu) ** 2 for x in init) / len(init))

    def ks(vals_, cdf):
        s_ = sorted(vals_)
        n = len(s_)
        return max(
            max(i / n - cdf(x), cdf(x) - (i - 1) / n)
            for i, x in enumerate(s_, start=1)
        )

    clip = lambda x: min(max(x, 0.0), 1.0)
    f_uni = lambda x: clip((x - lo) / (hi - lo))
    f_b1 = lambda x: 2 / math.pi * math.asin(math.sqrt(clip((x - lo) / (hi - lo))))
    crit_init = math.sqrt(-math.log(0.025) / 2) / math.sqrt(100)
    crit_chunk = math.sqrt(-math.log(0.025) / 2) / math.sqrt(400)
    assert ks(init, f_uni) < crit_init          # uni fitted
    assert ks(init, f_b1) < crit_init           # beta1 is an alternative
    # chunk 0 conforms -> no event
    assert ks(chunk_ok, f_uni) < crit_chunk and 0 not in out
    # chunk 1: uni fails, beta1 passes -> changed to beta1
    assert ks(chunk_b1, f_uni) >= crit_chunk and ks(chunk_b1, f_b1) < crit_chunk
    assert out[1]["old_dist"] == "uni" and out[1]["new_dist"] == "beta1"
    assert out[1]["stat"] == pytest.approx(ks(chunk_b1, f_uni), abs=1e-9)
    d = ks(chunk_b1, f_uni)
    assert out[1]["confidence"] == pytest.approx(
        1 / (1 + math.exp(-2 * d)) * 1.1353352832366128, abs=1e-9
    )
    # chunk 2: everything fails -> others
    assert out[2]["old_dist"] == "uni" and out[2]["new_dist"] == "others"
