"""VariableTypeDetector goodness-of-fit core.

Re-expresses the continuous-distribution machinery of VariableTypeDetector
(aminer/analysis/VariableTypeDetector.py):

- ``detect_continuous_shape`` (:969-1150): fit candidate distributions to
  the first ``num_init`` values of a variable and pick the best by
  goodness-of-fit. The reference tests uniform, normal and four/five beta
  shapes via scipy's one-sample KS (or CvM) test; scipy is not available
  here, so the same statistics are computed in closed form as column
  expressions — the KS one-sample statistic only needs the candidate CDF,
  and every candidate CDF has an elementary form:
    * uniform(min,max):      F(x) = (x-min)/(max-min)
    * normal(μ,σ):           F(x) = (1+erf((x-μ)/(σ√2)))/2
    * beta(0.5,0.5) scaled:  F(x) = 2/π·asin(√x)   (arcsine law)
    * beta(a,b) integer a,b: I(x;a,b) = Σ_{j=a}^{a+b-1} C(a+b-1,j)
                              x^j (1-x)^{a+b-1-j}  (polynomial)
  The standardizations match the reference exactly (e.g. beta(5,2) values
  enter as (v-μ)/σ·√(10/8)/7 + 5/7, :1020-1046).
- acceptance: p-value of the one-sample KS test is a function of (n, D)
  only, so the reference's argmax-significance choice equals argmin D here,
  and "p > gof_alpha" equals "D < c(α)/√n" with the asymptotic
  c(α) = √(−ln(α/2)/2) (c(0.05) ≈ 1.3581); for CvM the asymptotic
  critical value at α=0.05 is 0.4614 (the reference ships the same
  literature constants as lookup tables, crit_val_ini_cm).
- ``s_gof_test`` + binomial ladder (:1558-1700, num_s_gof_values /
  num_s_gof_bt / s_gof_bt_alpha): after the first num_init values, each
  consecutive chunk of ``num_s_gof_values`` values is KS-tested against
  the FITTED distribution (pass/fail); a sliding window of the last
  ``num_s_gof_bt`` chunk results raises an alarm when the number of fails
  reaches the binomial critical value at s_gof_bt_alpha.

- ``betam`` / ``spec`` / ``emp`` candidates (:1065-1091, :1161-1162,
  s_gof_get_quantiles :1558-1603): the mixed-beta candidate compares the
  min-max-scaled sample against a 1000-point mixture of beta(1,5) and
  beta(5,1) quantiles (proportion from the sample mean's relative position)
  with a two-sample KS; 'spec' compares the standardized sample against a
  caller-supplied quantile table (the reference ships its self-generated
  table as data in VTDData.py — the engine takes it as configuration);
  'emp' is the fallback classification when no candidate is accepted and
  ``use_empiric`` is set, and its sliding test is a two-sample KS against
  an equidistant quantile subsample of the init values.

  Documented deviations (all selection-preserving, verified by tests):
  * The reference's betam1/betam2 tables (VTDData.quantiles) are 3-decimal
    linearly-interpolated beta(1,5)/beta(5,1) quantiles on an i/999 grid;
    the engine evaluates the exact closed forms q15(u) = 1-(1-u)^(1/5) and
    q51(u) = u^(1/5) on the same grid (max pointwise gap to the shipped
    table <= 1.5e-3), and spreads the round(1000·proportion) component-1
    grid slots with exact integer (Bresenham) arithmetic instead of
    int(round(i/proportion)) so Spark and the DuckDB oracle compute
    bit-identical memberships. The mixture's ECDF then has a CLOSED FORM
    (no per-row array scan): #component-1 points <= x is
    floor((floor(999·F15(x))+1)·m/1000) by telescoping the Bresenham rule.
  * Candidate selection follows the reference's p-value branch
    (:997,1006,...: the `else` arms taken when (gof_alpha, num_init) miss
    the crit_val_ini lookup): all candidates compared on the asymptotic
    Kolmogorov scale c = D·sqrt(n_eff) (n_eff = n·m/(n+m) for two-sample),
    argmin c == argmax p. The tabulated branch's direction quirk — betam /
    spec append a SCALED STATISTIC (ks_2samp(...)[0]/crit·1.4, :1067-1091)
    into a list otherwise holding significances and selected by argmax —
    is not reproduced; nor is scipy's exact-vs-asymptotic p switching.

Everything is per-(group, variable) window algebra — one sort per group,
map-side aggregation for the fit statistics; no UDF, no driver loop. The
betam mixture CDF is pure scalar arithmetic per row (whole-stage codegen);
the emp/spec reference samples are bounded arrays (2·num_s_gof_values or
|table| elements) carried per group, scanned with JVM-side lambda filters.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# one-sided standard normal quantile at alpha = 0.05: a Wilson–Hilferty z
# above it rejects the chi² test
Z_ALPHA = 1.6448536269514722


def _clip01(x: Column) -> Column:
    return F.least(F.greatest(x, F.lit(0.0)), F.lit(1.0))


def _norm_cdf(z: Column) -> Column:
    """Standard normal CDF via the Abramowitz & Stegun 26.2.17 polynomial
    (|err| < 7.5e-8). Used instead of erf so the DuckDB oracle can evaluate
    the IDENTICAL formula (DuckDB has no erf); both engines then agree to
    the last ulp, not just to the approximation error."""
    az = F.abs(z)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.2316419) * az)
    poly = t * (
        F.lit(0.319381530)
        + t
        * (
            F.lit(-0.356563782)
            + t * (F.lit(1.781477937) + t * (F.lit(-1.821255978) + t * F.lit(1.330274429)))
        )
    )
    pdf = F.exp(-az * az / F.lit(2.0)) * F.lit(0.3989422804014327)
    upper = F.lit(1.0) - pdf * poly
    return F.when(z >= 0, upper).otherwise(F.lit(1.0) - upper)


def _beta_int_cdf(x: Column, a: int, b: int) -> Column:
    """Regularized incomplete beta I(x; a, b) for integer a, b:
    I(x;a,b) = Σ_{j=a}^{n} C(n,j) x^j (1-x)^{n-j} with n = a+b-1."""
    n = a + b - 1
    x = _clip01(x)
    out = F.lit(0.0)
    for j in range(a, n + 1):
        out = out + F.lit(float(math.comb(n, j))) * F.pow(x, F.lit(float(j))) * F.pow(
            1 - x, F.lit(float(n - j))
        )
    return out


def _beta_int_quantile(pp: float, a: int, b: int) -> float:
    """Quantile of beta(a, b) for integer a, b by bisection on the
    closed-form polynomial CDF (pure driver-side math — regenerates the
    reference's numerically-tabulated offsets, VTDData.quantiles, from
    first principles)."""
    n = a + b - 1

    def cdf(x: float) -> float:
        return sum(
            math.comb(n, j) * x**j * (1 - x) ** (n - j) for j in range(a, n + 1)
        )

    lo, hi = 0.0, 1.0
    for _ in range(80):
        mid = (lo + hi) / 2.0
        if cdf(mid) < pp:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2.0


def cm_boundary_mods(num_init: int) -> dict[str, float]:
    """The reference's CM-mode min/max boundary modifiers
    (VariableTypeDetector.py:360-385): the expected positions of the sample
    minimum/maximum under each candidate — uniform gets the exact
    1/(n+1), the betas the p = round3(1/(n+1)) / round3(n/(n+1))
    quantiles. The reference reads those quantiles from its shipped
    3-decimal tables (VTDData.quantiles['beta1'/'beta2'/'beta4']); the
    engine evaluates the exact closed forms (arcsine sin²(πp/2) for
    beta(0.5,0.5), 1-(1-p)^(1/5) for beta(1,5), polynomial-CDF bisection
    for beta(5,2)) — pointwise within ~5e-4 of the tables, asserted by
    test_cm_mods_match_reference_tables."""
    pmin = max(0.001, int(1 / (num_init + 1) * 1000 + 0.5) / 1000)
    pmax = min(0.999, int(num_init / (num_init + 1) * 1000 + 0.5) / 1000)
    return {
        "min_uni": 1.0 / (num_init + 1),
        "max_uni": 1.0 / (num_init + 1),
        "min_b1": math.sin(math.pi * pmin / 2.0) ** 2,
        "max_b1": 1.0 - math.sin(math.pi * pmax / 2.0) ** 2,
        "min_b2": _beta_int_quantile(pmin, 5, 2),
        "max_b2": 1.0 - _beta_int_quantile(pmax, 5, 2),
        "min_b4": 1.0 - (1.0 - pmin) ** 0.2,
    }


def candidate_cdfs(
    v: Column,
    mn: Column,
    mx: Column,
    mu: Column,
    sigma: Column,
    cm_mods: dict[str, float] | None = None,
) -> list[tuple[str, Column]]:
    """(name, F(v)) per candidate, standardized exactly like the reference
    (VariableTypeDetector.py:984-1046 for the KS branch; with ``cm_mods``
    the CM branch's boundary-modified transformations, :1105-1150 — the
    sample min/max are mapped to their EXPECTED positions under each
    candidate instead of to 0/1, and beta4/beta5 anchor on the sample mean
    rather than z-scores). mn/mx/mu/sigma are per-group aggregate columns
    over the init sample.

    nullif guards: for a CONSTANT group sigma = 0 and mx = mn, and ANSI
    mode (Spark 4 default) raises DIVIDE_BY_ZERO even for doubles — the
    degenerate group must flow through as nulls (classified 'static'
    downstream), not abort the job."""
    z = (v - mu) / F.nullif(sigma, F.lit(0.0))
    rng = F.nullif(mx - mn, F.lit(0.0))
    x01 = (v - mn) / rng
    if cm_mods is not None:
        M = cm_mods
        x_uni = x01 * F.lit(1.0 - M["min_uni"] - M["max_uni"]) + F.lit(M["min_uni"])
        x_b1 = x01 * F.lit(1.0 - M["min_b1"] - M["max_b1"]) + F.lit(M["min_b1"])
        x_b2 = x01 * F.lit(1.0 - M["max_b2"] - M["min_b2"]) + F.lit(M["min_b2"])
        x_b3 = x01 * F.lit(1.0 - M["max_b2"] - M["min_b2"]) + F.lit(M["max_b2"])
        x_b4 = (v - mn) / F.nullif(mu - mn, F.lit(0.0)) * F.lit(
            1.0 / 6.0 - M["min_b4"]
        ) + F.lit(M["min_b4"])
        x_b5 = (v - mx) / F.nullif(mx - mu, F.lit(0.0)) * F.lit(
            1.0 / 6.0 - M["min_b4"]
        ) + F.lit(1.0 - M["min_b4"])
        return [
            ("uni", _clip01(x_uni)),
            ("nor", _norm_cdf(z)),
            ("beta1", F.lit(2.0 / math.pi) * F.asin(F.sqrt(_clip01(x_b1)))),
            ("beta2", _beta_int_cdf(x_b2, 5, 2)),
            ("beta3", _beta_int_cdf(x_b3, 2, 5)),
            ("beta4", _beta_int_cdf(x_b4, 1, 5)),
            ("beta5", _beta_int_cdf(x_b5, 5, 1)),
        ]
    return [
        ("uni", _clip01(x01)),
        ("nor", _norm_cdf(z)),
        # arcsine beta(0.5, 0.5) on the min-max-scaled value
        (
            "beta1",
            F.lit(2.0 / math.pi) * F.asin(F.sqrt(_clip01(x01))),
        ),
        # beta(5,2): z·√(10/8)/7 + 5/7
        (
            "beta2",
            _beta_int_cdf(z * F.lit(math.sqrt(10.0 / 8.0) / 7.0) + F.lit(5.0 / 7.0), 5, 2),
        ),
        # beta(2,5): z·√(10/8)/7 + 2/7
        (
            "beta3",
            _beta_int_cdf(z * F.lit(math.sqrt(10.0 / 8.0) / 7.0) + F.lit(2.0 / 7.0), 2, 5),
        ),
        # beta(1,5): z·√(5/7)/6 + 1/6
        (
            "beta4",
            _beta_int_cdf(z * F.lit(math.sqrt(5.0 / 7.0) / 6.0) + F.lit(1.0 / 6.0), 1, 5),
        ),
        # beta(5,1): z·√(5/7)/6 + 5/6
        (
            "beta5",
            _beta_int_cdf(z * F.lit(math.sqrt(5.0 / 7.0) / 6.0) + F.lit(5.0 / 6.0), 5, 1),
        ),
    ]


def _gof_terms(test: str, cdf: Column, rn: Column, n: Column) -> Column:
    """Per-row contribution whose per-group MAX (KS) / SUM (CvM) yields the
    statistic; rn is the 1-based rank of the value within the group."""
    if test == "KS":
        return F.greatest(rn / n - cdf, cdf - (rn - 1) / n)
    if test == "CM":
        return F.pow(cdf - (2 * rn - 1) / (2 * n), F.lit(2.0))
    raise ValueError(f"unknown gof test {test!r}")


def _betam_slots(mu: Column, vmin: Column, vmax: Column) -> Column:
    """Number m of beta(1,5) grid slots in the 1000-point mixture, or null
    when the group is ineligible (reference :1065-1067: the betam candidate
    is only tested when 1/6 < (ev-min)/(max-min) < 5/6; proportion =
    ((ev-min)/(max-min) - 5/6)/(-4/6))."""
    rel = (mu - vmin) / F.nullif(vmax - vmin, F.lit(0.0))
    p = (F.lit(5.0 / 6.0) - rel) * F.lit(1.5)
    eligible = (rel > F.lit(1.0 / 6.0)) & (rel < F.lit(5.0 / 6.0))
    return F.when(eligible, F.floor(p * F.lit(1000.0) + F.lit(0.5)).cast("long"))


def _betam_cdf_le(x01: Column, m: Column) -> Column:
    """Closed-form ECDF F(x) = #{mixture points <= x}/1000 of the 1000-point
    beta(1,5)/beta(5,1) quantile mixture (grid u_j = j/999, j = 0..999;
    component 1 occupies the m Bresenham slots {j : floor((j+1)m/1000) >
    floor(jm/1000)}). q15(u) <= x  <=>  j <= 999·F15(x) with
    F15(x) = 1-(1-x)^5, and #{j <= K, j in slots} telescopes to
    floor((K+1)·m/1000); analogously for component 2 with F51(x) = x^5.
    Powers are written as explicit multiplications so Spark and the DuckDB
    oracle produce bit-identical doubles (libm pow may differ in the last
    ulp, which could flip the floor at near-integer arguments).
    ``x01`` must already be clipped to [0, 1]."""
    omx = F.lit(1.0) - x01
    omx2 = omx * omx
    f15 = F.lit(1.0) - omx2 * omx2 * omx
    x2 = x01 * x01
    f51 = x2 * x2 * x01
    k1 = F.least(F.floor(F.lit(999.0) * f15), F.lit(999.0)).cast("long")
    k2 = F.least(F.floor(F.lit(999.0) * f51), F.lit(999.0)).cast("long")
    cnt1 = F.floor((k1 + F.lit(1)) * m / F.lit(1000.0))
    cnt2 = (k2 + F.lit(1)).cast("double") - F.floor((k2 + F.lit(1)) * m / F.lit(1000.0))
    return (cnt1 + cnt2) / F.lit(1000.0)


def _betam_terms(
    v: Column, mn: Column, mx: Column, m: Column, rn: Column, n: Column
) -> Column:
    """Per-row two-sample KS contribution for the betam candidate: with
    F1 the mixture ECDF and the row the rank-rn observation of n, the exact
    sup|F1 - F2| is max over rows of max(|F1(x) - rn/n|,
    |F1(x⁻) - (rn-1)/n|); F1(x⁻) differs from F1(x) only at the grid's
    exact boundary points x ∈ {0, 1} (exactly one mixture point sits at
    each: slot 999 is always component 1 with q15(1) = 1, slot 0 never is,
    so q51(0) = 0), where it is one mixture point lower."""
    rng = F.nullif(mx - mn, F.lit(0.0))
    x01 = _clip01((v - mn) / rng)
    f1 = _betam_cdf_le(x01, m)
    hit = F.when((x01 == F.lit(0.0)) | (x01 == F.lit(1.0)), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    a = F.abs(f1 - rn / n)
    b = F.abs(f1 - hit / F.lit(1000.0) - (rn - 1) / n)
    return F.when(m.isNotNull(), F.greatest(a, b))


def _table_ks_terms(
    table: Sequence[float], z: Column, rn: Column, n: Column
) -> Column:
    """Per-row two-sample KS contribution against a LITERAL quantile table
    (the 'spec' candidate, reference :1080-1091): F1le/F1lt are evaluated
    with JVM-side lambda filters over the table array (exact, tie-safe);
    rn must be the 1-based rank of z within the group (ascending)."""
    arr = F.lit([float(q) for q in table])
    ln = float(len(table))
    f1le = F.size(F.filter(arr, lambda e: e <= z)) / F.lit(ln)
    f1lt = F.size(F.filter(arr, lambda e: e < z)) / F.lit(ln)
    return F.greatest(F.abs(f1le - rn / n), F.abs(f1lt - (rn - 1) / n))


def fit_continuous(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    order_cols: Sequence[str],
    num_init: int = 100,
    test: str = "KS",
    with_betam: bool = False,
    use_empiric: bool = False,
    spec_quantiles: Sequence[float] | None = None,
) -> DataFrame:
    """Per group: best-fitting candidate over the first ``num_init`` values
    (event order), with the gof statistic and acceptance flag.

    ``with_betam`` adds the mixed-beta two-sample candidate and
    ``spec_quantiles`` the 'spec'/'spec_rev' pair (both KS mode only — the
    reference's CM branch tests only uni/nor/beta, :1105-1150, so they are
    ignored under test='CM'). ``use_empiric`` reclassifies groups where no
    candidate is accepted as dist='emp' with a null statistic (reference
    :1161-1162 returns ['emp', ev, sigma]); accepted stays False for them —
    it reports the gof outcome, 'emp' the resulting classification.
    Two-sample candidates are compared with the one-sample ones on the
    asymptotic Kolmogorov scale c = D·sqrt(n_eff), n_eff = n·m/(n+m).

    Returns group_cols + (dist, stat, n, mu, sigma, vmin, vmax, accepted).
    """
    v = F.col(value_col).cast("double")
    w_ord = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c) for c in order_cols]
    )
    init = (
        df.filter(v.isNotNull())
        .withColumn("_ern", F.row_number().over(w_ord))
        .filter(F.col("_ern") <= num_init)
        .select(*group_cols, v.alias("_v"))
    )
    stats = init.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("_v").alias("vmin"),
        F.max("_v").alias("vmax"),
        F.avg("_v").alias("mu"),
        F.stddev_pop("_v").alias("sigma"),
    )
    ranked = init.join(stats, list(group_cols)).withColumn(
        "_rn",
        F.row_number()
        .over(Window.partitionBy(*group_cols).orderBy("_v"))
        .cast("double"),
    )
    rn, n = F.col("_rn"), F.col("n").cast("double")
    two_sample: list[tuple[str, Column, float]] = []  # (name, term, ref size)
    if test == "KS" and with_betam:
        two_sample.append(
            (
                "betam",
                _betam_terms(
                    F.col("_v"),
                    F.col("vmin"),
                    F.col("vmax"),
                    _betam_slots(F.col("mu"), F.col("vmin"), F.col("vmax")),
                    rn,
                    n,
                ),
                1000.0,
            )
        )
    if test == "KS" and spec_quantiles is not None:
        z = (F.col("_v") - F.col("mu")) / F.nullif(F.col("sigma"), F.lit(0.0))
        # ascending rank of -z is n - rn + 1 (z is monotone in _v)
        two_sample.append(
            ("spec", _table_ks_terms(spec_quantiles, z, rn, n), float(len(spec_quantiles)))
        )
        neg_table = sorted(-float(q) for q in spec_quantiles)
        two_sample.append(
            (
                "spec_rev",
                _table_ks_terms(neg_table, z, rn, n),
                float(len(spec_quantiles)),
            )
        )
    mods = cm_boundary_mods(num_init) if test == "CM" else None
    terms = ranked.select(
        *group_cols,
        "n",
        "vmin",
        "vmax",
        "mu",
        "sigma",
        *[
            _gof_terms(test, cdf, rn, n).alias(f"_t_{name}")
            for name, cdf in candidate_cdfs(
                F.col("_v"),
                F.col("vmin"),
                F.col("vmax"),
                F.col("mu"),
                F.col("sigma"),
                cm_mods=mods,
            )
        ],
        *[term.alias(f"_t_{name}") for name, term, _ in two_sample],
    )
    names = [name for name, _ in candidate_cdfs(F.lit(0.0), F.lit(0.0), F.lit(1.0), F.lit(0.0), F.lit(1.0))]
    if test == "KS":
        aggs = [F.max(f"_t_{name}").alias(f"_s_{name}") for name in names]
    else:
        aggs = [
            (F.sum(f"_t_{name}") + F.lit(1.0) / (12.0 * F.first("n"))).alias(
                f"_s_{name}"
            )
            for name in names
        ]
    aggs += [F.max(f"_t_{name}").alias(f"_s_{name}") for name, _, _ in two_sample]
    fitted = terms.groupBy(*group_cols, "n", "vmin", "vmax", "mu", "sigma").agg(*aggs)
    # argmin across candidates on the comparable scale (ties: candidate
    # order, matching the reference's max-significance scan). For one-sample
    # candidates the scale column equals the raw statistic times sqrt(n) —
    # a shared monotone factor, so the one-sample-only ordering (and the
    # legacy raw-D acceptance) is unchanged; two-sample candidates enter
    # with their effective size n_eff = n·m/(n+m).
    nd = F.col("n").cast("double")
    entries = [
        F.struct(
            (F.col(f"_s_{name}") * F.sqrt(nd)).alias("scale"),
            F.lit(i).alias("ord"),
            F.lit(name).alias("dist"),
            F.col(f"_s_{name}").alias("raw"),
        )
        for i, name in enumerate(names)
    ]
    entries += [
        F.struct(
            (
                F.col(f"_s_{name}") * F.sqrt(nd * F.lit(m_ref) / (nd + F.lit(m_ref)))
            ).alias("scale"),
            F.lit(len(names) + j).alias("ord"),
            F.lit(name).alias("dist"),
            F.col(f"_s_{name}").alias("raw"),
        )
        for j, (name, _, m_ref) in enumerate(two_sample)
    ]
    packed = F.array(*entries)
    best = F.array_min(F.filter(packed, lambda s: s["scale"].isNotNull()))
    if test == "KS":
        crit_scale = F.lit(math.sqrt(-math.log(0.05 / 2.0) / 2.0))
        accepted_expr = F.col("_scale") < crit_scale
    else:
        # asymptotic one-sample CvM crit at alpha=0.05 (raw-statistic scale;
        # CvM mode has no two-sample candidates, so scale/sqrt(n) = raw)
        accepted_expr = F.col("stat") < F.lit(0.4614)
    # degenerate (constant) groups: vmax == vmin makes every candidate CDF
    # 0/0 -> all stats null -> _best null, and accepted = (null < crit)
    # would be neither true nor false, silently dropping the group from
    # BOTH filter(accepted) and filter(~accepted). A constant sample is
    # the reference's STATIC variable type — classify it as such,
    # trivially accepted, rather than emitting nulls.
    degenerate = F.col("vmax") == F.col("vmin")
    out = (
        fitted.withColumn("_best", best)
        .select(
            *group_cols,
            F.when(degenerate, F.lit("static"))
            .otherwise(F.col("_best.dist"))
            .alias("dist"),
            F.when(degenerate, F.lit(0.0)).otherwise(F.col("_best.raw")).alias("stat"),
            "n",
            "mu",
            "sigma",
            "vmin",
            "vmax",
            degenerate.alias("_deg"),
            F.col("_best.scale").alias("_scale"),
        )
        .withColumn(
            "accepted", F.when(F.col("_deg"), F.lit(True)).otherwise(accepted_expr)
        )
        .drop("_deg", "_scale")
    )
    if use_empiric:
        # reference :1161-1162: when no continuous shape is accepted the
        # variable becomes the empirical distribution ['emp', ev, sigma];
        # the losing candidate's statistic is discarded with it.
        fallthrough = (~F.col("accepted")) & (F.col("dist") != "static")
        out = out.withColumn(
            "stat", F.when(fallthrough, F.lit(None).cast("double")).otherwise(F.col("stat"))
        ).withColumn(
            "dist", F.when(fallthrough, F.lit("emp")).otherwise(F.col("dist"))
        )
    return out


def binomial_critical(n: int, p: float, alpha: float) -> int:
    """Smallest k with P(Bin(n, p) >= k) <= alpha (upper-tail test)."""
    tail = 1.0
    cum = 0.0
    for k in range(n + 1):
        cum += math.comb(n, k) * (p**k) * ((1 - p) ** (n - k))
        if 1.0 - cum <= alpha:  # P(X >= k+1) <= alpha
            return k + 1
    return n + 1


def s_gof_ladder(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    order_cols: Sequence[str],
    fitted: DataFrame,
    num_init: int = 100,
    num_s_gof_values: int = 50,
    s_gof_alpha: float = 0.05,
    num_s_gof_bt: int = 30,
    s_gof_bt_alpha: float = 0.05,
    use_empiric: bool = False,
) -> DataFrame:
    """Sliding gof + binomial ladder (reference s_gof_test :1605-1700):
    values after the init sample are cut into consecutive chunks of
    ``num_s_gof_values``; each full chunk is gof-tested against the FITTED
    distribution with a KS test (fail = statistic above the α critical
    value); an alarm
    fires on chunks where the fail count within the trailing
    ``num_s_gof_bt`` chunks reaches the binomial critical value.

    Groups fitted as 'emp' / 'betam' are tested with the reference's
    TWO-SAMPLE branch (s_gof_test's final else + the s_gof_get_quantiles
    tables, :1558-1603,1621-1624): 'emp' against the
    2·num_s_gof_values-point equidistant quantile subsample of the init
    values, 'betam' against the closed-form 1000-point mixture ECDF scaled
    back to value space. Their critical
    value is the reference's two-sample formula with num_distr_val fixed at
    2·num_s_gof_values (:1610 — the reference uses that constant even for
    the 1000-point betam table; mirrored, cited) and failure is strict
    ``stat > crit`` as in the reference.

    Returns group_cols + (chunk, stat, failed, n_fails, n_tests, alarm).

    Pass ``use_empiric=True`` when (and only when) the fit was produced
    with use_empiric — it adds the per-group init-quantile subsample build
    (one extra ordered pass over the input plus a join); leaving it False
    keeps the plan free of that machinery for fits that cannot contain
    'emp' groups.

    Groups whose fit is 'static' (constant init sample) are EXCLUDED: a
    static variable has no continuous CDF to slide against — the
    reference routes such variables to the discrete/static d_test path
    (fit_discrete / d_test_ladder), not s_gof.
    """
    fitted = fitted.filter(F.col("dist") != "static")
    v = F.col(value_col).cast("double")
    w_ord = Window.partitionBy(*group_cols).orderBy(*[F.col(c) for c in order_cols])
    numbered = (
        df.filter(v.isNotNull())
        .withColumn("_ern", F.row_number().over(w_ord))
    )
    chunked = (
        numbered.filter(F.col("_ern") > num_init)
        .withColumn(
            "chunk", F.floor((F.col("_ern") - num_init - 1) / num_s_gof_values)
        )
        .select(*group_cols, "chunk", v.alias("_v"))
        .join(
            fitted.select(*group_cols, "dist", "mu", "sigma", "vmin", "vmax"),
            list(group_cols),
        )
    )
    m0 = 2 * num_s_gof_values
    # 'emp' groups carry their init-sample quantile subsample as a bounded
    # per-group array (reference s_gof_get_quantiles :1560-1574: indices
    # int(num_init·j/(2·num_s_gof_values)) into the SORTED init sample; the
    # index scale uses the group's ACTUAL init count so a group shorter
    # than num_init — which the reference never fits — subsamples its full
    # sample instead of indexing out of bounds under ANSI mode)
    sz = F.size(F.col("_init_sorted"))
    if use_empiric:
        emp_arrs = (
            numbered.filter(F.col("_ern") <= num_init)
            .join(
                fitted.filter(F.col("dist") == "emp").select(*group_cols),
                list(group_cols),
                "left_semi",
            )
            .groupBy(*group_cols)
            .agg(F.sort_array(F.collect_list(v)).alias("_init_sorted"))
            .select(
                *group_cols,
                F.array(
                    *[
                        F.get(
                            "_init_sorted",
                            F.floor(sz * F.lit(j) / F.lit(m0)).cast("int"),
                        )
                        for j in range(m0)
                    ]
                ).alias("_emp_arr"),
            )
        )
        chunked = chunked.join(emp_arrs, list(group_cols), "left")
    ranked = chunked.withColumn(
        "_rn",
        F.row_number()
        .over(Window.partitionBy(*group_cols, "chunk").orderBy("_v"))
        .cast("double"),
    ).withColumn(
        "_cn",
        F.count(F.lit(1))
        .over(
            Window.partitionBy(*group_cols, "chunk").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("double"),
    )
    cdf_by_name = candidate_cdfs(
        F.col("_v"), F.col("vmin"), F.col("vmax"), F.col("mu"), F.col("sigma")
    )
    # select the fitted distribution's CDF via a chained when() on dist
    sel = F.lit(None).cast("double")
    for name, expr in cdf_by_name:
        sel = F.when(F.col("dist") == name, expr).otherwise(sel)
    term = _gof_terms("KS", sel, F.col("_rn"), F.col("_cn"))
    rn, cn = F.col("_rn"), F.col("_cn")
    two_names = []
    if use_empiric:
        # emp: exact two-sample KS vs the stored m0-point subsample
        le = F.size(F.filter("_emp_arr", lambda e: e <= F.col("_v"))) / F.lit(
            float(m0)
        )
        lt = F.size(F.filter("_emp_arr", lambda e: e < F.col("_v"))) / F.lit(
            float(m0)
        )
        term = F.when(
            F.col("dist") == "emp",
            F.greatest(F.abs(le - rn / cn), F.abs(lt - (rn - 1) / cn)),
        ).otherwise(term)
        two_names.append("emp")
    # betam: closed-form mixture ECDF in scaled space; chunk values may
    # leave [vmin, vmax], where the mixture ECDF saturates at 0 / 1
    rng = F.nullif(F.col("vmax") - F.col("vmin"), F.lit(0.0))
    xr = (F.col("_v") - F.col("vmin")) / rng
    slots = _betam_slots(F.col("mu"), F.col("vmin"), F.col("vmax"))
    f1le = (
        F.when(xr < 0, F.lit(0.0))
        .when(xr > 1, F.lit(1.0))
        .otherwise(_betam_cdf_le(xr, slots))
    )
    hit = F.when((xr == F.lit(0.0)) | (xr == F.lit(1.0)), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    f1lt = (
        F.when(xr <= 0, F.lit(0.0))
        .when(xr > 1, F.lit(1.0))
        .otherwise(f1le - hit / F.lit(1000.0))
    )
    term = F.when(
        F.col("dist") == "betam",
        F.greatest(F.abs(f1le - rn / cn), F.abs(f1lt - (rn - 1) / cn)),
    ).otherwise(term)
    two_names.append("betam")
    agg = F.max(term).alias("stat")
    crit = F.lit(math.sqrt(-math.log(s_gof_alpha / 2.0) / 2.0)) / F.sqrt(
        F.lit(float(num_s_gof_values))
    )
    # reference :1610-1618: two-sample critical value with num_distr_val
    # pinned at 2·num_s_gof_values, strict > for failure
    crit2 = F.lit(
        math.sqrt(
            (m0 + num_s_gof_values)
            * math.log(2.0 / s_gof_alpha)
            / (2.0 * m0 * num_s_gof_values)
        )
    )
    failed = F.when(
        F.col("dist").isin(two_names),
        F.col("stat") > crit2,
    ).otherwise(F.col("stat") >= crit)
    per_chunk = (
        ranked.groupBy(*group_cols, "chunk", "dist")
        .agg(agg, F.max("_cn").alias("cn"))
        .filter(F.col("cn") >= num_s_gof_values)  # only full chunks are tested
        .withColumn("failed", failed)
        .drop("dist")
    )
    bt = Window.partitionBy(*group_cols).orderBy("chunk").rowsBetween(
        -(num_s_gof_bt - 1), 0
    )
    k_crit = binomial_critical(num_s_gof_bt, s_gof_alpha, s_gof_bt_alpha)
    return (
        per_chunk.withColumn(
            "n_fails", F.sum(F.col("failed").cast("int")).over(bt)
        )
        .withColumn("n_tests", F.count(F.lit(1)).over(bt))
        .withColumn(
            "alarm",
            (F.col("n_tests") >= num_s_gof_bt) & (F.col("n_fails") >= k_crit),
        )
        .drop("cn")
    )


def bt_min_successes(num_bt: int, p: float, alpha: float) -> int:
    """Minimal number of successes for the binomial test at significance
    alpha (reference bt_min_successes :2096-2110): walk the failure tail
    until the cumulative probability exceeds alpha."""
    s = 0.0
    for i in range(num_bt + 1):
        s += math.comb(num_bt, i) * ((1 - p) ** i) * (p ** (num_bt - i))
        if s > alpha:
            return num_bt - i
    return 0


def fit_discrete(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    order_cols: Sequence[str],
    num_init: int = 100,
) -> DataFrame:
    """Discrete/static variable baseline (reference detect_var_type
    :887-965, discrete branch :958-965): per group, classify the first
    ``num_init`` values and learn the value-probability list.

    Classification over the init sample (one distinct-count aggregate):
    - 'stat'   — exactly one distinct value (:896-897)
    - 'unq'    — every value distinct (:951-953; the reference also
      requires non-float values, folded into the caller's column choice)
    - 'others' — num_diff >= num_init·0.9 (:954-956)
    - 'd'      — otherwise: discrete, with p(v) = count(v)/n (:958-965)

    Returns one row per (group, value): group_cols + (var_kind, value, p,
    n_init, num_diff) — 'stat' groups carry their single value with p=1;
    'unq'/'others' groups keep their rows so the caller can filter or
    inspect, with p still the empirical probability."""
    v = F.col(value_col).cast("string")
    w_ord = Window.partitionBy(*group_cols).orderBy(*[F.col(c) for c in order_cols])
    init = (
        df.filter(v.isNotNull())
        .withColumn("_ern", F.row_number().over(w_ord))
        .filter(F.col("_ern") <= num_init)
        .select(*group_cols, v.alias("value"))
    )
    counts = init.groupBy(*group_cols, "value").agg(F.count(F.lit(1)).alias("_cnt"))
    totals = counts.groupBy(*group_cols).agg(
        F.sum("_cnt").alias("n_init"), F.count(F.lit(1)).alias("num_diff")
    )
    kind = (
        F.when(F.col("num_diff") == 1, F.lit("stat"))
        .when(F.col("num_diff") == F.col("n_init"), F.lit("unq"))
        .when(
            F.col("num_diff")
            >= F.col("n_init").cast("double") * F.lit(0.9),
            F.lit("others"),
        )
        .otherwise(F.lit("d"))
    )
    return (
        counts.join(totals, list(group_cols))
        .withColumn("var_kind", kind)
        .withColumn("p", F.col("_cnt") / F.col("n_init"))
        .select(*group_cols, "var_kind", "value", "p", "n_init", "num_diff")
    )


def d_ladder(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    order_cols: Sequence[str],
    baseline: DataFrame,
    num_init: int = 100,
    num_update: int = 50,
    num_d_bt: int = 30,
    d_bt_alpha: float = 0.05,
) -> DataFrame:
    """Discrete drift ladder (reference d_test :1845-1903 'Chi' mode +
    update_var_type :1337-1433 + the num_d_bt binomial ladder): values
    after the init sample are cut into consecutive chunks of
    ``num_update``; each full chunk is chi-square-tested against the
    baseline value probabilities (every baseline value contributes an
    expected count E = p·num_update, observed-but-unseen values flag the
    chunk as 'new value' instead — the reference's new-values branch); a
    chunk fails when it has new values or its chi² exceeds the α = 0.05
    critical value (Wilson–Hilferty z > z_α, scipy-free and oracle-
    evaluable); the trailing ``num_d_bt`` chunk results alarm when the
    success count drops below bt_min_successes(num_d_bt, 0.95, d_bt_alpha)
    (reference :158).

    Documented deviation: the reference mutates the baseline inside the
    stream (learn mode expands the value set / re-weights probabilities);
    the batch form tests every chunk against the INIT baseline — the same
    fixed-model convention s_gof_ladder already uses.

    Only 'd'-classified groups are laddered. Returns group_cols + (chunk,
    chi2, dof, z, n_new, failed, n_fails, n_tests, alarm)."""
    base = baseline.filter(F.col("var_kind") == "d")
    v = F.col(value_col).cast("string")
    w_ord = Window.partitionBy(*group_cols).orderBy(*[F.col(c) for c in order_cols])
    chunked = (
        df.filter(v.isNotNull())
        .withColumn("_ern", F.row_number().over(w_ord))
        .filter(F.col("_ern") > num_init)
        .withColumn("chunk", F.floor((F.col("_ern") - num_init - 1) / num_update))
        .select(*group_cols, "chunk", v.alias("value"))
        .join(
            base.select(*group_cols).dropDuplicates(), list(group_cols), "left_semi"
        )
    )
    # observed counts per (group, chunk, value)
    obs_counts = chunked.groupBy(*group_cols, "chunk", "value").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    full_chunks = (
        chunked.groupBy(*group_cols, "chunk")
        .agg(F.count(F.lit(1)).alias("cn"))
        .filter(F.col("cn") >= num_update)
    )
    # expected grid: every baseline value × every full chunk of its group,
    # left-joined with observed counts (unobserved -> 0); the join keys are
    # the group columns, so this is a co-partitioned hash join, never a cross
    grid = (
        base.select(*group_cols, "value", "p", "num_diff")
        .join(full_chunks.select(*group_cols, "chunk"), list(group_cols))
        .join(obs_counts, [*group_cols, "chunk", "value"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
        .withColumn("e", F.col("p") * F.lit(float(num_update)))
        .withColumn("term", (F.col("cnt") - F.col("e")) ** 2 / F.col("e"))
    )
    chi2 = grid.groupBy(*group_cols, "chunk").agg(
        F.sum("term").alias("chi2"),
        (F.first("num_diff") - F.lit(1)).cast("long").alias("dof"),
    )
    # observed values with no baseline row = the reference's new-value branch
    new_vals = (
        obs_counts.join(
            base.select(*group_cols, "value"), [*group_cols, "value"], "left_anti"
        )
        .groupBy(*group_cols, "chunk")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    k = F.col("dof").cast("double")
    z = (
        F.pow(F.col("chi2") / k, F.lit(1.0 / 3.0))
        - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * k))
    ) / F.sqrt(F.lit(2.0) / (F.lit(9.0) * k))
    per_chunk = (
        chi2.join(new_vals, [*group_cols, "chunk"], "left")
        .withColumn("n_new", F.coalesce(F.col("n_new"), F.lit(0)))
        .withColumn("z", z)
        .withColumn(
            "failed", (F.col("n_new") > 0) | (F.col("z") > F.lit(Z_ALPHA))
        )
    )
    bt = Window.partitionBy(*group_cols).orderBy("chunk").rowsBetween(
        -(num_d_bt - 1), 0
    )
    min_success = bt_min_successes(num_d_bt, 0.95, d_bt_alpha)
    return (
        per_chunk.withColumn("n_fails", F.sum(F.col("failed").cast("int")).over(bt))
        .withColumn("n_tests", F.count(F.lit(1)).over(bt))
        .withColumn(
            "alarm",
            (F.col("n_tests") >= num_d_bt)
            & ((F.col("n_tests") - F.col("n_fails")) < min_success),
        )
    )


def changed_var_types(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    order_cols: Sequence[str],
    num_init: int = 100,
    num_s_gof_values: int = 50,
    gof_alpha: float = 0.05,
    s_gof_alpha: float = 0.05,
) -> DataFrame:
    """The reference's changed-var-type events (update_var_type,
    VariableTypeDetector.py:1199-1268 + print_changed_var_type): when a
    chunk fails the sliding gof test in learn mode, the variable falls
    through its ALTERNATIVE distributions — the other candidates the init
    fit accepted, in descending init significance (the fit's sort_list,
    :1140-1146) — re-testing the failing chunk against each; the first
    alternative that passes becomes the new type, else the variable drops
    to 'others' (:1253-1258). The event carries the reference's confidence
    1/(1+exp(-2·D))·1.1353352832366128 (:1221-1222).

    Batch re-expression: per (group, chunk), the one-sample KS statistic of
    EVERY candidate against the chunk (one extra column battery over the
    chunk pass — same codegen shape as the fit), the init fit's candidate
    ranking recomputed from the init rows, and the first-passing-alternative
    scan as a filtered array lookup. Documented deviation (same fixed-model
    convention as s_gof_ladder): the reference consumes its alternative
    list ACROSS successive failures of one variable; the batch form
    evaluates each failed chunk against the full init-accepted alternative
    list.

    Returns (group_cols..., chunk, old_dist, new_dist, stat, confidence)
    — one row per failed chunk of a continuous-fitted group. KS mode only.

    Kept as a reference replay: tests/test_var_gof.py::
    test_changed_var_types_alternative_walk checks it against a replica of
    the reference's alternative walk (:1199-1268).
    """
    crit_scale = F.lit(math.sqrt(-math.log(gof_alpha / 2.0) / 2.0))
    v = F.col(value_col).cast("double")
    w_ord = Window.partitionBy(*group_cols).orderBy(*[F.col(c) for c in order_cols])
    numbered = df.filter(v.isNotNull()).withColumn(
        "_ern", F.row_number().over(w_ord)
    )
    init = numbered.filter(F.col("_ern") <= num_init).select(
        *group_cols, v.alias("_v")
    )
    stats = init.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("_v").alias("vmin"),
        F.max("_v").alias("vmax"),
        F.avg("_v").alias("mu"),
        F.stddev_pop("_v").alias("sigma"),
    )
    names = [
        name
        for name, _ in candidate_cdfs(
            F.lit(0.0), F.lit(0.0), F.lit(1.0), F.lit(0.0), F.lit(1.0)
        )
    ]

    def battery(rows: DataFrame, extra_keys: Sequence[str]) -> DataFrame:
        """per-(group + extra_keys) KS stat of every candidate."""
        keys = [*group_cols, *extra_keys]
        ranked = rows.withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy(*keys).orderBy("_v")).cast(
                "double"
            ),
        ).withColumn(
            "_cn",
            F.count(F.lit(1))
            .over(
                Window.partitionBy(*keys).rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .cast("double"),
        )
        terms = ranked.select(
            *keys,
            F.col("_cn"),
            *[
                _gof_terms("KS", cdf, F.col("_rn"), F.col("_cn")).alias(f"_t_{n_}")
                for n_, cdf in candidate_cdfs(
                    F.col("_v"),
                    F.col("vmin"),
                    F.col("vmax"),
                    F.col("mu"),
                    F.col("sigma"),
                )
            ],
        )
        return terms.groupBy(*keys).agg(
            F.max("_cn").alias("cn"),
            *[F.max(f"_t_{n_}").alias(f"_s_{n_}") for n_ in names],
        )

    # init fit: per-candidate acceptance + rank (ascending c = the
    # reference's descending-significance order)
    init_stats = battery(init.join(stats, list(group_cols)), [])
    ranked_arr = F.array_sort(
        F.filter(
            F.array(
                *[
                    F.struct(
                        (F.col(f"_s_{n_}") * F.sqrt(F.col("cn"))).alias("c"),
                        F.lit(i).alias("ord"),
                        F.lit(n_).alias("dist"),
                    )
                    for i, n_ in enumerate(names)
                ]
            ),
            lambda s: s["c"].isNotNull(),
        )
    )
    fit = init_stats.select(
        *group_cols,
        ranked_arr.alias("_ranked"),
    ).select(
        *group_cols,
        F.get("_ranked", 0)["dist"].alias("old_dist"),
        F.get("_ranked", 0)["c"].alias("_c_best"),
        # alternatives: accepted candidates after the winner
        F.filter(
            F.slice("_ranked", 2, len(names)),
            lambda s: s["c"] < crit_scale,
        ).alias("_alts"),
    ).filter(F.col("_c_best") < crit_scale)  # only accepted fits slide

    # chunk battery
    chunks = (
        numbered.filter(F.col("_ern") > num_init)
        .withColumn("chunk", F.floor((F.col("_ern") - num_init - 1) / num_s_gof_values))
        .select(*group_cols, "chunk", v.alias("_v"))
        .join(stats, list(group_cols))
    )
    chunk_stats = battery(chunks, ["chunk"]).filter(
        F.col("cn") >= num_s_gof_values
    )
    crit_chunk = F.lit(math.sqrt(-math.log(s_gof_alpha / 2.0) / 2.0)) / F.sqrt(
        F.col("cn")
    )
    joined = chunk_stats.join(fit, list(group_cols))
    # stat of the fitted dist on this chunk (chained when over old_dist)
    fitted_stat = F.lit(None).cast("double")
    for n_ in names:
        fitted_stat = F.when(F.col("old_dist") == n_, F.col(f"_s_{n_}")).otherwise(
            fitted_stat
        )
    # first alternative whose CHUNK stat passes (order = init ranking)
    def chunk_stat_expr(dist_col):
        e = F.lit(None).cast("double")
        for n_ in names:
            e = F.when(dist_col == n_, F.col(f"_s_{n_}")).otherwise(e)
        return e

    passing = F.filter(
        F.col("_alts"), lambda s: chunk_stat_expr(s["dist"]) < crit_chunk
    )
    out = (
        joined.withColumn("_fstat", fitted_stat)
        .filter(F.col("_fstat") >= crit_chunk)  # the fitted dist failed
        .select(
            *group_cols,
            "chunk",
            "old_dist",
            F.coalesce(
                F.get(passing, 0)["dist"], F.lit("others")
            ).alias("new_dist"),
            F.col("_fstat").alias("stat"),
            (
                F.lit(1.0)
                / (F.lit(1.0) + F.exp(F.lit(-2.0) * F.col("_fstat")))
                * F.lit(1.1353352832366128)
            ).alias("confidence"),
        )
    )
    return out
