"""Variable-correlation detection.

Re-expresses the testable core of VariableCorrelationDetector
(aminer/analysis/VariableCorrelationDetector.py:15-1642): find pairs of
categorical variables whose values co-occur far from independence, learn the
contingency baseline, and flag batches whose co-occurrence pattern breaks it.
The reference's hypothesis machinery (binomial homogeneity tests per value
pair) reduces batch-side to a chi-square independence statistic over the
contingency table — a pure groupBy/join program.

EventCorrelationDetector's A-implies-B-within-window rules
(aminer/analysis/EventCorrelationDetector.py:37-846) and
TimeCorrelationViolationDetector's CorrelationRule
(aminer/analysis/TimeCorrelationViolationDetector.py:24-364) share the
range-join core implemented here as ``implication_within``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from logdata_anomaly_miner_spark.operators.var_gof import Z_ALPHA, bt_min_successes

# the reference's validation defaults: discovery on the first NUM_INIT rows,
# re-tests on NUM_UPDATE-row chunks, a NUM_BT-chunk binomial ladder
NUM_INIT, NUM_UPDATE, NUM_BT = 100, 50, 30


def chi_square_pairs(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """VariableCorrelationDetector pair discovery
    (aminer/analysis/VariableCorrelationDetector.py:15-1642): test EVERY
    unordered column pair for independence; one output row per pair with
    (col_a, col_b, chi2, dof, z, dependent).

    Significance without scipy: the Wilson–Hilferty cube-root normal
    approximation z = ((χ²/k)^⅓ − (1 − 2/(9k))) / √(2/(9k)); dependent ⟺
    z > z_α (α=0.05 one-sided). The same closed form evaluates in
    the DuckDB oracle.

    Scale shape (r8): ONE scan for all pairs — every pair melts out of the
    same row (the validate_correlation_pairs pattern), the contingency
    cube is one count aggregation over (pair, va, vb), and the marginals /
    grid completion / statistic all derive from that cube, so the input is
    scanned once, not once per pair (guide §2.4).

    Rows where either variable of a pair is null are EXCLUDED for that pair
    (the reference correlates variables over atoms that contain both
    paths); kept, null groups would enter the marginals with no observed
    cell to match and inflate the statistic."""
    pair_list = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    if not pair_list:  # fewer than two columns: empty result, not IndexError
        return df.sparkSession.createDataFrame(
            [],
            "col_a string, col_b string, chi2 double, dof long, "
            "z double, dependent boolean",
        )
    pair_structs = [
        F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.col(a).alias("va"),
            F.col(b).alias("vb"),
        )
        for a, b in pair_list
    ]
    melted = (
        df.select(F.explode(F.array(*pair_structs)).alias("_p"))
        .select("_p.col_a", "_p.col_b", "_p.va", "_p.vb")
        .filter(F.col("va").isNotNull() & F.col("vb").isNotNull())
    )
    obs = melted.groupBy("col_a", "col_b", "va", "vb").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    pk = ["col_a", "col_b"]
    # marginals as integer window sums over the observed cells, statistic
    # via the closed form Σ_grid (O−E)²/E = Σ_obs O²/E − n (an unobserved
    # grid cell has O=0 and contributes only its E; ΣE over the completed
    # grid is exactly n) — no marginal-product grid join needed
    # (validate_correlation_pairs uses the identical form, with the
    # derivation)
    cells = (
        obs.withColumn("ra", F.sum("cnt").over(Window.partitionBy(*pk, "va")))
        .withColumn("rb", F.sum("cnt").over(Window.partitionBy(*pk, "vb")))
        .withColumn("n", F.sum("cnt").over(Window.partitionBy(*pk)))
        .withColumn("e", F.col("ra") * F.col("rb") / F.col("n"))
    )
    combined = cells.groupBy(*pk).agg(
        (
            F.sum(F.col("cnt") * F.col("cnt") / F.col("e"))
            - F.max("n").cast("double")
        ).alias("chi2"),
        ((F.countDistinct("va") - 1) * (F.countDistinct("vb") - 1)).alias("dof"),
    )
    k = F.col("dof").cast("double")
    z = (
        F.pow(F.col("chi2") / k, F.lit(1.0 / 3.0))
        - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * k))
    ) / F.sqrt(F.lit(2.0) / (F.lit(9.0) * k))
    return combined.withColumn("z", z).withColumn(
        "dependent", F.col("z") > F.lit(Z_ALPHA)
    )


def match_disc_distr(p1: Sequence[float], p2: Sequence[float], threshold: float = 0.5) -> bool:
    """VariableCorrelationDetector.pick_cor_match_disc_distr (reference
    :1235-1245): two discrete distributions MAY correlate when their
    sorted-descending probability profiles agree pointwise within
    threshold / max(len).
    Replayed by test_operators3::test_var_corr_preselection_reference_replay."""
    a = sorted(p1, reverse=True)
    b = sorted(p2, reverse=True)
    bound = threshold / max(len(a), len(b))
    return all(abs(x - y) <= bound for x, y in zip(a, b))


def exclude_due_distr(p: Sequence[float], lower_limit: float = 0.4) -> bool:
    """pick_cor_exclude_due_distr (reference :1248-1259): a variable is
    USABLE iff no single value dominates — every probability must stay at
    or below epsilon = lower + (1-lower)/len.
    Replayed by test_operators3::test_var_corr_preselection_reference_replay."""
    eps = lower_limit + (1.0 - lower_limit) / len(p)
    return all(v <= eps for v in p)


def match_disc_vals(v1: Sequence, v2: Sequence, sim_thresh: float = 0.7) -> bool:
    """pick_cor_match_disc_vals (reference :1262-1267): candidate iff the
    shared-value count exceeds sim_thresh · min(|v1|, |v2|).
    Replayed by test_operators3::test_var_corr_preselection_reference_replay."""
    s2 = set(v2)
    shared = sum(1 for v in v1 if v in s2)
    return shared > sim_thresh * min(len(v1), len(v2))


def pick_random_pairs(
    n_vars: int,
    percentage_random_cors: float = 0.20,
    seed: int = 42,
) -> list[tuple[int, int]]:
    """pick_cor_random (reference VariableCorrelationDetector.py:1269-1301)
    made deterministic: identical pair-count arithmetic (banker's-style
    rounding branch included) and identical rejection-sampling shape
    (batched integer draws, keep distinct unordered pairs until the quota
    is met; for percentage > 0.5 draw the COMPLEMENT set instead), but the
    draws come from an explicit ``numpy.random.RandomState(seed)`` instead
    of the global np.random — same output for the same seed on every
    machine, so the method is testable and cluster-safe (driver-side only;
    the pair list is bounded by |vars|²).
    Replayed by test_operators3::test_preselect_random_method_seeded."""
    import numpy as np

    if not 0.0 < percentage_random_cors < 1.0:
        raise ValueError("percentage_random_cors must be in (0, 1)")
    rng = np.random.RandomState(seed)
    if percentage_random_cors <= 0.5:
        num_total = percentage_random_cors * n_vars * (n_vars - 1) / 2
    else:
        num_total = (1 - percentage_random_cors) * n_vars * (n_vars - 1) / 2
    frac = round(num_total % 1.0, 4)
    if frac < 0.5 or (frac == 0.5 and percentage_random_cors >= 0.5):
        num_total = int(num_total)
    else:
        num_total = int(num_total + 1)

    tmp: list[list[int]] = []
    while len(tmp) < num_total:
        draws = rng.randint(0, n_vars, [num_total - len(tmp), 2])
        for a, b in draws:
            pair = [int(min(a, b)), int(max(a, b))]
            if a != b and pair not in tmp:
                tmp.append(pair)
    if percentage_random_cors <= 0.5:
        return [tuple(p) for p in tmp]
    return [
        (i, j)
        for i in range(n_vars)
        for j in range(i + 1, n_vars)
        if [i, j] not in tmp
    ]


def preselect_pairs(
    df: DataFrame,
    cols: Sequence[str],
    methods: Sequence[str] = ("excludeDueDistr",),
    intersect: bool = False,
    order_cols: Sequence[str] = ("event_id",),
    num_init: int = 100,
    match_disc_distr_threshold: float = 0.5,
    exclude_due_distr_lower_limit: float = 0.4,
    match_disc_vals_sim_tresh: float = 0.7,
    percentage_random_cors: float = 0.20,
    seed: int = 42,
) -> list[tuple[str, str]]:
    """VariableCorrelationDetector pair preselection (reference init_cor
    :299-436): restrict the candidate pairs BEFORE discovery using the
    per-variable discrete distributions of the init sample. Methods:
    excludeDueDistr (drop dominated variables), matchDiscDistr (profile
    match), matchDiscVals (value overlap), random (seeded replication of
    pick_cor_random — see pick_random_pairs); multiple methods combine by
    union, or intersection with ``intersect=True`` (intersect_presel_meth).

    The per-variable distributions are one distributed aggregation over
    the first num_init rows per variable; the collected result is bounded
    by Σ|vocab| — driver-side predicate evaluation is the reference's own
    shape. The "first num_init per variable" prefix uses the same
    two-phase range-bucket pattern as timestamps._with_range_bucket (no
    whole-stream window): per-(var, bucket) counts reduce to a tiny
    summary, the driver derives each bucket's carry-in (bounded
    |vars|·|buckets| rows), buckets entirely past the cutoff are pruned,
    and row_number runs per (var, bucket) — so no task ever sorts a whole
    variable's stream.
    Replayed by test_operators3::test_preselect_random_method_seeded."""
    from logdata_anomaly_miner_spark.operators.timestamps import _with_range_bucket

    for m in methods:
        if m not in ("excludeDueDistr", "matchDiscDistr", "matchDiscVals", "random"):
            raise ValueError(f"unknown preselection method {m!r}")
    melted = (
        df.select(
            *order_cols,
            F.explode(
                F.array(*[
                    F.struct(F.lit(c).alias("_var"), F.col(c).cast("string").alias("_val"))
                    for c in cols
                ])
            ).alias("_p"),
        )
        .select(*order_cols, "_p._var", "_p._val")
        .filter(F.col("_val").isNotNull())
    )
    d = _with_range_bucket(melted, order_cols, None)
    bucket_counts = d.groupBy("_var", "_pid").agg(F.count(F.lit(1)).alias("_n")).collect()
    # carry-in per (var, bucket) = rows of that var in earlier buckets;
    # buckets whose carry already reaches num_init cannot contribute
    per_var: dict[str, list[tuple[int, int]]] = {}
    for r in bucket_counts:
        per_var.setdefault(r["_var"], []).append((r["_pid"], r["_n"]))
    carry_rows = []
    for var, pcs in per_var.items():
        acc = 0
        for pid, n in sorted(pcs):
            if acc < num_init:
                carry_rows.append((var, pid, acc))
            acc += n
    spark = df.sparkSession
    carry_df = spark.createDataFrame(
        carry_rows, schema="_var string, _pid int, _carry long"
    )
    w = Window.partitionBy("_var", "_pid").orderBy(*[F.col(c) for c in order_cols])
    melted = (
        d.join(F.broadcast(carry_df), ["_var", "_pid"])  # inner: prunes past-cutoff buckets
        .withColumn("_rn", F.row_number().over(w) + F.col("_carry"))
        .filter(F.col("_rn") <= num_init)
    )
    rows = (
        melted.groupBy("_var", "_val").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    dists: dict[str, dict[str, int]] = {}
    for r in rows:
        dists.setdefault(r["_var"], {})[r["_val"]] = r["cnt"]
    probs = {
        v: [c / sum(d.values()) for c in d.values()] for v, d in dists.items()
    }
    vals = {v: list(d.keys()) for v, d in dists.items()}
    present = [c for c in cols if c in dists]

    selected: list[tuple[str, str]] | None = None
    for m in methods:
        if m == "excludeDueDistr":
            usable = [
                c for c in present
                if exclude_due_distr(probs[c], exclude_due_distr_lower_limit)
            ]
            got = [
                (a, b)
                for i, a in enumerate(usable)
                for b in usable[i + 1 :]
            ]
        elif m == "matchDiscDistr":
            got = [
                (a, b)
                for i, a in enumerate(present)
                for b in present[i + 1 :]
                if match_disc_distr(probs[a], probs[b], match_disc_distr_threshold)
            ]
        elif m == "matchDiscVals":
            got = [
                (a, b)
                for i, a in enumerate(present)
                for b in present[i + 1 :]
                if match_disc_vals(vals[a], vals[b], match_disc_vals_sim_tresh)
            ]
        else:  # random (seeded pick_cor_random replication)
            got = [
                (present[i], present[j])
                for i, j in pick_random_pairs(
                    len(present), percentage_random_cors, seed
                )
            ]
        if selected is None:
            selected = got
        elif intersect:
            selected = [p for p in selected if p in got]
        else:
            selected += [p for p in got if p not in selected]
    return selected or []


def validate_correlation_pairs(
    df: DataFrame,
    cols: Sequence[str],
    order_cols: Sequence[str] = ("event_id",),
) -> DataFrame:
    """VariableCorrelationDetector validation phase (reference
    VariableCorrelationDetector.py:575-1300: update_or_test_cor* +
    homogeneity_test :1200-1242 + validate_cor :1312): pairs discovered as
    dependent on the first NUM_INIT rows are continuously RE-TESTED on
    successive NUM_UPDATE-row chunks with a chi² homogeneity test of
    the chunk's joint (a, b) distribution against the discovery sample;
    chunk failures feed a trailing NUM_BT binomial ladder (the same
    machinery as var_gof.d_ladder), and an alarmed pair is DROPPED — the
    running ``dropped`` flag mirrors the reference deleting the failing
    correlation rule.

    Scale shape: the pair melt multiplies rows by |pairs| (the reference
    streams every atom through every pair too); per-pair row positions use
    the two-phase range-bucket prefix count (timestamps.py pattern), so no
    window ever sees a whole pair's stream in one task. Everything after
    the per-(pair, chunk, combo) aggregation is tiny.

    Returns (pair, chunk, chi2, dof, z, n_new, failed, n_fails, n_tests,
    alarm, dropped)."""
    from logdata_anomaly_miner_spark.operators.timestamps import _with_range_bucket

    pair_list = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    pair_structs = [
        F.struct(
            F.lit(f"{a}~{b}").alias("pair"),
            F.col(a).cast("string").alias("va"),
            F.col(b).cast("string").alias("vb"),
        )
        for a, b in pair_list
    ]
    # bucket the ATOMS, then melt (r8): _pid is a function of the order
    # column only, so computing it before the |pairs|x explode evaluates
    # the boundary expression |pairs| times less per pass. The reference
    # orders by a dense integral ingest id, which _with_range_bucket
    # buckets by equal width; any order-consistent bucketing yields
    # identical prefix positions.
    pre = _with_range_bucket(df, order_cols, None)
    bucketed = (
        pre.select(
            *order_cols, "_pid", F.explode(F.array(*pair_structs)).alias("_p")
        )
        .select(*order_cols, "_pid", "_p.pair", "_p.va", "_p.vb")
        .filter(F.col("va").isNotNull() & F.col("vb").isNotNull())
    )
    # per-pair row position, distributed: local row_number per range bucket
    # + broadcast carry of earlier buckets' per-pair counts
    w_local = Window.partitionBy("pair", "_pid").orderBy(
        *[F.col(c) for c in order_cols]
    )
    # carry counts come from the PRE-window frame: the per-bucket count
    # never needs the sort, so its recomputation branch skips it
    cnts = bucketed.groupBy("pair", "_pid").agg(F.count(F.lit(1)).alias("_c"))
    d = bucketed.withColumn("_lrn", F.row_number().over(w_local))
    carry = (
        cnts.alias("a")
        .join(
            cnts.alias("b"),
            (F.col("b.pair") == F.col("a.pair")) & (F.col("b._pid") < F.col("a._pid")),
        )
        .groupBy(F.col("a.pair").alias("pair"), F.col("a._pid").alias("_pid"))
        .agg(F.sum("b._c").alias("_carry"))
    )
    d = d.join(F.broadcast(carry), ["pair", "_pid"], "left").withColumn(
        "_ern", F.col("_lrn") + F.coalesce(F.col("_carry"), F.lit(0))
    )

    # ONE aggregation pass over the melted atoms produces the whole
    # (pair, chunk, combo) count cube — init rows land in chunk -1.
    # Catalyst does not CSE duplicated subplans, so every downstream
    # consumer (marginals, baseline, chunk tests, new-combo scan) would
    # otherwise re-evaluate the melt + prefix-position lineage; the cube
    # is |pairs|·|chunks|·|combos| rows (tiny) and persists across the
    # plan's many references.
    cube = (
        d.withColumn(
            "chunk",
            F.when(F.col("_ern") <= NUM_INIT, F.lit(-1).cast("long")).otherwise(
                F.floor((F.col("_ern") - NUM_INIT - 1) / F.lit(NUM_UPDATE))
            ),
        )
        .groupBy("pair", "chunk", "va", "vb")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # EAGER localCheckpoint: the cube is computed exactly once (a lazy
        # persist lets the first action's parallel branches race-compute
        # it before the cache lands) and its blocks are freed by the
        # ContextCleaner on GC — no per-call cache accumulation. The
        # construction-time job is allowlisted in the purity lint, same
        # as the mono-id-pinning checkpoints.
        .localCheckpoint()
    )
    # discovery: chi² independence per pair over the init sample. The
    # marginals ride as integer window sums over the observed cells
    # (identical values to the former groupBy+join chain — integer
    # addition, deterministic), and the statistic uses the closed form
    #   Σ_grid (O−E)²/E = Σ_obs O²/E − 2·ΣO + ΣE = Σ_obs O²/E − n
    # (an unobserved grid cell has O=0 and contributes only its E, and ΣE
    # over the marginal-completed grid is exactly n), so the grid
    # completion join chain is unnecessary (r8, guide §2.4: the former
    # plan ran 3 aggregations + a 3-way join chain here).
    obs = cube.filter(F.col("chunk") == -1).drop("chunk")
    w_pa = Window.partitionBy("pair", "va")
    w_pb = Window.partitionBy("pair", "vb")
    w_p = Window.partitionBy("pair")
    cells = (
        obs.withColumn("ra", F.sum("cnt").over(w_pa))
        .withColumn("rb", F.sum("cnt").over(w_pb))
        .withColumn("n", F.sum("cnt").over(w_p))
        .withColumn("e", F.col("ra") * F.col("rb") / F.col("n"))
    )
    disc = cells.groupBy("pair").agg(
        (
            F.sum(F.col("cnt") * F.col("cnt") / F.col("e"))
            - F.max("n").cast("double")
        ).alias("chi2"),
        ((F.countDistinct("va") - 1) * (F.countDistinct("vb") - 1))
        .cast("long")
        .alias("dof"),
    )
    k = F.nullif(F.col("dof").cast("double"), F.lit(0.0))
    wh_z = (
        F.pow(F.col("chi2") / k, F.lit(1.0 / 3.0))
        - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * k))
    ) / F.sqrt(F.lit(2.0) / (F.lit(9.0) * k))
    dep = disc.withColumn("z", wh_z).filter(F.col("z") > F.lit(Z_ALPHA)).select("pair")

    # homogeneity baseline: the dependent pairs' init joint distribution
    bl = (
        obs.join(F.broadcast(dep), "pair", "left_semi")
        .withColumn("p", F.col("cnt") / F.sum("cnt").over(w_p))
        .select("pair", "va", "vb", "p")
    )
    num_diff = bl.groupBy("pair").agg(F.count(F.lit(1)).alias("num_diff"))

    obs_post = cube.filter(F.col("chunk") >= 0).join(
        F.broadcast(dep), "pair", "left_semi"
    )
    # a chunk's row count is the sum of its combo counts — derived from
    # the cube, no extra pass over the atoms
    full_chunks = (
        obs_post.groupBy("pair", "chunk")
        .agg(F.sum("cnt").alias("cn"))
        .filter(F.col("cn") >= NUM_UPDATE)
        .select("pair", "chunk")
    )
    # closed form again (r8): the per-chunk grid is the baseline support
    # with O=0 wherever the chunk lacks the combo, so
    #   Σ_bl (O−E)²/E = Σ_{bl∩chunk}[(O−E)²/E − E] + NUM_UPDATE·Σ_bl p
    # with Σ_bl p = 1 by construction — only observed∩baseline cells are
    # touched, chunks with no overlap get exactly NUM_UPDATE, and the
    # bl × full_chunks grid expansion join disappears.
    matched = (
        obs_post.join(full_chunks, ["pair", "chunk"], "left_semi")
        .join(bl, ["pair", "va", "vb"])
        .withColumn("e", F.col("p") * F.lit(float(NUM_UPDATE)))
        .withColumn(
            "term", (F.col("cnt") - F.col("e")) ** 2 / F.col("e") - F.col("e")
        )
    )
    chi2 = (
        full_chunks.join(
            matched.groupBy("pair", "chunk").agg(F.sum("term").alias("_s")),
            ["pair", "chunk"],
            "left",
        )
        .withColumn(
            "chi2", F.coalesce(F.col("_s"), F.lit(0.0)) + F.lit(float(NUM_UPDATE))
        )
        .drop("_s")
        .join(F.broadcast(num_diff), "pair")
        .withColumn("dof", (F.col("num_diff") - 1).cast("long"))
    )
    new_vals = (
        obs_post.join(full_chunks, ["pair", "chunk"], "left_semi")
        .join(bl.select("pair", "va", "vb"), ["pair", "va", "vb"], "left_anti")
        .groupBy("pair", "chunk")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    per_chunk = (
        chi2.join(new_vals, ["pair", "chunk"], "left")
        .withColumn("n_new", F.coalesce("n_new", F.lit(0)).cast("long"))
        .withColumn("z", wh_z)
        .withColumn(
            "failed", (F.col("n_new") > 0) | (F.col("z") > F.lit(Z_ALPHA))
        )
    )
    # ladder + drop status: |pairs| × |chunks| rows by now — tiny — so the
    # pair-partitioned windows are over aggregated chunk rows, not atoms
    bt = Window.partitionBy("pair").orderBy("chunk").rowsBetween(-(NUM_BT - 1), 0)
    run = Window.partitionBy("pair").orderBy("chunk").rowsBetween(
        Window.unboundedPreceding, 0
    )
    min_success = bt_min_successes(NUM_BT, 0.95, 0.05)
    return (
        per_chunk.withColumn(
            "n_fails", F.sum(F.col("failed").cast("int")).over(bt).cast("long")
        )
        .withColumn("n_tests", F.count(F.lit(1)).over(bt).cast("long"))
        .withColumn(
            "alarm",
            (F.col("n_tests") >= NUM_BT)
            & ((F.col("n_tests") - F.col("n_fails")) < min_success),
        )
        .withColumn("dropped", F.max(F.col("alarm").cast("int")).over(run) == 1)
        .select(
            "pair", "chunk", "chi2", "dof", "z", "n_new",
            "failed", "n_fails", "n_tests", "alarm", "dropped",
        )
    )


def mine_implication_rules(
    df: DataFrame,
    type_col: str,
    ts_col: str = "ts",
    order_cols: tuple[str, ...] = ("event_id",),
    max_delta: float = 5.0,
    p0: float = 0.75,
    alpha: float = 0.05,
    max_observations: int = 150,
    direction: str = "forward",
) -> DataFrame:
    """EventCorrelationDetector hypothesis mining, batch analog (reference
    EventCorrelationDetector.py:37-846, min_eval_true :124-149): every
    ordered type pair (A→B) is a hypothesis — ``direction='forward'``
    means "A is followed by B within max_delta" (forward_hypotheses),
    ``direction='back'`` means "A was preceded by B within max_delta"
    (back_hypotheses). A hypothesis is evaluated on the FIRST
    ``max_observations`` A-events (the reference's evaluation budget); it
    becomes a 'rule' when the count of confirmed observations reaches the
    binomial critical value min{k : P(Bin(n, p0) >= k) <= alpha}
    (reference :135-148 — sum C(n,i)(1−p0)^i p0^(n−i) over failures i until
    it exceeds 1−alpha, threshold n−i), 'rejected' when it falls short,
    and 'undecided' when fewer than max_observations A-events exist.

    Differences vs the reference, by design: the sequential sampler
    (generation_probability / candidates deque) is replaced by exhaustive
    evaluation of all type pairs — the batch engine can afford it and the
    result is deterministic.

    Scale shape: the observation set is ≤ max_observations rows per type
    (row_number over a per-type window); the confirmation check equi-joins
    on a floor(ts/max_delta) time bucket (observations exploded to the two
    buckets their window can touch), so it compiles to a hash/sort-merge
    join — each event is tested only against observations in its own
    bucket, never against all observations (the pure band-predicate form
    would be a BroadcastNestedLoopJoin evaluating |obs| predicates per
    event row); everything after is |types|² aggregation."""
    ts = F.col(ts_col).cast("double")
    w = Window.partitionBy(type_col).orderBy(ts, *[F.col(c) for c in order_cols])
    obs = (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_observations)
        .select(
            F.col(type_col).alias("a"),
            ts.alias("ta"),
            F.col("_rn"),
        )
    )
    ev = df.select(F.col(type_col).alias("b"), ts.alias("tb"))
    if direction == "forward":
        in_window = (F.col("tb") > F.col("ta")) & (
            F.col("tb") <= F.col("ta") + F.lit(float(max_delta))
        )
        bucket_offsets = (0, 1)
    elif direction == "back":
        in_window = (F.col("tb") < F.col("ta")) & (
            F.col("tb") >= F.col("ta") - F.lit(float(max_delta))
        )
        bucket_offsets = (-1, 0)
    else:
        raise ValueError(f"unknown direction {direction!r}")
    # time-bucket equi-key: an observation's window (ta, ta±Δ] only touches
    # buckets {floor(ta/Δ)+o}; events carry their single bucket, so each
    # (obs, event) pair meets at most once and no bucketing dedup is needed
    delta = F.lit(float(max_delta))
    obs_b = obs.withColumn(
        "_bkt",
        F.explode(
            F.array(*[F.floor(F.col("ta") / delta) + F.lit(o) for o in bucket_offsets])
        ),
    )
    ev_b = ev.withColumn("_bkt", F.floor(F.col("tb") / delta))
    confirmed = (
        obs_b.join(ev_b, "_bkt")
        .filter(in_window & (F.col("b") != F.col("a")))
        .select("a", "b", "_rn")
        .dropDuplicates()
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_true"))
    )
    n_obs = obs.groupBy("a").agg(F.count(F.lit(1)).alias("n_obs"))
    types = df.select(F.col(type_col).alias("a")).dropDuplicates()
    pairs = (
        types.join(types.select(F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .join(n_obs, "a")
        .join(confirmed, ["a", "b"], "left")
        .withColumn("n_true", F.coalesce(F.col("n_true"), F.lit(0)))
    )

    # exact binomial critical value (reference get_min_eval_true :124-149)
    # — same failure-tail walk as the gof ladder's bt_min_successes, with
    # the tail mass 1-alpha (one shared implementation, no drift)
    thr = bt_min_successes(max_observations, p0, 1 - alpha)
    return pairs.withColumn(
        "status",
        F.when(F.col("n_obs") < max_observations, F.lit("undecided"))
        .when(F.col("n_true") >= F.lit(thr), F.lit("rule"))
        .otherwise(F.lit("rejected")),
    )


def implication_within(
    df: DataFrame,
    antecedent: F.Column,
    consequent: F.Column,
    min_dt: float,
    max_dt: float,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """A-implies-B-within-[min_dt, max_dt] violations: antecedent rows with
    NO consequent row in their forward time window (per optional key) — the
    reference's CorrelationRule check, expressed as a range join + anti-semi.
    At scale the range join benefits from bucketing ts (AQE handles skew)."""
    ts = F.col(ts_col).cast("double")
    # explicit aliases: a[k] == b[k] on two frames derived from the same df
    # resolves both sides to the SAME attribute pre-analysis (Spark warns
    # "trivially true equals predicate"); qualified names are unambiguous
    a = df.filter(antecedent).select(
        *key_cols, ts.alias("ta"), *[c for c in df.columns if c not in key_cols and c != ts_col]
    ).alias("_ant")
    b = df.filter(consequent).select(*key_cols, ts.alias("tb")).alias("_con")
    cond = (F.col("tb") >= F.col("ta") + F.lit(min_dt)) & (
        F.col("tb") <= F.col("ta") + F.lit(max_dt)
    )
    for k in key_cols:
        cond = cond & (F.col(f"_ant.{k}") == F.col(f"_con.{k}"))
    return a.join(b, cond, "left_anti")


def mine_time_correlations(
    df: DataFrame,
    feature_cols: Sequence[str],
    ts_col: str = "ts",
    order_col: str = "event_id",
    max_delta: float = 10.0,
    max_features_per_path: int = 10,
) -> DataFrame:
    """TimeCorrelationDetector feature-level mining, batch analog
    (reference TimeCorrelationDetector.py:27-275): the reference samples
    random ValueMatch/PathExists rules over parser paths as 'features',
    tracks each feature's last trigger time, and every N records reports,
    per feature pair (A, B), the count of B-triggers within 10 s of A's
    last trigger, the ratio to A's trigger count, and the mean delta
    (update_tables_for_feature :203-224, analysis_status_to_string
    :226-257).

    Deterministic exhaustive re-expression: the feature vocabulary is the
    top ``max_features_per_path`` most frequent values of each column in
    ``feature_cols`` (ValueMatch features — ties broken by value, so the
    vocabulary is reproducible); every ordered feature pair is evaluated
    over the whole batch. 'Delta to A's last trigger ≤ max_delta' is
    equivalent to 'an A-trigger exists in (t_B − max_delta, t_B)', and the
    delta itself is t_B minus the max such A-trigger time — both computed
    with the same floor(ts/Δ) time-bucket equi-join scale shape as
    mine_implication_rules (hash join, never a nested-loop band join).

    Returns (feature_a, feature_b, n_pairs, triggers_a, triggers_b, ratio,
    mean_dt): one row per ordered pair with at least one proximate
    trigger; ratio = n_pairs / triggers_a (the reference's r), mean_dt the
    average delta (reference dt)."""
    ts = F.col(ts_col).cast("double")
    oc = F.col(order_col)

    # ONE melted pass over the corpus serves both the vocabulary counts
    # and the trigger extraction (previously one groupBy + one join PER
    # feature column = 2N corpus scans)
    melt = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("_col"),
                            F.col(c).cast("string").alias("_val"),
                        )
                        for c in feature_cols
                    ]
                )
            ).alias("p"),
            ts.alias("_ts"),
            oc.alias("_oid"),
        )
        .select("p._col", "p._val", "_ts", "_oid")
        .filter(F.col("_val").isNotNull())
    )
    cnts = melt.groupBy("_col", "_val").agg(F.count(F.lit(1)).alias("_n")).persist()
    try:
        # per-column top-K by frequency (ties by value, reproducible) as
        # orderBy().limit() -> TakeOrderedAndProject over the (aggregated,
        # cached) count table — never a partition-less row_number window
        vocabs = []
        for c in feature_cols:
            vocabs.append(
                cnts.filter(F.col("_col") == c)
                .orderBy(F.col("_n").desc(), F.col("_val"))
                .limit(max_features_per_path)
                .select(
                    "_col",
                    "_val",
                    F.concat_ws("=", F.lit(c), F.col("_val")).alias("feature"),
                )
            )
        vocab = vocabs[0]
        for v in vocabs[1:]:
            vocab = vocab.unionByName(v)
        vocab = vocab.localCheckpoint(eager=True)  # tiny; frees cnts below
    finally:
        cnts.unpersist()

    trigs = melt.join(F.broadcast(vocab), ["_col", "_val"]).select(
        "feature", "_ts", "_oid"
    )

    counts = trigs.groupBy("feature").agg(F.count(F.lit(1)).alias("triggers"))

    delta = F.lit(float(max_delta))
    a = trigs.select(
        F.col("feature").alias("feature_a"),
        F.col("_ts").alias("ta"),
        F.col("_oid").alias("oa"),
    ).withColumn(
        "_bkt", F.explode(F.array(F.floor(F.col("ta") / delta), F.floor(F.col("ta") / delta) + 1))
    )
    b = trigs.select(
        F.col("feature").alias("feature_b"),
        F.col("_ts").alias("tb"),
        F.col("_oid").alias("ob"),
    ).withColumn("_bkt", F.floor(F.col("tb") / delta))
    # per (pair, B-trigger): the most recent strictly-earlier A-trigger
    # within max_delta (strict order by the ingest id, as the reference's
    # last_trigger_time is updated after the tables)
    best = (
        a.join(b, "_bkt")
        .filter(
            (F.col("oa") < F.col("ob"))
            & (F.col("tb") - F.col("ta") <= delta)
            & (F.col("ta") <= F.col("tb"))
        )
        .groupBy("feature_a", "feature_b", "ob", "tb")
        .agg(F.max("ta").alias("best_ta"))
    )
    pair = best.groupBy("feature_a", "feature_b").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.avg(F.col("tb") - F.col("best_ta")).alias("mean_dt"),
    )
    return (
        pair.join(
            F.broadcast(counts.select(F.col("feature").alias("feature_a"),
                                      F.col("triggers").alias("triggers_a"))),
            "feature_a",
        )
        .join(
            F.broadcast(counts.select(F.col("feature").alias("feature_b"),
                                      F.col("triggers").alias("triggers_b"))),
            "feature_b",
        )
        .withColumn("ratio", F.col("n_pairs") / F.col("triggers_a"))
        .select(
            "feature_a", "feature_b", "n_pairs", "triggers_a", "triggers_b",
            "ratio", "mean_dt",
        )
    )
