"""Batch-3 operators: persistence parity, variable types + KS, chi²,
implication rules."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from logdata_anomaly_miner_spark.operators.correlation import implication_within
from logdata_anomaly_miner_spark.operators.variable_type import (
    infer_variable_types,
    ks_statistic,
)
from logdata_anomaly_miner_spark.plans.persistence import (
    known_values_from_reference_json,
    known_values_to_reference_json,
    ranges_from_reference_json,
    ranges_to_reference_json,
)

T0 = 1_700_000_000.0


def test_ranges_reference_json_golden(spark):
    """Byte-parity with the reference golden persistence file
    (ValueRangeDetectorTest.py:323-324)."""
    ranges = spark.createDataFrame(
        [("a", 2.5, 4.75), ("b", 3.1, 6.3)], "id string, min double, max double"
    )
    payload = ranges_to_reference_json(ranges, ["id"])
    assert json.loads(payload) == {
        "string:min": {"tuple:('a',)": 2.5, "tuple:('b',)": 3.1},
        "string:max": {"tuple:('a',)": 4.75, "tuple:('b',)": 6.3},
    }
    back = ranges_from_reference_json(spark, payload)
    got = {r["id"]: (r["min"], r["max"]) for r in back.collect()}
    assert got == {"a": (2.5, 4.75), "b": (3.1, 6.3)}


def test_known_values_reference_json(spark):
    vals = spark.createDataFrame([("v_b",), ("v_a",)], "value string")
    payload = known_values_to_reference_json(vals)
    assert json.loads(payload) == ["bytes:v_a", "bytes:v_b"]  # sorted
    back = known_values_from_reference_json(spark, payload)
    assert sorted(r["value"] for r in back.collect()) == ["v_a", "v_b"]


def test_streamed_persistence_writers_byte_parity(spark, tmp_path):
    """The partition-at-a-time streamed writers produce bytes identical
    to the collect-based small path (and hence to the reference format)."""
    from logdata_anomaly_miner_spark.plans.persistence import (
        write_known_values_reference_json,
        write_ranges_reference_json,
    )

    ranges = spark.createDataFrame(
        [(f"k{i:03d}", float(i), float(i) + 0.5) for i in range(97)],
        "id string, min double, max double",
    ).repartition(8)
    p = str(tmp_path / "ranges.json")
    write_ranges_reference_json(ranges, ["id"], p)
    assert open(p).read() == ranges_to_reference_json(ranges, ["id"])

    vals = spark.createDataFrame([(f"v{i:03d}",) for i in range(53)], "value string")
    p2 = str(tmp_path / "vals.json")
    write_known_values_reference_json(vals.repartition(8), p2)
    assert open(p2).read() == known_values_to_reference_json(vals)


def test_infer_variable_types(spark):
    rows = (
        [("const", "x")] * 5
        + [("small", str(i % 3)) for i in range(30)]
        + [("num", str(i * 1.5)) for i in range(50)]
        + [("text", f"tok{i}") for i in range(50)]
    )
    df = spark.createDataFrame(rows, "var string, value string")
    got = {r["var"]: r["var_type"] for r in infer_variable_types(df, "var", "value").collect()}
    assert got == {"const": "static", "small": "discrete", "num": "continuous", "text": "other"}


def test_type_drift(spark):
    base = spark.createDataFrame(
        [("v1", "continuous"), ("v2", "discrete")], "var string, var_type string"
    )
    cur = spark.createDataFrame([("v1", "x")] * 5 + [("v2", str(i % 3)) for i in range(30)],
                                "var string, value string")
    base_types = {r["var"]: r["var_type"] for r in base.collect()}
    cur_types = infer_variable_types(cur, "var", "value").collect()
    drift = [(r["var"], r["var_type"]) for r in cur_types
             if r["var_type"] != base_types[r["var"]]]
    assert drift == [("v1", "static")]


def test_ks_statistic_matches_numpy(spark):
    rng = np.random.RandomState(42)
    xa = rng.normal(0, 1, 300)
    xb = rng.normal(0.7, 1, 200)

    def ks_ref(x, y):
        allv = np.sort(np.concatenate([x, y]))
        ca = np.searchsorted(np.sort(x), allv, side="right") / len(x)
        cb = np.searchsorted(np.sort(y), allv, side="right") / len(y)
        return float(np.abs(ca - cb).max())

    a = spark.createDataFrame([(float(v),) for v in xa], "v double")
    b = spark.createDataFrame([(float(v),) for v in xb], "v double")
    got = ks_statistic(a, b, "v").collect()[0]["ks"]
    assert got == pytest.approx(ks_ref(xa, xb), abs=1e-12)


def test_ks_with_ties_and_groups(spark):
    a = spark.createDataFrame([("g", 1.0), ("g", 1.0), ("g", 2.0)], "grp string, v double")
    b = spark.createDataFrame([("g", 1.0), ("g", 3.0)], "grp string, v double")
    # ECDFs evaluated after ties: at v=1: |2/3 - 1/2|=1/6; v=2: |1 - 1/2|=1/2; v=3: 0
    got = ks_statistic(a, b, "v", ["grp"]).collect()[0]
    assert got["grp"] == "g" and got["ks"] == pytest.approx(0.5)


def test_implication_within(spark):
    rows = [
        (T0 + 0, "req", "s1"),
        (T0 + 1, "resp", "s1"),   # s1: resp within [0,5] -> ok
        (T0 + 10, "req", "s2"),   # s2: no resp -> violation
        (T0 + 20, "req", "s3"),
        (T0 + 40, "resp", "s3"),  # s3: resp too late -> violation
    ]
    df = spark.createDataFrame(rows, "ts double, typ string, sid string")
    v = implication_within(
        df, F.col("typ") == "req", F.col("typ") == "resp", 0.0, 5.0, key_cols=("sid",)
    )
    assert sorted(r["sid"] for r in v.collect()) == ["s2", "s3"]


def test_chi_square_pairs(spark):
    """All-pairs independence: a perfectly dependent pair flags, an
    independent pair does not (Wilson-Hilferty normal approximation)."""
    import random

    from logdata_anomaly_miner_spark.operators.correlation import chi_square_pairs

    rng = random.Random(11)
    rows = []
    for _ in range(800):
        a = rng.choice(["x", "y", "z"])
        dep = {"x": "p", "y": "q", "z": "r"}[a]      # b fully determined by a
        ind = rng.choice(["u", "v"])                  # c independent of a
        rows.append((a, dep, ind))
    df = spark.createDataFrame(rows, "a string, b string, c string")
    out = {(r["col_a"], r["col_b"]): r for r in chi_square_pairs(df, ["a", "b", "c"]).collect()}
    assert out[("a", "b")]["dependent"] is True
    assert out[("a", "c")]["dependent"] is False
    assert out[("a", "b")]["chi2"] > out[("a", "c")]["chi2"]


def test_mine_implication_rules_bucketed(spark):
    """Hypothesis mining: correctness of the time-bucketed equi-join form
    (rule / rejected / undecided verdicts, window-boundary events crossing
    bucket edges) AND a plan assertion that the confirmation join is a hash
    or sort-merge join, not a BroadcastNestedLoopJoin."""
    from logdata_anomaly_miner_spark.operators.correlation import (
        mine_implication_rules,
    )

    # 20 A-events; every A is followed by a B within delta=5 (some right at
    # the window edge / across a floor(ts/5) bucket boundary); C never is.
    rows = []
    for i in range(20):
        ta = T0 + i * 100.0
        rows.append((f"e{i}a", "A", ta))
        rows.append((f"e{i}b", "B", ta + (5.0 if i % 3 == 0 else 2.5)))
    rows.append(("ec", "C", T0 + 5000.0))
    df = spark.createDataFrame(rows, "event_id string, event_type string, ts double")
    out = mine_implication_rules(
        df, "event_type", ts_col="ts", max_delta=5.0,
        max_observations=20, p0=0.75, alpha=0.05,
    )
    res = {(r["a"], r["b"]): r for r in out.collect()}
    assert res[("A", "B")]["status"] == "rule"
    assert res[("A", "B")]["n_true"] == 20
    assert res[("A", "C")]["status"] == "rejected"
    # B has 20 observations too (budget met) but no A follows any B within 5
    assert res[("B", "A")]["n_true"] == 0
    # C has 1 < max_observations A-events -> undecided
    assert res[("C", "A")]["status"] == "undecided"

    import re as _re

    plan = out._jdf.queryExecution().executedPlan().toString()
    # the confirmation join must be an equi-join on the time bucket
    assert _re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[_bkt", plan), plan
    # the only nested-loop join allowed is the tiny |types|² pair-universe
    # cross (condition `NOT (a = b)`); a BNLJ over the TIME columns (the old
    # band-predicate form, evaluating every event against every observation)
    # must not appear
    assert not _re.search(r"BroadcastNestedLoopJoin[^\n]*t[ab]#", plan), plan


def test_mine_implication_rules_back_bucketed(spark):
    """Backward direction over the same data: B is always preceded by A."""
    from logdata_anomaly_miner_spark.operators.correlation import (
        mine_implication_rules,
    )

    rows = []
    for i in range(20):
        ta = T0 + i * 100.0
        rows.append((f"e{i}a", "A", ta))
        rows.append((f"e{i}b", "B", ta + (5.0 if i % 3 == 0 else 2.5)))
    df = spark.createDataFrame(rows, "event_id string, event_type string, ts double")
    out = mine_implication_rules(
        df, "event_type", ts_col="ts", max_delta=5.0,
        max_observations=20, p0=0.75, alpha=0.05, direction="back",
    )
    res = {(r["a"], r["b"]): r for r in out.collect()}
    assert res[("B", "A")]["status"] == "rule" and res[("B", "A")]["n_true"] == 20
    assert res[("A", "B")]["n_true"] == 0


def test_mine_time_correlations(spark):
    """Feature-level TimeCorrelationDetector mining: top-value features per
    path, pairwise proximate-trigger counts / ratio / mean delta against
    each B-trigger's most recent preceding A-trigger."""
    from logdata_anomaly_miner_spark.operators.correlation import (
        mine_time_correlations,
    )

    # login(user=alice) at t, then fail(user=bob) at t+2 — every time.
    rows = []
    for i in range(10):
        t = T0 + i * 100.0
        rows.append((2 * i, t, "login", "alice"))
        rows.append((2 * i + 1, t + 2.0, "fail", "bob"))
    df = spark.createDataFrame(rows, "event_id long, ts double, typ string, user string")
    out = mine_time_correlations(
        df, ["typ", "user"], ts_col="ts", order_col="event_id",
        max_delta=10.0, max_features_per_path=5,
    )
    res = {(r["feature_a"], r["feature_b"]): r for r in out.collect()}
    r = res[("typ=login", "typ=fail")]
    assert r["n_pairs"] == 10 and r["triggers_a"] == 10
    assert r["ratio"] == 1.0 and abs(r["mean_dt"] - 2.0) < 1e-9
    # cross-path pair: user=alice -> typ=fail with the same delta
    r2 = res[("user=alice", "typ=fail")]
    assert r2["n_pairs"] == 10 and abs(r2["mean_dt"] - 2.0) < 1e-9
    # no fail-before-login pairs within 10s (gap is 98s), and no self-pairs
    # (consecutive same-feature triggers are 100s apart)
    assert ("typ=fail", "typ=login") not in res
    assert ("typ=login", "typ=login") not in res


def test_var_corr_preselection_reference_replay():
    """Replays VariableCorrelationDetectorTest test3/test4/test5
    (reference :94-197) against the batch predicates with the reference's
    default thresholds (0.5 / 0.4 / 0.7)."""
    import random

    from logdata_anomaly_miner_spark.operators.correlation import (
        exclude_due_distr,
        match_disc_distr,
        match_disc_vals,
    )

    # test3: matchDiscDistr
    l1 = [1.0 / 10] * 10
    assert match_disc_distr(l1, [1.0 / 14] * 14)
    assert match_disc_distr(l1, [1.0 / 7] * 7)
    assert not match_disc_distr(l1, [1.0 / 30] * 30)
    assert not match_disc_distr(l1, [0.2] + [0.8 / 9] * 9)
    shuffled = [0.3] * 2 + [0.4 / 3] * 3
    random.Random(0).shuffle(shuffled)
    assert match_disc_distr(shuffled, [1.0 / 5] * 5)

    # test4: excludeDueDistr
    assert exclude_due_distr([0.1] * 10)
    assert exclude_due_distr([0.3] + [0.078] * 9)
    assert not exclude_due_distr([0.5] + [0.056] * 9)
    assert exclude_due_distr([0.3] * 3 + [0.014] * 7)
    assert exclude_due_distr([0.5] * 2)
    assert not exclude_due_distr([0.8, 0.2])
    assert exclude_due_distr([0.33] * 3)
    assert not exclude_due_distr([0.7] + [0.15] * 2)
    assert exclude_due_distr([0.25] * 4)
    assert not exclude_due_distr([0.58] + [0.14] * 3)

    # test5: matchDiscVals
    s1 = [i * 0.1 for i in range(10)]
    assert match_disc_vals(s1, [i * 0.2 for i in range(7)])
    assert not match_disc_vals(s1, [i * 0.3 for i in range(7)])
    s1 = [float(bytes(str(i * 0.1), "utf-8")) for i in range(58)]
    assert match_disc_vals(s1, [float(bytes(str(i * 0.2), "utf-8")) for i in range(41)])
    assert not match_disc_vals(s1, [float(bytes(str(i * 0.2), "utf-8")) for i in range(42)])


def test_preselect_pairs_end_to_end(spark):
    """preselect_pairs over a DataFrame: a dominated variable (one hot
    value) is excluded by excludeDueDistr; matchDiscVals pairs the two
    columns sharing a vocabulary; union/intersection combine methods
    (reference init_cor :341-436)."""
    from logdata_anomaly_miner_spark.operators.correlation import preselect_pairs

    rows = [
        (i, str(i % 10), str(i % 10), "hot" if i % 100 else "rare", f"d{i % 7}")
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "event_id long, a string, b string, c string, d string")
    # c is dominated by 'hot' (99%) -> excluded from every pair
    got = preselect_pairs(df, ["a", "b", "c", "d"], methods=("excludeDueDistr",))
    assert ("a", "b") in got and ("a", "d") in got and ("b", "d") in got
    assert not any("c" in p for p in got)
    # a and b share a vocabulary; d's differs
    got_vals = preselect_pairs(df, ["a", "b", "c", "d"], methods=("matchDiscVals",))
    assert ("a", "b") in got_vals
    assert ("a", "d") not in got_vals
    # intersection narrows to pairs both methods accept
    both = preselect_pairs(
        df, ["a", "b", "c", "d"],
        methods=("excludeDueDistr", "matchDiscVals"), intersect=True,
    )
    assert both == [("a", "b")]


def test_preselect_random_method_seeded(spark):
    """Round-5 (VERDICT #4): the 'random' preselection method
    (pick_cor_random, reference VariableCorrelationDetector.py:1269-1301)
    with an explicit RandomState seed. numpy's legacy RandomState(seed)
    produces the SAME MT19937 stream as the reference's global
    np.random.seed(seed), so the draw-by-draw replication below IS the
    reference algorithm, made deterministic."""

    from logdata_anomaly_miner_spark.operators.correlation import (
        pick_random_pairs,
        preselect_pairs,
    )

    # draw-by-draw replication of the reference loop under the global seed
    def reference_sim(n, pct, seed):
        np.random.seed(seed)
        if pct <= 0.5:
            num_total = pct * n * (n - 1) / 2
        else:
            num_total = (1 - pct) * n * (n - 1) / 2
        frac = round(num_total % 1.0, 4)
        num_total = int(num_total) if (frac < 0.5 or (frac == 0.5 and pct >= 0.5)) else int(num_total + 1)
        tmp = []
        while len(tmp) < num_total:
            for a, b in np.random.randint(0, n, [num_total - len(tmp), 2]):
                p = [int(min(a, b)), int(max(a, b))]
                if a != b and p not in tmp:
                    tmp.append(p)
        if pct <= 0.5:
            return [tuple(p) for p in tmp]
        return [(i, j) for i in range(n) for j in range(i + 1, n) if [i, j] not in tmp]

    for n, pct, seed in [(6, 0.2, 42), (5, 0.7, 7), (20, 0.2, 1), (9, 0.5, 3)]:
        assert pick_random_pairs(n, pct, seed) == reference_sim(n, pct, seed)
    # pinned golden for the default seed (regression anchor)
    assert pick_random_pairs(6, 0.2, 42) == [(3, 4), (2, 4), (1, 4)]
    # deterministic across calls; pair count follows the reference formula
    assert pick_random_pairs(12, 0.3, 5) == pick_random_pairs(12, 0.3, 5)
    assert len(pick_random_pairs(20, 0.2, 1)) == 38
    # complement mode (pct > 0.5) returns all-minus-drawn in (i, j) order
    out = pick_random_pairs(5, 0.7, 7)
    assert all(i < j and 0 <= i and j < 5 for i, j in out)

    # end-to-end through preselect_pairs: indices map onto present columns
    rows = [(i, str(i % 5), str(i % 4), str(i % 3), str(i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, "event_id long, a string, b string, c string, d string")
    got = preselect_pairs(
        df, ["a", "b", "c", "d"], methods=("random",),
        percentage_random_cors=0.4, seed=11,
    )
    want_idx = pick_random_pairs(4, 0.4, 11)
    assert got == [("abcd"[i], "abcd"[j]) for i, j in want_idx]
