"""Property-based tests (hypothesis): the set-oriented re-expressions must
agree with straightforward sequential reference implementations on random
inputs — the same strategy the reference's unit fixtures use, generalized."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from logdata_anomaly_miner_spark.operators.new_value import first_occurrences
from logdata_anomaly_miner_spark.operators.value_range import (
    check_value_range_sequential,
)

# events: (ts offset int, key in a..d, value small int)
EVENTS = st.lists(
    st.tuples(
        st.integers(0, 50),
        st.sampled_from(["a", "b", "c", "d"]),
        st.integers(-5, 5),
    ),
    min_size=1,
    max_size=25,
)

T0 = 1_700_000_000.0


@settings(max_examples=12, deadline=None)
@given(EVENTS)
def test_first_occurrences_matches_sequential_scan(spark, events):
    # unique, deterministic order: (ts, seq) — seq breaks ties like doc_id
    rows = [(T0 + ts, f"s{i:03d}", k, float(v)) for i, (ts, k, v) in enumerate(events)]
    df = spark.createDataFrame(rows, "ts double, seq string, k string, v double")
    got = {
        (r["k"]): (r["ts"], r["seq"])
        for r in first_occurrences(df, ["k"], ["ts", "seq"]).collect()
    }
    seen = {}
    for ts, seq, k, v in sorted(rows, key=lambda r: (r[0], r[1])):
        seen.setdefault(k, (ts, seq))
    assert got == seen


@settings(max_examples=10, deadline=None)
@given(EVENTS)
def test_value_range_sequential_matches_reference_loop(spark, events):
    rows = [(T0 + ts, f"s{i:03d}", k, float(v)) for i, (ts, k, v) in enumerate(events)]
    df = spark.createDataFrame(rows, "ts double, seq string, k string, v double")
    viols, learned = check_value_range_sequential(df, ["k"], "v", ["ts", "seq"])
    got = sorted((r["k"], r["ts"], r["v"]) for r in viols.collect())

    # reference semantics: per key in arrival order, first value sets the
    # range; later values outside the running range are anomalies and (learn
    # mode) extend it (ValueRangeDetector.py:131-164)
    want = []
    state: dict[str, list[float]] = {}
    for ts, seq, k, v in sorted(rows, key=lambda r: (r[0], r[1])):
        if k not in state:
            state[k] = [v, v]
        else:
            lo, hi = state[k]
            if v < lo or v > hi:
                want.append((k, ts, v))
            state[k][0] = min(lo, v)
            state[k][1] = max(hi, v)
    assert got == sorted(want)
    lr = {r["k"]: (r["min"], r["max"]) for r in learned.collect()}
    assert lr == {k: (lo, hi) for k, (lo, hi) in state.items()}


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.floats(min_value=-1000, max_value=1000, allow_nan=False), min_size=1, max_size=60),
    st.integers(2, 9),
)
def test_global_prefix_scan_property(spark, ts_vals, nb):
    """Distributed two-phase prefix max / lag == sequential fold, for any
    sequence (and, for the lag, any range-bucket count)."""
    from logdata_anomaly_miner_spark.operators.timestamps import (
        monotonic_adjust,
        unsorted_timestamps,
    )

    rows = [(i, float(t)) for i, t in enumerate(ts_vals)]
    df = spark.createDataFrame(rows, "event_id long, ts double").repartition(5)
    adj = {r["event_id"]: r["ts_adj"] for r in monotonic_adjust(df).collect()}
    bad = sorted(r["event_id"] for r in unsorted_timestamps(df, num_buckets=nb).collect())
    run, prev, want_adj, want_bad = float("-inf"), None, {}, []
    for i, t in enumerate(ts_vals):
        run = max(run, t)
        want_adj[i] = run
        if prev is not None and t < prev:
            want_bad.append(i)
        prev = t
    assert adj == want_adj and bad == want_bad


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(0, 400), min_size=1, max_size=40),
    st.integers(10, 120),
)
def test_learning_cutoff_property(spark, offsets, delta):
    """Distributed gap-scan cutoff == the sequential stop_learning fold."""
    from logdata_anomaly_miner_spark.operators.lifecycle import split_learn_check

    ts = sorted(T0 + o for o in offsets)
    df = spark.createDataFrame([(t, i) for i, t in enumerate(ts)], "ts double, atom int")
    learn, check = split_learn_check(df, "ts", stop_learning_no_anomaly_time=float(delta))
    got_learn = sorted(r["atom"] for r in learn.collect())
    stopped, want_learn = False, []
    prev = None
    for i, t in enumerate(ts):
        if prev is not None and t > prev + delta:
            stopped = True
        if not stopped:
            want_learn.append(i)
        prev = t
    assert got_learn == want_learn


@settings(max_examples=10, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=12), min_size=1, max_size=15))
def test_bigram_learner_utf8_property(spark, values):
    """Binary-slice pair aggregation == plain-Python UTF-8 byte bigrams,
    for arbitrary unicode values (incl. empty strings and astral chars)."""
    from logdata_anomaly_miner_spark.operators.entropy import learn_bigram_freq

    df = spark.createDataFrame([(v,) for v in values], "value string")
    freq, _ = learn_bigram_freq(df, "value")
    got = {(r["first"], r["second"]): r["cnt"] for r in freq.collect()}
    want: dict[tuple[int, int], int] = {}
    for v in values:
        b = v.encode("utf-8")
        for i in range(-1, len(b)):
            f = b[i] if i != -1 else 256
            s = b[i + 1] if i != len(b) - 1 else 256
            want[(f, s)] = want.get((f, s), 0) + 1
    assert got == want
