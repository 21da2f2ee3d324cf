"""Parity with reference EntropyDetectorTest.py:22-151 (FIXTURES.md §3.3).

The reference interleaves check-then-learn per atom; the harness below
replays that loop with the batch operators (score value_i against the freq
table learned from values 1..i-1), asserting the same anomaly sets:
  prob_thresh=0.05 -> {aminer, lfmvasacz}
  prob_thresh=0.10 -> {aminer, austrian, lfmvasacz}
"""

from __future__ import annotations

import pytest

from logdata_anomaly_miner_spark.operators.entropy import (
    check_entropy,
    learn_bigram_freq,
    score_entropy_pandas,
)

VALUES = ["aminer", "logdata-anomaly-miner", "ait-aecid", "austrian", "institute", "lfmvasacz"]


def _ref_scores():
    """Independent oracle: straight reimplementation of the reference math
    (EntropyDetector.py:128-145) in plain Python over the fixture."""
    freq: dict[int, dict[int, int]] = {}
    total: dict[int, int] = {}
    scores = []
    for v in VALUES:
        b = v.encode()
        probs = []
        for i in range(-1, len(b)):
            first = b[i] if i != -1 else -1
            second = b[i + 1] if i != len(b) - 1 else -1
            p = 0.0
            if first in freq and second in freq[first]:
                p = freq[first][second] / total[first]
            probs.append(p)
        scores.append(sum(probs) / len(probs))
        for i in range(-1, len(b)):
            first = b[i] if i != -1 else -1
            second = b[i + 1] if i != len(b) - 1 else -1
            total[first] = total.get(first, 0) + 1
            d = freq.setdefault(first, {})
            d[second] = d.get(second, 0) + 1
    return scores


def _spark_sequential_scores(spark, scorer):
    scores = [0.0]  # empty freq table -> every prob 0
    for i, v in enumerate(VALUES[1:], 1):
        learned = spark.createDataFrame([(x,) for x in VALUES[:i]], "value string")
        baseline, _ = learn_bigram_freq(learned, "value")
        scored = scorer(spark.createDataFrame([(v,)], "value string"), baseline)
        scores.append(scored.collect()[0]["critical_val"])
    return scores


def test_sequential_parity_scores(spark):
    scorer = lambda df, b: score_entropy_pandas(spark, df, "value", b)  # noqa: E731
    got = _spark_sequential_scores(spark, scorer)
    want = _ref_scores()
    assert got == pytest.approx(want, abs=1e-12)
    # anomaly sets from the reference unit test
    assert [v for v, s in zip(VALUES, got) if s < 0.05] == ["aminer", "lfmvasacz"]
    assert [v for v, s in zip(VALUES, got) if s < 0.1] == ["aminer", "austrian", "lfmvasacz"]


def test_non_ascii_utf8_byte_parity(spark):
    """Learner + scorer must agree on UTF-8 BYTES for non-ASCII text,
    matching the reference's bytes() iteration (EntropyDetector.py:128-145).
    'café' is 5 bytes (c3 a9 for é) -> 6 bigram pairs; codepoint-based code
    would see 4 chars / 5 pairs and a code 233 ≠ bytes {0xc3, 0xa9}."""
    learn_df = spark.createDataFrame([("café",), ("中caf",)], "value string")
    freq, _ = learn_bigram_freq(learn_df, "value")
    rows = freq.collect()
    assert all(r["first"] <= 256 and r["second"] <= 256 for r in rows)
    # café -> 6 pairs, 中caf -> 3 utf-8 bytes + 3 ascii = 7 pairs
    assert sum(r["cnt"] for r in rows) == 6 + 7
    # (0xc3, 0xa9) must be a learned pair (the two bytes of é)
    assert any(r["first"] == 0xC3 and r["second"] == 0xA9 for r in rows)
    score_df = spark.createDataFrame([("café",), ("中caf",), ("xyz",)], "value string")
    got_pd = {
        r["value"]: r["critical_val"]
        for r in score_entropy_pandas(spark, score_df, "value", freq).collect()
    }
    # independent plain-Python byte oracle
    tab: dict[tuple[int, int], int] = {}
    tot: dict[int, int] = {}
    for v in ["café", "中caf"]:
        b = v.encode()
        for i in range(-1, len(b)):
            f = b[i] if i != -1 else 256
            s = b[i + 1] if i != len(b) - 1 else 256
            tab[(f, s)] = tab.get((f, s), 0) + 1
            tot[f] = tot.get(f, 0) + 1
    for v in ["café", "中caf", "xyz"]:
        b = v.encode()
        probs = []
        for i in range(-1, len(b)):
            f = b[i] if i != -1 else 256
            s = b[i + 1] if i != len(b) - 1 else 256
            probs.append(tab.get((f, s), 0) / tot[f] if f in tot else 0.0)
        want = sum(probs) / len(probs)
        assert got_pd[v] == pytest.approx(want, abs=1e-12), v


def test_check_entropy_filter(spark):
    df = spark.createDataFrame(
        [("a", 0.04), ("b", 0.06)], "value string, critical_val double"
    )
    assert [r["value"] for r in check_entropy(df, 0.05).collect()] == ["a"]


def _ref_scores_seq(values, skip_repetitions=False):
    """Plain-Python check-then-learn oracle (EntropyDetector.py:87-193),
    optionally with the skip_repetitions value dedup."""
    freq: dict[int, dict[int, int]] = {}
    total: dict[int, int] = {}
    seen: set[bytes] = set()
    scores = []
    for v in values:
        b = v.encode()
        probs = []
        for i in range(-1, len(b)):
            first = b[i] if i != -1 else -1
            second = b[i + 1] if i != len(b) - 1 else -1
            p = 0.0
            if first in freq and second in freq[first]:
                p = freq[first][second] / total[first]
            probs.append(p)
        scores.append(sum(probs) / len(probs))
        if skip_repetitions:
            if b in seen:
                continue
            seen.add(b)
        for i in range(-1, len(b)):
            first = b[i] if i != -1 else -1
            second = b[i + 1] if i != len(b) - 1 else -1
            total[first] = total.get(first, 0) + 1
            d = freq.setdefault(first, {})
            d[second] = d.get(second, 0) + 1
    return scores


@pytest.mark.parametrize("skip", [False, True])
def test_score_entropy_sequential_one_shot(spark, skip):
    """The declarative prefix scorer reproduces the reference's per-atom
    check-then-learn loop in ONE plan (no driver loop), including repeated
    values (whose learned pairs shift later scores) and skip_repetitions."""
    from logdata_anomaly_miner_spark.operators.entropy import (
        score_entropy_sequential,
    )

    values = VALUES + ["aminer", "aminer", "amines", "lfmvasacz"]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "ord long, value string"
    )
    got_rows = score_entropy_sequential(
        df, "value", "ord", skip_repetitions=skip
    ).collect()
    got = [r["critical_val"] for r in sorted(got_rows, key=lambda r: r["ord"])]
    want = _ref_scores_seq(values, skip_repetitions=skip)
    assert got == pytest.approx(want, abs=1e-12)
    if not skip:
        assert want[:6] == pytest.approx(_ref_scores(), abs=1e-12)
    # repetition sensitivity: with dedup the 3rd 'aminer' must score LOWER
    # than without (its own earlier copies were not learned)
    if skip:
        base = _ref_scores_seq(values, skip_repetitions=False)
        assert want[7] < base[7]
