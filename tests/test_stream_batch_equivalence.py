"""Stream ≡ batch certification (round-5 VERDICT item 5).

Each test feeds the SAME corpus through a Structured Streaming stateful
operator and the batch operator it re-expresses, and asserts identical
violation sets: new values, missing values (with a state timeout,
ProcessingTimeTimeout), charset, sequence n-grams, count clusters,
entropy, event frequency (streaming_event_frequency ≡
check_event_frequency) and value range (streaming_value_range ≡
check_value_range_sequential). Each streaming operator here is the only
streaming form of its detector.
"""

from __future__ import annotations

import os
import tempfile
import time

import pytest

from pyspark.sql import functions as F


def test_streaming_new_values_equals_batch_across_microbatches(spark):
    """streaming_new_values (state store across micro-batches) ≡ batch
    check_new_values: the corpus is split into two files processed as
    separate micro-batches (maxFilesPerTrigger=1), so a value first seen in
    batch 1 must NOT re-alert in batch 2 — the cross-batch state is what
    this certifies."""
    from logdata_anomaly_miner_spark.operators.new_value import check_new_values
    from logdata_anomaly_miner_spark.streaming.state import streaming_new_values

    part1 = [("p1", "x", 1.0), ("p1", "y", 2.0), ("p2", "x", 3.0)]
    part2 = [("p1", "x", 4.0), ("p1", "z", 5.0), ("p2", "x", 6.0), ("p2", "q", 7.0)]
    schema = "target string, value string, ts double"
    with tempfile.TemporaryDirectory() as d:
        os.makedirs(f"{d}/in")
        spark.createDataFrame(part1, schema).coalesce(1).write.mode("append").parquet(f"{d}/in")
        # ensure file-1 mtime < file-2 mtime so trigger order is the corpus order
        time.sleep(1.1)
        spark.createDataFrame(part2, schema).coalesce(1).write.mode("append").parquet(f"{d}/in")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/in")
        )
        q = (
            streaming_new_values(stream)
            .writeStream.format("memory").queryName("sbe_new_vals")
            .outputMode("append")
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert len(q.recentProgress) >= 2, "expected >=2 micro-batches"
        got = {
            (r["target"], r["value"], r["first_ts"])
            for r in spark.sql("select * from sbe_new_vals").collect()
        }
    batch = spark.createDataFrame(part1 + part2, schema)
    firsts = check_new_values(batch, ["target", "value"], None, order_cols=["ts"])
    want = {(r["target"], r["value"], r["ts"]) for r in firsts.collect()}
    assert got == want and len(want) == 5


def test_streaming_missing_values_timeout_equals_batch(spark):
    """streaming_missing_values (ProcessingTimeTimeout state) ≡ batch
    check_missing_values: value 'b' goes silent while 'a' keeps arriving;
    the streaming alarm fired by the state TIMEOUT must name exactly the
    values the batch check flags over the same written corpus, with the
    same last_seen. (Documented semantic mapping: the stream's
    processing-time silence interval plays the batch check's event-time
    interval_s — equivalence holds when arrival rate tracks event time,
    which the keep-alive writer enforces here.)"""
    from logdata_anomaly_miner_spark.operators.missing import check_missing_values
    from logdata_anomaly_miner_spark.streaming.state import streaming_missing_values

    schema = "value string, ts double"
    t0 = 1000.0
    with tempfile.TemporaryDirectory() as d:
        os.makedirs(f"{d}/in")
        written = [("a", t0), ("b", t0 + 1.0)]
        spark.createDataFrame(written, schema).coalesce(1).write.mode("append").parquet(f"{d}/in")
        stream = spark.readStream.schema(schema).parquet(f"{d}/in")
        q = (
            streaming_missing_values(stream, timeout_ms=3000)
            .writeStream.format("memory").queryName("sbe_missing")
            .outputMode("append")
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        try:
            # keep 'a' alive past b's silence window; b must time out
            alarms = {}
            deadline = time.time() + 60
            i = 0
            while time.time() < deadline:
                time.sleep(1.0)
                i += 1
                # event time advances FASTER than the wall clock (2 s per
                # keep-alive) so by the time the 3 s processing-time timeout
                # fires, b's event-time silence also exceeds interval_s
                row = ("a", t0 + 1.0 + 2.0 * i)
                written.append(row)
                spark.createDataFrame([row], schema).coalesce(1).write.mode(
                    "append"
                ).parquet(f"{d}/in")
                alarms = {
                    r["value"]: r["last_seen"]
                    for r in spark.sql("select * from sbe_missing").collect()
                }
                if "b" in alarms:
                    break
        finally:
            q.stop()
    assert "b" in alarms, "state timeout never fired"
    assert "a" not in alarms, "keep-alive value must not alarm"
    # batch over the SAME corpus: b silent > interval before the last event
    batch = spark.createDataFrame(
        [(v, int(t * 1_000_000)) for v, t in written], "value string, us long"
    )
    flagged = check_missing_values(batch, ["value"], interval_s=3.0, ts_micros_col="us")
    want = {r["value"]: r["last_seen_us"] / 1_000_000.0 for r in flagged.collect()}
    assert set(want) == {"b"}
    assert abs(alarms["b"] - want["b"]) < 1e-6


def _two_file_stream(spark, d, part1, part2, schema):
    """The two-file micro-batch pattern: file mtimes force trigger order."""
    os.makedirs(f"{d}/in", exist_ok=True)
    spark.createDataFrame(part1, schema).coalesce(1).write.mode("append").parquet(f"{d}/in")
    time.sleep(1.1)
    spark.createDataFrame(part2, schema).coalesce(1).write.mode("append").parquet(f"{d}/in")
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/in")
    )


def _run_to_memory(df, name, ckpt):
    q = (
        df.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 2, "expected >=2 micro-batches"
    return q


def test_streaming_charset_equals_batch(spark):
    """streaming_new_charset ≡ learn_charsets + check_charset: chars first
    seen in the learn half initialize state silently across the micro-batch
    boundary; only the check half's genuinely novel chars alert."""
    from logdata_anomaly_miner_spark.operators.charset import (
        check_charset,
        learn_charsets,
    )
    from logdata_anomaly_miner_spark.streaming.state import streaming_new_charset

    schema = "g string, text string, ts double"
    part1 = [("g1", "abc", 1.0), ("g1", "abd", 2.0), ("g2", "xy", 3.0)]
    part2 = [("g1", "abe!", 10.0), ("g2", "xz", 11.0), ("g1", "cab", 12.0)]
    with tempfile.TemporaryDirectory() as d:
        stream = _two_file_stream(spark, d, part1, part2, schema)
        _run_to_memory(streaming_new_charset(stream), "sbe_charset", f"{d}/ckpt")
        got = {
            (r["g"], r["ch"])
            for r in spark.sql("select * from sbe_charset where first_ts >= 10").collect()
        }
    learn = learn_charsets(spark.createDataFrame(part1, schema), "text", ["g"])
    check = check_charset(spark.createDataFrame(part2, schema), "text", learn, ["g"])
    want = {(r["g"], r["ch"]) for r in check.collect()}
    assert got == want == {("g1", "e"), ("g1", "!"), ("g2", "z")}


def test_streaming_seq_ngrams_equals_batch(spark):
    """streaming_new_sequences ≡ check_new_sequences: the per-id last-(n-1)
    window is carried ACROSS the micro-batch boundary (grams spanning the
    two files still form) and grams repeated in batch 2 do not re-alert."""
    from logdata_anomaly_miner_spark.operators.sequence import check_new_sequences
    from logdata_anomaly_miner_spark.streaming.state import streaming_new_sequences

    schema = "id string, value string, ts double"
    part1 = [("u1", v, float(i)) for i, v in enumerate(["a", "b", "c", "d"])]
    part1 += [("u2", v, float(i)) for i, v in enumerate(["p", "q", "r"])]
    # u1 batch 2 re-walks a,b,c (gram abc repeats -> no alert) then e
    part2 = [("u1", v, 10.0 + i) for i, v in enumerate(["a", "b", "c", "e"])]
    part2 += [("u2", v, 10.0 + i) for i, v in enumerate(["q", "r"])]
    with tempfile.TemporaryDirectory() as d:
        stream = _two_file_stream(spark, d, part1, part2, schema)
        _run_to_memory(streaming_new_sequences(stream), "sbe_grams", f"{d}/ckpt")
        rows = spark.sql("select * from sbe_grams").collect()
        got = {(r["id"], r["g1"], r["g2"], r["g3"]) for r in rows}
        assert len(rows) == len(got), "a repeated gram re-alerted"
    batch = spark.createDataFrame(part1 + part2, schema)
    want = {
        (r["id"], r["g1"], r["g2"], r["g3"])
        for r in check_new_sequences(
            batch, "value", None, n=3, id_cols=["id"], order_cols=["ts"]
        ).collect()
    }
    assert got == want
    # the boundary-spanning grams exist: u1 (c,d,a) and u2 (q,r,q)
    assert ("u1", "c", "d", "a") in got and ("u2", "q", "r", "q") in got


def test_streaming_count_cluster_equals_batch(spark):
    """streaming_count_cluster ≡ count_vectors + manhattan_vs_baseline over
    every COMPLETED window: window counts accumulate across the micro-batch
    boundary, window 0 is the baseline, an id without window-0 events scores
    1.0, and the still-open final window is excluded on both sides."""
    from logdata_anomaly_miner_spark.operators.event_count_cluster import (
        count_vectors,
        manhattan_vs_baseline,
    )
    from logdata_anomaly_miner_spark.streaming.state import streaming_count_cluster

    schema = "id string, event_type string, ts double"
    t0, ws = 1000.0, 10.0
    part1 = [
        # u1 w0 (baseline): A:2 B:1   w1: A:2 B:1 (dist 0)   w2 first half: A:2
        ("u1", "A", 1001.0), ("u1", "A", 1002.0), ("u1", "B", 1003.0),
        ("u1", "A", 1011.0), ("u1", "B", 1012.0), ("u1", "A", 1013.0),
        ("u1", "A", 1021.0), ("u1", "A", 1022.0),
        # u2 has NO w0: first events land in w1
        ("u2", "X", 1015.0),
    ]
    part2 = [
        # u1 w2 second half: A:2 more (total A:4), then w3 B:2, w4 sentinel
        ("u1", "A", 1023.0), ("u1", "A", 1024.0),
        ("u1", "B", 1031.0), ("u1", "B", 1032.0),
        ("u1", "A", 1041.0),
        # u2 w2 completes w1; w3 sentinel completes w2
        ("u2", "X", 1025.0), ("u2", "Y", 1026.0),
        ("u2", "X", 1035.0),
    ]
    with tempfile.TemporaryDirectory() as d:
        stream = _two_file_stream(spark, d, part1, part2, schema)
        _run_to_memory(
            streaming_count_cluster(stream, t0=t0, window_size=ws),
            "sbe_cluster", f"{d}/ckpt",
        )
        got = {
            (r["id"], r["w"]): round(r["dist"], 9)
            for r in spark.sql("select * from sbe_cluster").collect()
        }
    batch = spark.createDataFrame(part1 + part2, schema)
    cv = count_vectors(batch, ["id"], "event_type", ts_col="ts", window_size=ws, t0=t0)
    baseline = cv.filter("w = 0").select("id", "event_type", "cnt")
    dists = manhattan_vs_baseline(cv.filter("w > 0"), baseline, ["id"])
    # exclude each id's final (still-open) window on the batch side
    last_w = {r["id"]: r["mw"] for r in cv.groupBy("id").agg(F.max("w").alias("mw")).collect()}
    want = {
        (r["id"], r["w"]): round(r["dist"], 9)
        for r in dists.collect()
        if r["w"] < last_w[r["id"]]
    }
    assert got == want
    assert got[("u1", 1)] == 0.0          # identical window -> 0
    assert got[("u2", 1)] == 1.0          # no baseline -> all mass unmatched
    # u1 w2 {A:4} vs baseline {A:2,B:1}: (|4-2| + |0-1|) / (4 + 3)
    assert got[("u1", 2)] == round(3.0 / 7.0, 9)


def test_streaming_entropy_pipeline_equals_batch_sequential(spark):
    """streaming_entropy_pipeline (bigram tables in the state store across
    micro-batches) ≡ batch score_entropy_sequential for BOTH variants:
    per-atom critical values must match exactly, including atoms scored in
    batch 3 against tables accumulated in batches 1-2."""
    from logdata_anomaly_miner_spark.operators.entropy import (
        score_entropy_sequential,
    )
    from logdata_anomaly_miner_spark.streaming.state import (
        streaming_entropy_pipeline,
    )

    # deterministic LCG words with repeats and one late outlier
    seed = 17
    words = []
    for i in range(60):
        seed = (seed * 1103515245 + 12345) % (2**31)
        words.append("abcde"[seed % 3] * (seed % 4 + 1) + "xy"[seed % 2])
    words[45] = "@@##$$"  # late high-entropy outlier
    rows = [(i, True, ["/p"], w) for i, w in enumerate(words)]
    schema = "ingest_order long, parse_ok boolean, paths array<string>, value string"
    with tempfile.TemporaryDirectory() as d:
        os.makedirs(f"{d}/in")
        for lo, hi in ((0, 20), (20, 40), (40, 60)):
            spark.createDataFrame(rows[lo:hi], schema).coalesce(1).write.mode(
                "append"
            ).parquet(f"{d}/in")
            time.sleep(1.1)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/in")
        )
        q = (
            streaming_entropy_pipeline(stream)
            .writeStream.format("memory").queryName("sbe_entropy")
            .outputMode("append")
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert len([p for p in q.recentProgress if p["numInputRows"]]) >= 3
        got = {
            (r["ingest_order"], r["rank"]): r["crit"]
            for r in spark.sql("select * from sbe_entropy").collect()
            if r["rank"] in (2, 3)
        }
    vals = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "ingest_order long, value string"
    )
    for rank, skip in ((2, False), (3, True)):
        batch = {
            r["ingest_order"]: r["critical_val"]
            for r in score_entropy_sequential(
                vals, "value", "ingest_order", skip_repetitions=skip
            ).collect()
        }
        assert set(batch) == {o for (o, rk) in got if rk == rank}
        for o, cv in batch.items():
            assert got[(o, rank)] == pytest.approx(cv, abs=1e-12), (rank, o)


def test_streaming_event_frequency_equals_batch(spark):
    """streaming_event_frequency (anchor/open-count/band-history in the
    state store) ≡ batch check_event_frequency + the empty-run scan: the
    decision sets (closing atom, rank) must coincide on a stream with a
    quiet gap (empty-window warning) and a burst (band anomaly), split
    across micro-batches."""
    from logdata_anomaly_miner_spark.operators.event_frequency import (
        anchored_window_counts,
        check_event_frequency,
        densify_counts,
    )
    from logdata_anomaly_miner_spark.streaming.state import (
        streaming_event_frequency,
    )

    ws, nw, cf = 10.0, 50, 0.5
    ts = []
    t = 0.0
    for w in range(12):
        if w in (5, 6):            # two empty windows
            continue
        n = 20 if w == 9 else 3    # burst in window 9
        for i in range(n):
            ts.append(w * ws + i * (ws / (n + 1)) + 0.01)
    rows = [(i, v) for i, v in enumerate(sorted(ts))]
    schema = "ingest_order long, ts double"
    with tempfile.TemporaryDirectory() as d:
        os.makedirs(f"{d}/in")
        third = len(rows) // 3
        for lo, hi in ((0, third), (third, 2 * third), (2 * third, len(rows))):
            spark.createDataFrame(rows[lo:hi], schema).coalesce(1).write.mode(
                "append"
            ).parquet(f"{d}/in")
            time.sleep(1.1)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/in")
        )
        q = (
            streaming_event_frequency(
                stream, window_size=ws, num_windows=nw, confidence_factor=cf
            )
            .writeStream.format("memory").queryName("sbe_freq")
            .outputMode("append")
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r["ingest_order"], r["rank"])
            for r in spark.sql("select * from sbe_freq").collect()
        }
    # batch expectation: violations -> closing atom; empty runs -> trigger
    ev = spark.createDataFrame(rows, schema).select(
        F.lit("e").alias("k"), F.col("ts")
    )
    viol_ws = [
        r["w"]
        for r in check_event_frequency(
            ev, ["k"], window_size=ws, num_windows=nw, confidence_factor=cf
        ).collect()
    ]
    cnts = {
        r["w"]: r["cnt"]
        for r in densify_counts(
            anchored_window_counts(ev, ["k"], ws), ["k"]
        ).collect()
    }
    t0 = min(v for _, v in rows)
    atoms = rows
    expect = set()
    for wv in viol_ws:
        closing = next(a for a in atoms if a[1] >= t0 + (wv + 1) * ws)
        expect.add((closing[0], 5))
    w = 0
    w_last = max(cnts)
    while w < w_last:
        if cnts.get(w, 0) == 0:
            run_end = w
            while run_end + 1 < w_last and cnts.get(run_end + 1, 0) == 0:
                run_end += 1
            trig = next(
                (a for a in atoms if a[1] >= t0 + (run_end + 1) * ws), None
            )
            if trig:
                expect.add((trig[0], 4))
            w = run_end + 1
        else:
            w += 1
    assert (4 in {rk for _, rk in expect}) and (5 in {rk for _, rk in expect})
    assert got == expect


def test_streaming_event_frequency_keyed_with_global_anchor(spark):
    """Keyed streaming_event_frequency with an explicit global t0: on a
    corpus where every key is active in every one of its windows (so the
    documented keyed divergence — other-key-activity band checks — cannot
    trigger), per-key decisions must match the batch operator computed per
    key on the same global grid."""
    from logdata_anomaly_miner_spark.operators.event_frequency import (
        check_event_frequency,
    )
    from logdata_anomaly_miner_spark.streaming.state import (
        streaming_event_frequency,
    )

    ws, nw, cf = 10.0, 50, 0.5
    t0 = 1000.0
    rows = []
    order = 0
    for w in range(10):
        for key, n in (("A", 20 if w == 7 else 4), ("B", 3)):
            for i in range(n):
                rows.append((order, key, t0 + w * ws + i * (ws / (n + 1)) + 0.01))
                order += 1
    rows.sort(key=lambda r: r[2])
    rows = [(i, k, t) for i, (_, k, t) in enumerate(rows)]
    schema = "ingest_order long, k string, ts double"
    with tempfile.TemporaryDirectory() as d:
        os.makedirs(f"{d}/in")
        half = len(rows) // 2
        for lo, hi in ((0, half), (half, len(rows))):
            spark.createDataFrame(rows[lo:hi], schema).coalesce(1).write.mode(
                "append"
            ).parquet(f"{d}/in")
            time.sleep(1.1)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/in")
        )
        q = (
            streaming_event_frequency(
                stream, window_size=ws, num_windows=nw,
                confidence_factor=cf, key_col="k", t0=t0,
            )
            .writeStream.format("memory").queryName("sbe_freq_keyed")
            .outputMode("append")
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r["ingest_order"], r["rank"])
            for r in spark.sql("select * from sbe_freq_keyed").collect()
        }
    # batch per key on the global grid
    ev = spark.createDataFrame(rows, schema).select("k", "ts")
    viol = check_event_frequency(
        ev, ["k"], window_size=ws, num_windows=nw, confidence_factor=cf, t0=t0
    ).collect()
    expect = set()
    by_key = {}
    for o, k, t in rows:
        by_key.setdefault(k, []).append((o, t))
    for r in viol:
        closers = [o for o, t in by_key[r["k"]] if t >= t0 + (r["w"] + 1) * ws]
        expect.add((min(closers), 5))
    assert expect, "fixture must produce at least one band anomaly"
    assert got == expect


def test_streaming_value_range_matches_sequential(spark):
    """Streaming ValueRangeDetector state operator vs the batch sequential
    prefix check: identical alarms (value + the pre-event range)."""

    from logdata_anomaly_miner_spark.operators.value_range import (
        check_value_range_sequential,
    )
    from logdata_anomaly_miner_spark.streaming.state import streaming_value_range

    rows = [
        ("a", 1.0, 5.0), ("a", 2.0, 9.0), ("a", 3.0, 7.0), ("a", 4.0, 12.0),
        ("b", 1.5, 100.0), ("b", 2.5, 90.0), ("b", 3.5, 95.0),
        # a NULL value arrives as NaN through Arrow: it must be skipped, NOT
        # poison c's (mn, mx) state and disable the later genuine alarm
        ("c", 1.0, 10.0), ("c", 2.0, None), ("c", 3.0, 50.0),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, "id string, ts double, value double").coalesce(
            1
        ).write.parquet(f"{d}/in")
        stream = spark.readStream.schema("id string, ts double, value double").parquet(
            f"{d}/in"
        )
        q = (
            streaming_value_range(stream)
            .writeStream.format("memory").queryName("vr_alarms")
            .outputMode("update").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {
            (r["id"], r["ts"]): (r["value"], r["range_min"], r["range_max"])
            for r in spark.sql("select * from vr_alarms").collect()
        }
    batch_df = spark.createDataFrame(rows, "id string, ts double, value double")
    viol, _ = check_value_range_sequential(batch_df, ["id"], "value", ("ts",))
    want = {}
    for r in viol.collect():
        import json as _json

        det = _json.loads(r["detail"])
        want[(r["id"], r["ts"])] = (det["value"], det["range_min"], det["range_max"])
    assert got == want and len(got) >= 3
