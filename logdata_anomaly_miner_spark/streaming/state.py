"""Custom stateful streaming operators via applyInPandasWithState.

Re-expresses the per-detector in-memory state loop (AnalysisChild
dispatch_atom + detector.receive_atom) for true streaming:

- ``streaming_new_values``: per-key known-values state; emits each value the
  first time it is ever seen (NewMatchPathValueDetector's learn_mode
  semantics, NewMatchPathValueDetector.py:91-98, with state in the Spark
  state store instead of a persistence JSON).
- ``streaming_missing_values``: heartbeat detector with processing-time
  timeout ≙ MissingMatchPathValueDetector's default_interval alerts
  (MissingMatchPathValueDetector.py:25-334).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

NEW_VALUE_OUTPUT_SCHEMA = "target string, value string, first_ts double"
NEW_VALUE_STATE_SCHEMA = "seen array<string>"


def _new_value_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (target,) = key
    seen = set(state.get[0]) if state.exists else set()
    out_vals, out_ts = [], []
    # concat ALL Arrow chunks before sorting: a key whose micro-batch
    # exceeds arrow.maxRecordsPerBatch arrives as several pdfs, and
    # per-chunk sorting would process a later-chunk row with an earlier
    # ts after rows that followed it
    all_pdfs = [p for p in pdfs]
    for pdf in [pd.concat(all_pdfs).sort_values("ts")] if all_pdfs else []:
        for v, t in zip(pdf["value"], pdf["ts"]):
            if v is not None and v not in seen:
                seen.add(v)
                out_vals.append(v)
                out_ts.append(float(t))
    state.update((list(seen),))
    yield pd.DataFrame(
        {"target": [target] * len(out_vals), "value": out_vals, "first_ts": out_ts}
    )


def streaming_new_values(stream: DataFrame) -> DataFrame:
    """stream(target, value, ts) -> first-ever occurrences per target.
    State = the known-values set per key in the Spark state store."""
    return stream.groupBy("target").applyInPandasWithState(
        _new_value_fn,
        outputStructType=NEW_VALUE_OUTPUT_SCHEMA,
        stateStructType=NEW_VALUE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


MISSING_OUTPUT_SCHEMA = "value string, last_seen double"
MISSING_STATE_SCHEMA = "last_seen double"


def _make_missing_value_fn(timeout_ms: int):
    def _missing_value_fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (value,) = key
        if state.hasTimedOut:
            last = state.get[0] if state.exists else float("nan")
            state.remove()
            yield pd.DataFrame({"value": [value], "last_seen": [last]})
            return
        last = state.get[0] if state.exists else 0.0
        for pdf in pdfs:
            if len(pdf):
                last = max(last, float(pdf["ts"].max()))
        state.update((last,))
        state.setTimeoutDuration(int(timeout_ms))
        yield pd.DataFrame({"value": [], "last_seen": []})

    return _missing_value_fn


def streaming_missing_values(stream: DataFrame, timeout_ms: int = 60_000) -> DataFrame:
    """stream(value, ts) -> a row when a value goes silent past the timeout
    (processing-time timeout ≙ the reference's default_interval realert,
    MissingMatchPathValueDetector.py:25-334). ``timeout_ms`` is the
    silence interval; each arriving batch for a key re-arms its timer."""
    return stream.groupBy("value").applyInPandasWithState(
        _make_missing_value_fn(timeout_ms),
        outputStructType=MISSING_OUTPUT_SCHEMA,
        stateStructType=MISSING_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


VALUE_RANGE_OUTPUT_SCHEMA = (
    "id string, ts double, value double, range_min double, range_max double"
)
VALUE_RANGE_STATE_SCHEMA = "mn double, mx double"


def _value_range_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (ident,) = key
    mn, mx = state.get if state.exists else (None, None)
    out = []
    # concat-then-sort across ALL Arrow chunks (see _new_value_fn): the
    # sequential check-then-learn order must hold across chunk boundaries
    all_pdfs = [p for p in pdfs]
    for pdf in [pd.concat(all_pdfs).sort_values("ts")] if all_pdfs else []:
        for t, v in zip(pdf["ts"], pdf["value"]):
            # Arrow delivers SQL NULL doubles as NaN, not None: a bare
            # `v is None` never fires and a single NaN would poison the
            # (mn, mx) state forever (all later comparisons false).
            if v is None or pd.isna(v):
                continue
            v = float(v)
            if mn is not None and (v < mn or v > mx):
                out.append((ident, float(t), v, mn, mx))
            mn = v if mn is None else min(mn, v)
            mx = v if mx is None else max(mx, v)
    state.update((mn, mx))
    yield pd.DataFrame(
        out, columns=["id", "ts", "value", "range_min", "range_max"]
    )


def streaming_value_range(stream: DataFrame) -> DataFrame:
    """stream(id, ts, value) -> true-streaming ValueRangeDetector
    (reference ValueRangeDetector.py:74-164, learn_mode=True): per-id [min,max] lives in the Spark state
    store; each event outside the range so far alarms WITH the pre-event
    range (exactly the sequential check-then-learn order), then extends it.
    Matches check_value_range_sequential batch-for-stream."""
    renamed = stream.select(
        "id", F.col("ts").cast("double").alias("ts"), F.col("value").cast("double").alias("value")
    )
    return renamed.groupBy("id").applyInPandasWithState(
        _value_range_fn,
        VALUE_RANGE_OUTPUT_SCHEMA,
        VALUE_RANGE_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


CHARSET_OUTPUT_SCHEMA = "g string, ch string, first_ts double"
CHARSET_STATE_SCHEMA = "seen array<string>"


def _charset_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (g,) = key
    seen = set(state.get[0]) if state.exists else set()
    out_ch, out_ts = [], []
    all_pdfs = [p for p in pdfs]
    for pdf in [pd.concat(all_pdfs).sort_values("ts")] if all_pdfs else []:
        for text, t in zip(pdf["text"], pdf["ts"]):
            if text is None:
                continue
            for ch in text:
                if ch not in seen:
                    seen.add(ch)
                    out_ch.append(ch)
                    out_ts.append(float(t))
    state.update((sorted(seen),))
    yield pd.DataFrame(
        {"g": [g] * len(out_ch), "ch": out_ch, "first_ts": out_ts}
    )


def streaming_new_charset(stream: DataFrame) -> DataFrame:
    """stream(g, text, ts) -> true-streaming CharsetDetector (reference
    CharsetDetector.py:96-122, learn_mode): per-group known-character set in the Spark state store;
    each character's FIRST occurrence (in event-time order) emits once,
    never again across micro-batches. Batch-equivalent contract: emissions
    whose first_ts falls in a check window equal
    check_charset(check, learn_charsets(learn)) over the same split."""
    return stream.groupBy("g").applyInPandasWithState(
        _charset_fn,
        CHARSET_OUTPUT_SCHEMA,
        CHARSET_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


_GRAM_SEP = "\x1f"
SEQ_OUTPUT_SCHEMA = "id string, g1 string, g2 string, g3 string, first_ts double"
SEQ_STATE_SCHEMA = "lastvals array<string>, seen array<string>"


def _seq_ngram_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (ident,) = key
    last_vals, seen = ([], set())
    if state.exists:
        lv, sn = state.get
        last_vals, seen = list(lv), set(sn)
    out = []
    all_pdfs = [p for p in pdfs]
    for pdf in [pd.concat(all_pdfs).sort_values("ts")] if all_pdfs else []:
        for v, t in zip(pdf["value"], pdf["ts"]):
            if v is None:
                continue
            last_vals.append(v)
            if len(last_vals) > 3:
                last_vals.pop(0)
            if len(last_vals) == 3:
                gram = _GRAM_SEP.join(last_vals)
                if gram not in seen:
                    seen.add(gram)
                    out.append((ident, *last_vals, float(t)))
    state.update((last_vals, sorted(seen)))
    yield pd.DataFrame(out, columns=["id", "g1", "g2", "g3", "first_ts"])


def streaming_new_sequences(stream: DataFrame) -> DataFrame:
    """stream(id, value, ts) -> true-streaming EventSequenceDetector
    3-grams (reference EventSequenceDetector.py:169-178): per-id state carries the last n-1
    values ACROSS micro-batch boundaries (a gram spanning two files must
    still form) plus the known-gram set; each novel gram emits once with
    the timestamp of its completing event."""
    return stream.groupBy("id").applyInPandasWithState(
        _seq_ngram_fn,
        SEQ_OUTPUT_SCHEMA,
        SEQ_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


DISPATCH_OUTPUT_SCHEMA = (
    "ingest_order long, rank int, prev_ts double, new_paths array<string>"
)
DISPATCH_STATE_SCHEMA = (
    "prev_ts double, known_paths array<string>, known_values array<string>, "
    "known_combos array<string>"
)


def _dispatch_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """The reference's AnalysisChild dispatch loop (aminer/AnalysisChild.py:
    298-408, dispatch via SubhandlerFilter walking its handler list,
    aminer/analysis/AtomFilters.py:18-54) as ONE
    stateful streaming operator: per stream-key, the learned sets of four
    detectors live together in the Spark state store and every atom is
    checked-then-learned in handler registration order. Emits decision rows
    (rank = handler registration order); rendering stays outside (the
    golden StreamPrinter format is a plain projection over these rows)."""
    prev_ts, known_paths, known_values, known_combos = None, set(), set(), set()
    if state.exists:
        pt, kp, kv, kc = state.get
        # NaN sentinel: state tuples cannot hold None doubles reliably
        prev_ts = None if pt is None or pd.isna(pt) else float(pt)
        known_paths, known_values, known_combos = set(kp), set(kv), set(kc)
    out = []
    all_pdfs = [p for p in pdfs]
    for pdf in [pd.concat(all_pdfs).sort_values("ingest_order")] if all_pdfs else []:
        for o, ts, ok, paths, value, combo in zip(
            pdf["ingest_order"], pdf["ts"], pdf["parse_ok"],
            pdf["paths"], pdf["value"], pdf["combo"],
        ):
            o = int(o)
            if not ok:
                # SimpleUnparsedAtomHandler, stop_when_handled=True: the
                # atom never reaches the detectors below
                out.append((o, 0, None, None))
                continue
            ts = float(ts)
            if prev_ts is not None and ts < prev_ts:
                out.append((o, 1, prev_ts, None))
            prev_ts = ts
            new_paths = [p for p in paths if p not in known_paths]
            if new_paths:
                known_paths.update(new_paths)
                out.append((o, 2, None, new_paths))
            if value is not None and value not in known_values:
                known_values.add(value)
                out.append((o, 3, None, None))
            if combo is not None and combo not in known_combos:
                known_combos.add(combo)
                out.append((o, 4, None, None))
    state.update((
        float("nan") if prev_ts is None else prev_ts,
        sorted(known_paths), sorted(known_values), sorted(known_combos),
    ))
    yield pd.DataFrame(out, columns=["ingest_order", "rank", "prev_ts", "new_paths"])


def streaming_dispatch_pipeline(stream: DataFrame) -> DataFrame:
    """True-streaming multi-detector pipeline over a parsed atom stream:
    SimpleUnparsedAtomHandler → TimestampsUnsortedDetector →
    NewMatchPathDetector → NewMatchPathValue(Combo)Detector with all
    detector state in the Spark state store, one applyInPandasWithState.

    Input columns: ``ingest_order long`` (total order within the stream
    key), ``ts double`` (atom time), ``parse_ok boolean``, ``paths
    array<string>`` (the atom's match-dictionary paths in model order),
    ``value string`` / ``combo string`` (the configured detector targets;
    null = atom not in that detector's scope). Output: decision rows
    ``(ingest_order, rank, prev_ts, new_paths)`` where rank is the handler
    registration order (0=unparsed … 4=new combo).

    The input is one global stream, as the reference is a single
    sequential stream per process."""
    keyed = stream.withColumn("_stream_key", F.lit("all"))
    return keyed.groupBy("_stream_key").applyInPandasWithState(
        _dispatch_fn,
        DISPATCH_OUTPUT_SCHEMA,
        DISPATCH_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


CLUSTER_OUTPUT_SCHEMA = "id string, w long, dist double"
CLUSTER_STATE_SCHEMA = (
    "bt array<string>, bc array<long>, w long, ct array<string>, cc array<long>"
)


def _make_count_cluster_fn(t0: float, window_size: float):
    def _fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (ident,) = key
        if state.exists:
            bt, bc, cur_w, ct, cc = state.get
            base = dict(zip(bt, bc))
            cur = dict(zip(ct, cc))
            # -1 is the 'no current window yet' sentinel written below;
            # map it back to None so a restored pre-first-event state can
            # never trigger flush(-1)
            cur_w = None if cur_w == -1 else int(cur_w)
        else:
            base, cur, cur_w = {}, {}, None
        out = []

        def flush(completed_w):
            """Score the completed window: window 0 becomes the baseline,
            later windows emit the normalized Manhattan distance vs it
            (manhattan_vs_baseline's Σ|c−b| / (Σc + Σb))."""
            nonlocal base
            if completed_w == 0:
                base = dict(cur)
                return
            types = set(base) | set(cur)
            num = sum(abs(cur.get(k, 0) - base.get(k, 0)) for k in types)
            den = sum(cur.values()) + sum(base.values())
            out.append((ident, completed_w, num / den if den else 0.0))

        all_pdfs = [p for p in pdfs]
        for pdf in [pd.concat(all_pdfs).sort_values("ts")] if all_pdfs else []:
            for t, ev in zip(pdf["ts"], pdf["event_type"]):
                w = int((float(t) - t0) // window_size)
                if cur_w is None:
                    cur_w = w
                elif w > cur_w:
                    flush(cur_w)
                    cur, cur_w = {}, w
                cur[ev] = cur.get(ev, 0) + 1
        state.update((
            sorted(base), [base[k] for k in sorted(base)],
            cur_w if cur_w is not None else -1,
            sorted(cur), [cur[k] for k in sorted(cur)],
        ))
        yield pd.DataFrame(out, columns=["id", "w", "dist"])

    return _fn


def streaming_count_cluster(
    stream: DataFrame, t0: float, window_size: float = 600.0
) -> DataFrame:
    """True-streaming EventCountClusterDetector (reference
    EventCountClusterDetector.py:24-98 semantics as re-expressed by
    operators/event_count_cluster.py): per-id the window-0 count vector is
    the baseline; each LATER window is scored with the normalized Manhattan
    distance when its first out-of-window successor event arrives (windows
    accumulate across micro-batches; empty windows emit nothing, matching
    the batch operator). The eternally-open final window is a stream-end
    artifact — flush it with a sentinel event or state timeout in
    production. ``t0`` anchors the window grid (the batch side's global
    min-ts anchor must be passed explicitly — per-key state cannot see the
    global minimum)."""
    return stream.groupBy("id").applyInPandasWithState(
        _make_count_cluster_fn(float(t0), float(window_size)),
        CLUSTER_OUTPUT_SCHEMA,
        CLUSTER_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# EntropyDetector pipeline (demo 11): unparsed handler + NewMatchPathDetector
# + two EntropyDetector variants as ONE stateful streaming operator
# ---------------------------------------------------------------------------

ENTROPY_PIPE_OUTPUT_SCHEMA = (
    "ingest_order long, rank int, new_paths array<string>, crit double"
)
# freq tables as parallel (a*257+b) code / count arrays per variant; the
# skip_repetitions variant also carries its learned value set
ENTROPY_PIPE_STATE_SCHEMA = (
    "paths array<string>, k0 array<long>, c0 array<long>, "
    "k1 array<long>, c1 array<long>, seen array<string>"
)

_VIRTUAL = 256


def _entropy_bigrams(value: str) -> list[tuple[int, int]]:
    """UTF-8 byte bigram code pairs with virtual start/end (the reference
    iterates bytes(value) with -1 sentinels, EntropyDetector.py:128-145;
    code 256 stands in for -1, matching operators/entropy.py)."""
    bs = list(value.encode("utf-8"))
    padded = [_VIRTUAL] + bs + [_VIRTUAL]
    return list(zip(padded[:-1], padded[1:]))


def _entropy_pipeline_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Check-then-learn per atom (EntropyDetector.py:87-193) with the bigram
    frequency tables of BOTH variants (plain / skip_repetitions) plus the
    NewMatchPathDetector path set living in the Spark state store, so the
    tables accumulated in earlier micro-batches score later batches'
    atoms. Emits one rank-2/rank-3 row per parsed atom carrying the
    critical value (thresholding happens outside, as in check_entropy);
    rank 0 = unparsed (stop_when_handled), rank 1 = new paths."""
    known_paths: set = set()
    freq = [{}, {}]
    seen: set = set()
    if state.exists:
        paths, k0, c0, k1, c1, sv = state.get
        known_paths = set(paths)
        freq[0] = {int(k): int(c) for k, c in zip(k0, c0)}
        freq[1] = {int(k): int(c) for k, c in zip(k1, c1)}
        seen = set(sv)
    totals = [None, None]
    for v in (0, 1):
        t: dict = {}
        for code, c in freq[v].items():
            t[code // 257] = t.get(code // 257, 0) + c
        totals[v] = t
    out = []
    all_pdfs = [p for p in pdfs]
    for pdf in [pd.concat(all_pdfs).sort_values("ingest_order")] if all_pdfs else []:
        for o, ok, paths, value in zip(
            pdf["ingest_order"], pdf["parse_ok"], pdf["paths"], pdf["value"]
        ):
            o = int(o)
            if not ok:
                out.append((o, 0, None, None))
                continue
            new_paths = [p for p in paths if p not in known_paths]
            if new_paths:
                known_paths.update(new_paths)
                out.append((o, 1, new_paths, None))
            if value is None:
                continue
            pairs = _entropy_bigrams(value)
            for v in (0, 1):
                probs = []
                for a, b in pairs:
                    tot = totals[v].get(a, 0)
                    probs.append(
                        freq[v].get(a * 257 + b, 0) / tot if tot else 0.0
                    )
                out.append((o, 2 + v, None, sum(probs) / len(probs)))
            # learn: plain always; skip variant only for first occurrence
            for a, b in pairs:
                freq[0][a * 257 + b] = freq[0].get(a * 257 + b, 0) + 1
                totals[0][a] = totals[0].get(a, 0) + 1
            if value not in seen:
                seen.add(value)
                for a, b in pairs:
                    freq[1][a * 257 + b] = freq[1].get(a * 257 + b, 0) + 1
                    totals[1][a] = totals[1].get(a, 0) + 1
    k0 = sorted(freq[0])
    k1 = sorted(freq[1])
    state.update((
        sorted(known_paths),
        k0, [freq[0][k] for k in k0],
        k1, [freq[1][k] for k in k1],
        sorted(seen),
    ))
    yield pd.DataFrame(
        out, columns=["ingest_order", "rank", "new_paths", "crit"]
    )


def streaming_entropy_pipeline(stream: DataFrame) -> DataFrame:
    """True-streaming demo-11 pipeline: SimpleUnparsedAtomHandler →
    NewMatchPathDetector → EntropyDetector (plain) → EntropyDetector
    (skip_repetitions), state in the Spark state store. Input columns:
    ingest_order long, parse_ok boolean, paths array<string>, value string
    (the entropy target; null = unparsed/out of scope). Output decision
    rows (ingest_order, rank 0..3, new_paths, crit), for one global stream."""
    keyed = stream.withColumn("_stream_key", F.lit("all"))
    return keyed.groupBy("_stream_key").applyInPandasWithState(
        _entropy_pipeline_fn,
        ENTROPY_PIPE_OUTPUT_SCHEMA,
        ENTROPY_PIPE_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# EventFrequencyDetector (demo 3 rank 4/5): anchored windows, trailing band
# check, empty-run warnings — per-atom replay with state across batches
# ---------------------------------------------------------------------------

FREQ_OUTPUT_SCHEMA = "ingest_order long, rank int"
FREQ_STATE_SCHEMA = "t0 double, cur_w long, cur_cnt long, hist array<long>"


def _make_event_frequency_fn(
    window_size: float, num_windows: int, confidence_factor: float,
    anchor_t0: float | None = None,
):
    cf = float(confidence_factor)

    def _fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        """EventFrequencyDetector's per-atom loop (reference
        EventFrequencyDetector.py:186-216 + calculate_range :361-399,
        as re-expressed batch-side by operators/event_frequency.py
        check_event_frequency/empty-run scan): windows anchor at the first
        atom's ts; an atom whose window index passes the open window closes
        every intermediate window — a closed NON-EMPTY window with ≥1
        window of history is band-checked (rank 5 anomaly at the closing
        atom), a closed maximal EMPTY run warns once (rank 4) at the atom
        that passes it; every closed count (zeros included) enters the
        trailing history, capped at num_windows."""
        t0, cur_w, cur_cnt, hist = anchor_t0, None, 0, []
        if state.exists:
            st_t0, st_w, st_cnt, st_hist = state.get
            t0 = None if st_t0 is None or pd.isna(st_t0) else float(st_t0)
            cur_w = None if st_w is None or st_w < 0 else int(st_w)
            cur_cnt = int(st_cnt)
            hist = list(st_hist)
        out = []
        all_pdfs = [p for p in pdfs]
        rows = (
            pd.concat(all_pdfs).sort_values("ingest_order")
            if all_pdfs
            else pd.DataFrame(columns=["ingest_order", "ts"])
        )
        for o, ts in zip(rows["ingest_order"], rows["ts"]):
            o, ts = int(o), float(ts)
            if t0 is None:
                t0 = ts
            if cur_w is None:
                # explicit-anchor keyed mode: the key's first atom may land
                # past window 0 — open at its own window, no phantom runs
                cur_w = int((ts - t0) // window_size)
            w_atom = int((ts - t0) // window_size)
            empty_run = False
            while cur_w < w_atom:
                if cur_cnt > 0:
                    tail = hist[-num_windows:]
                    if tail:
                        mean = sum(tail) / len(tail)
                        if len(tail) <= 1:
                            std = mean * (1.0 - cf)
                        else:
                            var = sum((x - mean) ** 2 for x in tail) / len(tail)
                            std = var ** 0.5
                        if cur_cnt < mean - std / cf or cur_cnt > mean + std / cf:
                            out.append((o, 5))
                else:
                    empty_run = True
                hist.append(cur_cnt)
                hist = hist[-num_windows:]
                cur_cnt = 0
                cur_w += 1
            if empty_run:
                out.append((o, 4))
            cur_cnt += 1
        state.update((
            float("nan") if t0 is None else t0,
            -1 if cur_w is None else cur_w,
            cur_cnt,
            hist,
        ))
        yield pd.DataFrame(out, columns=["ingest_order", "rank"])

    return _fn


def streaming_event_frequency(
    stream: DataFrame,
    window_size: float = 10.0,
    num_windows: int = 50,
    confidence_factor: float = 0.5,
    key_col: str | None = None,
    t0: float | None = None,
) -> DataFrame:
    """True-streaming EventFrequencyDetector: band anomalies (rank 5) and
    empty-window warnings (rank 4) with the window anchor, open-window
    count and trailing history in the Spark state store. Input: ingest_order
    long, ts double. Output: (ingest_order of the closing atom, rank).

    Anchor semantics: with the default ``t0=None`` each key's window grid
    anchors at that key's FIRST atom — exactly the reference's
    single-stream behavior, and batch-equivalent for ``key_col=None`` (the
    certified configuration). For MULTI-key use pass the global ``t0``
    explicitly (as streaming_count_cluster requires) so all keys share the
    batch operator's global grid; note the batch operator also band-checks
    a key's zero-count window when OTHER keys kept that window active,
    which a per-key streaming operator cannot see — a documented
    divergence for keyed streams."""
    if key_col is None:
        stream = stream.withColumn("_stream_key", F.lit("all"))
        key_col = "_stream_key"
    return stream.groupBy(key_col).applyInPandasWithState(
        _make_event_frequency_fn(
            float(window_size), int(num_windows), float(confidence_factor),
            None if t0 is None else float(t0),
        ),
        FREQ_OUTPUT_SCHEMA,
        FREQ_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
