"""Driver-facing query suite: every entry pairs a Spark DataFrame program
(built from this package's operators) with an ANSI-SQL oracle that DuckDB
runs on the same parquet tables (see __spark_entry__.py and TESTDATA.md).

Conventions for cross-engine determinism:
- event time: integer microseconds (`unix_micros` ≙ DuckDB `epoch_us`),
  seconds as that exact integer / 1e6 — bit-identical doubles.
- every float output rounded (6 dp) on BOTH sides;
- aggregate/computed columns aliased identically on both sides;
- halves split at max(id)/2.0 — a deterministic learn/check split standing
  in for the baseline-snapshot vs current-snapshot lifecycle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logdata_anomaly_miner_spark.constraints.column_stats import column_stats
from logdata_anomaly_miner_spark.constraints.drift import psi_kl
from logdata_anomaly_miner_spark.constraints.referential import dangling_refs
from logdata_anomaly_miner_spark.constraints.uniqueness import duplicate_keys_salted
from logdata_anomaly_miner_spark.functions.dedup import exact_dup_groups
from logdata_anomaly_miner_spark.functions.similarity import cosine_topk
from logdata_anomaly_miner_spark.functions.text import (
    bpe_ish_token_count,
    fingerprint,
    quality_features,
    token_count,
)
from logdata_anomaly_miner_spark.operators.charset import check_charset, learn_charsets
from logdata_anomaly_miner_spark.operators.entropy import (
    learn_bigram_freq,
    score_entropy_pandas,
)
from logdata_anomaly_miner_spark.operators.event_frequency import (
    anchored_window_counts,
    check_early_exceeding,
    check_event_frequency,
    check_sliding_frequency,
    frequency_bands_seasonal,
)
from logdata_anomaly_miner_spark.operators.missing import check_missing_values
from logdata_anomaly_miner_spark.operators.new_value import check_new_values
from logdata_anomaly_miner_spark.operators.sequence import check_new_sequences
from logdata_anomaly_miner_spark.operators.value_range import (
    check_value_range,
    learn_ranges,
)

# q_suite_verdicts / q_ann_ivf persist run artifacts here (gitignored) so
# the DuckDB oracle can validate over the SAME parquet bytes. The dir is
# NAMESPACED PER PROCESS (pid): queries() and oracle_sql() are always
# consumed within one driver process, so the oracle's f-string resolves to
# the same run dir the query wrote — while two concurrent runs sharing
# this checkout (e.g. bench at sf0.1 next to the correctness gate at
# sf0.01) can no longer clobber each other's corpus/codebook bytes.
import os as _os

_SUITE_CORPUS_ROOT = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), ".suite_corpus"
)
SUITE_CORPUS_DIR = _os.path.join(_SUITE_CORPUS_ROOT, f"run-{_os.getpid()}")


def _reap_stale_corpus_dirs() -> None:
    """Best-effort removal of run dirs whose owning process is gone, so
    .suite_corpus does not accumulate across sessions."""
    import shutil

    try:
        entries = _os.listdir(_SUITE_CORPUS_ROOT)
    except FileNotFoundError:
        return
    for d in entries:
        if not d.startswith("run-") or d == _os.path.basename(SUITE_CORPUS_DIR):
            continue
        try:
            pid = int(d.split("-", 1)[1])
            _os.kill(pid, 0)  # raises if no such process
        except (ValueError, ProcessLookupError):
            shutil.rmtree(_os.path.join(_SUITE_CORPUS_ROOT, d), ignore_errors=True)
        except PermissionError:
            pass  # live process owned by someone else


def _require_corpus_files(*paths: str) -> None:
    """Fail fast with a clear error if a run artifact the oracle will read
    was not materialized (e.g. the write failed silently)."""
    for p in paths:
        if not _os.path.isdir(p) or not any(
            f.endswith(".parquet") for f in _os.listdir(p)
        ):
            raise RuntimeError(
                f"suite-corpus artifact missing or empty: {p} — the query "
                "must write it before its oracle can read it"
            )


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The driver runs queries() under ITS session; TIMESTAMP_NTZ -> epoch
    # conversion goes through the session time zone, so pin UTC for
    # deterministic parity with DuckDB's tz-naive epoch_us().
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Named persist slots: Catalyst does not CSE duplicated subplans, so a
# frame consumed by many plan branches is persisted — and the PREVIOUS
# invocation's frame is released, so repeated calls in one session hold at
# most one cached copy per slot (suite.py's release convention).
_PERSIST_SLOTS: dict[str, DataFrame] = {}


def _persist_slot(df: DataFrame, slot: str) -> DataFrame:
    prev = _PERSIST_SLOTS.pop(slot, None)
    if prev is not None:
        prev.unpersist()
    out = df.persist()
    _PERSIST_SLOTS[slot] = out
    return out


def _spread(df: DataFrame) -> DataFrame:
    """Fan a narrow scan out to the session's parallelism BEFORE
    per-row-expensive work (regex normalization, shingle generation,
    pair-melt explosion). Guide §2.5 "input skew": a small single-file
    table reads as ONE task, so everything up to the first exchange runs
    on one core. Gated on the scan's actual partitioning — at scale the
    input yields >= cores splits and this is a no-op (no shuffle added).
    Only safe for queries whose downstream aggregates are order-insensitive
    (integer counts / mins / maxes), which is why it is opt-in per query
    rather than folded into _read."""
    sess = df.sparkSession
    target = sess.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= min(target, 8):
        return df
    return df.repartition(target)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with epoch seconds (es, double) and micros (us, long)."""
    ev = _read(spark, sf_dir, "events")
    return ev.withColumn("us", F.unix_micros(F.col("ts").cast("timestamp"))).withColumn(
        "es", F.col("us") / F.lit(1_000_000.0)
    )


def _halved(ev: DataFrame, denom: float = 2.0) -> DataFrame:
    """Tag every row with a learn/check split threshold ``thr`` =
    max(event_id)/denom. denom=2 is the classic half split; detectors whose
    violation sets are EMPTY under a half split (every value/combo/bucket
    already seen in the first half) use a shorter learn prefix (larger
    denom) so the oracle gate exercises the FIRING path, not just the
    non-misfiring path (round-5 VERDICT item 2)."""
    thr = ev.agg((F.max("event_id") / F.lit(denom)).alias("thr"))
    return ev.crossJoin(F.broadcast(thr))


# --------------------------------------------------------------------------
# detector queries (AMiner parity shapes on the driver's events table)
# --------------------------------------------------------------------------

def q_new_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    # learn on the first 2% of the stream: the user population ramps up over
    # time, so a half split sees every user in the learn half and the
    # detector never fires (0-row green = weak evidence); 1/50 leaves
    # genuinely novel users in the check window at sf>=0.01
    ev = _halved(_events(spark, sf_dir), denom=50.0)
    base = ev.filter("event_id < thr").select("user_id").dropDuplicates()
    cur = ev.filter("event_id >= thr")
    return check_new_values(cur, ["user_id"], base, order_cols=["us", "event_id"]).select(
        "user_id"
    )


def q_new_combos(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 10% learn prefix: (user, type) combos keep appearing for the whole
    # stream, so the check window holds hundreds of novel combos (a half
    # split held zero — see q_new_values)
    ev = _halved(_events(spark, sf_dir), denom=10.0)
    base = ev.filter("event_id < thr").select("user_id", "event_type").dropDuplicates()
    cur = ev.filter("event_id >= thr")
    return check_new_values(
        cur, ["user_id", "event_type"], base, order_cols=["us", "event_id"]
    ).select("user_id", "event_type")


def q_value_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _halved(_events(spark, sf_dir))
    ranges = learn_ranges(ev.filter("event_id < thr"), ["event_type"], "value")
    cur = ev.filter("event_id >= thr")
    return check_value_range(cur, ["event_type"], "value", ranges).select(
        "event_id", "event_type", "value"
    )


def q_freq_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    counts = anchored_window_counts(ev, ["event_type"], 600.0, ts_col="es")
    return counts.select("event_type", "w", F.col("cnt").cast("long").alias("cnt"))


def q_freq_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    v = check_event_frequency(
        ev, ["event_type"], window_size=600.0, num_windows=10,
        confidence_factor=0.51, ts_col="es",
    )
    return v.select(
        "event_type",
        "w",
        F.col("cnt").cast("long").alias("cnt"),
        F.round("lower", 6).alias("lower"),
        F.round("upper", 6).alias("upper"),
    )


def q_freq_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EventFrequencyDetector unique_path_list mode (:320-328): count
    DISTINCT users per (event_type, window) instead of occurrences."""
    ev = _events(spark, sf_dir)
    counts = anchored_window_counts(
        ev, ["event_type"], 3600.0, ts_col="es", unique_cols=["user_id"]
    )
    return counts.select("event_type", "w", F.col("cnt").cast("long").alias("cnt"))


def q_sliding_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    v = check_sliding_frequency(
        ev, ["user_id"], window_size=3600.0, max_occurrences=2, micros_col="us"
    )
    return v.select("user_id", F.col("us").alias("ts_us"), F.col("sliding_cnt").cast("long").alias("sliding_cnt"))


def q_seq_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _halved(_events(spark, sf_dir))
    base = check_new_sequences(
        ev.filter("event_id < thr"), "event_type", None, n=3,
        id_cols=["user_id"], order_cols=["us", "event_id"],
    )
    # baseline grams computed over first half only; current half grams use
    # full-stream context is NOT what the split means here: both halves are
    # independent batches (previous run vs this run).
    return check_new_sequences(
        ev.filter("event_id >= thr"), "event_type", base, n=3,
        id_cols=["user_id"], order_cols=["us", "event_id"],
    ).select("user_id", "g1", "g2", "g3")


def q_missing_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    v = check_missing_values(ev, ["user_id"], interval_s=2 * 86400, ts_micros_col="us")
    return v.select("user_id", F.round(F.col("last_seen_us") / 1_000_000.0, 6).alias("last_seen"))


def q_charset_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 2% learn prefix (was 1/2): per-lang alphabets saturate quickly, so the
    # half split never flagged a character; learning on the first docs only
    # leaves rare chars (digits, punctuation) for the check side to detect
    docs = _read(spark, sf_dir, "documents")
    thr = docs.agg((F.max("doc_id") / 50.0).alias("thr"))
    d = docs.crossJoin(F.broadcast(thr))
    base = learn_charsets(d.filter("doc_id < thr"), "text", ["lang"])
    return check_charset(d.filter("doc_id >= thr"), "text", base, ["lang"]).select("lang", "ch")




def q_entropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    freq, _ = learn_bigram_freq(docs, "text")
    scored = score_entropy_pandas(spark, docs, "text", freq)
    return scored.select("doc_id", F.round("critical_val", 6).alias("cv"))


# --------------------------------------------------------------------------
# north-rule constraint suites
# --------------------------------------------------------------------------

def q_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return duplicate_keys_salted(li, ["l_orderkey"]).select("l_orderkey", "cnt")


def q_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    # planted fault: the generated dimension is complete (every user_id
    # exists), so the anti-join would only certify the empty-violation
    # path; dropping customers with c_custkey % 10 == 7 simulates missing
    # dimension rows, so the query proves the violation path fires AND that
    # matched refs stay silent. The oracle SQL mirrors the drop.
    ev = _read(spark, sf_dir, "events")
    cust = _read(spark, sf_dir, "customer").filter("c_custkey % 10 != 7")
    return dangling_refs(ev, "user_id", cust, "c_custkey").select("user_id")


def q_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    stats = column_stats(ev, ["value", "user_id"])
    med = ev.agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("_m_value"),
        F.round(F.percentile("user_id", F.lit(0.5)), 6).alias("_m_user_id"),
    )
    out = stats.crossJoin(F.broadcast(med)).withColumn(
        "median",
        F.when(F.col("column") == "value", F.col("_m_value")).otherwise(F.col("_m_user_id")),
    )
    return out.select(
        "column", "n_rows", "null_rate", "n_distinct",
        F.round("min", 6).alias("min"), F.round("max", 6).alias("max"), "median",
    )


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _halved(_read(spark, sf_dir, "events"))
    # global [lo, hi] ride in-plan via a broadcast scalar crossJoin — a
    # driver-side collect here would run an extra full scan per invocation
    # and make the query fn impure (plan construction triggering a job)
    mm = ev.agg(F.min("value").alias("_lo"), F.max("value").alias("_hi"))
    src = ev.filter(F.col("value").isNotNull()).crossJoin(F.broadcast(mm))
    # nullif guard: an all-equal value column makes hi == lo, and ANSI mode
    # (Spark 4 default) raises DIVIDE_BY_ZERO even for doubles. The null
    # width flows into floor() as null; greatest/least SKIP nulls, so every
    # degenerate row lands in one bucket (a single-bucket histogram — PSI
    # still well-defined) instead of aborting the job.
    width = F.nullif(F.col("_hi") - F.col("_lo"), F.lit(0.0)) / F.lit(10.0)
    bucket = F.least(
        F.greatest(F.floor((F.col("value") - F.col("_lo")) / width), F.lit(0)),
        F.lit(9),
    ).alias("bucket")
    base = (
        src.filter("event_id < thr")
        .groupBy("event_type", bucket)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cur = (
        src.filter("event_id >= thr")
        .groupBy("event_type", bucket)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    out = psi_kl(cur, base, ["event_type"])
    return out.select("event_type", F.round("psi", 6).alias("psi"), F.round("kl", 6).alias("kl"))


# --------------------------------------------------------------------------
# training-data pipeline: dedup / text / similarity
# --------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # planted fault: the synthetic corpus has no exact duplicates, so the
    # grouper would return 0 groups; seed deterministic dups (every 20th
    # doc re-ingested under a shifted id, the classic re-crawl shape) so
    # the query certifies both that dup groups surface AND that unique
    # docs stay out. The oracle SQL mirrors the seeding.
    docs = _read(spark, sf_dir, "documents")
    dup = docs.filter("doc_id % 20 = 0").withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000)
    )
    docs = docs.unionByName(dup)
    return exact_dup_groups(docs, "doc_id", "text").select("text_hash", "cnt")


def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis metrics in ONE scan: whitespace + BPE-ish token
    counts, quality ratios (alpha/space/stopword), rolling-hash
    fingerprint, and language-ID scores. One query certifies all four
    operator families; the documents table is read once (both
    quality_features and lang_scores are column-appending, so the
    whole thing is a single codegen'd projection)."""
    from logdata_anomaly_miner_spark.functions.text import lang_scores

    docs = _spread(_read(spark, sf_dir, "documents"))
    q = lang_scores(quality_features(docs, "text"), "text")
    return q.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe"),
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
        F.round("space_ratio", 6).alias("space_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        fingerprint(F.col("text")).alias("fp"),
        F.round("score_de", 6).alias("score_de"),
        F.round("score_en", 6).alias("score_en"),
        F.round("score_fr", 6).alias("score_fr"),
        "lang_pred",
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    qvec = emb.filter("vec_id = 0").select("embedding").collect()[0][0]
    out = cosine_topk(emb, "embedding", [float(x) for x in qvec], k=10, id_col="vec_id")
    return out.select(
        "vec_id", F.round("cosine", 6).alias("cosine"), F.col("rank").cast("int").alias("rank")
    )


# --------------------------------------------------------------------------
# batch 2: histograms, timestamps, rules, intervals, clustering, dedup, lang
# --------------------------------------------------------------------------

def q_monotonic_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimpleMonotonicTimestampAdjust + TimestampsUnsortedDetector in one
    query: the adjusted (prefix-max) timestamp per event plus a 0/1
    `backward` flag marking rows the unsorted detector would report.
    Both operators are distributed two-phase scans (timestamps.py); the
    violation side is tiny, so the equi-join back is a broadcast."""
    from logdata_anomaly_miner_spark.operators.timestamps import (
        monotonic_adjust,
        unsorted_timestamps,
    )

    ev = _events(spark, sf_dir)
    # event_id is a bigint ingest id, so both scans range-bucket it by
    # equal width (timestamps._with_range_bucket picks by the column type)
    out = monotonic_adjust(ev, ts_col="us", order_cols=["event_id"], out_col="us_adj")
    uns = unsorted_timestamps(ev, ts_col="us", order_cols=["event_id"]).select(
        "event_id", F.lit(1).alias("_bw")
    )
    return out.join(F.broadcast(uns), "event_id", "left").select(
        "event_id",
        F.round(F.col("us_adj") / 1_000_000.0, 6).alias("ts_adj"),
        F.coalesce(F.col("_bw"), F.lit(0)).cast("long").alias("backward"),
    )


def q_parser_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logdata_anomaly_miner_spark.operators.histogram import parser_counts

    ev = _read(spark, sf_dir, "events")
    return parser_counts(ev, "event_type").select(
        "event_type", F.col("cnt").cast("long").alias("cnt")
    )


def q_hour_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logdata_anomaly_miner_spark.operators.histogram import modulo_time_histogram

    ev = _events(spark, sf_dir)
    h = modulo_time_histogram(ev, ts_col="es", group_cols=["event_type"])
    return h.select("event_type", "bin", F.col("cnt").cast("long").alias("cnt"))


def q_avg_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logdata_anomaly_miner_spark.operators.histogram import average_change

    ev = _events(spark, sf_dir)
    out = average_change(
        ev, "value", "es", bin_size=21600.0, group_cols=["event_type"],
        change_threshold=2.0, num_history_bins=10,
    )
    return out.select(
        "event_type", "bin", F.round("mean", 6).alias("mean"), F.col("changed")
    )


def q_rule_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MatchFilter + AllowlistViolationDetector in one tagged union —
    two rule-engine operators (A/analysis/Rules.py, AllowlistViolation-
    Detector.py) certified by one query; each branch is a codegen'd
    filter over the same scan, no shuffle."""
    from logdata_anomaly_miner_spark.operators import rules

    ev = _read(spark, sf_dir, "events")
    rule = rules.and_(
        rules.value_in("event_type", ["error", "click"]),
        rules.value_range("value", 10.0, 50.0),
    )
    mf = rules.match_filter(ev, rule).select(
        F.lit("match_filter").alias("rule"), "event_id", "event_type"
    )
    allow = [
        rules.value_match("event_type", "click"),
        rules.value_match("event_type", "view"),
        rules.and_(
            rules.value_match("event_type", "purchase"), rules.value_range("value", 0, 1000)
        ),
    ]
    av = rules.allowlist_violations(ev, allow).select(
        F.lit("allowlist").alias("rule"), "event_id", "event_type"
    )
    return mf.unionByName(av)


def q_time_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logdata_anomaly_miner_spark.operators.time_interval import (
        check_time_intervals,
        learn_time_intervals,
    )

    # 2% learn prefix: events cover every time-of-day hour well before the
    # half mark, so the half split produced an empty violation set; a short
    # learn window leaves unseen tod buckets for the check side to flag
    ev = _halved(_events(spark, sf_dir), denom=50.0)
    base = learn_time_intervals(ev.filter("event_id < thr"), ["event_type"], ts_col="es")
    v = check_time_intervals(ev.filter("event_id >= thr"), base, ["event_type"], ts_col="es")
    return v.select("event_type", "tod_bucket")


def q_count_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logdata_anomaly_miner_spark.operators.event_count_cluster import (
        count_vectors,
        manhattan_vs_baseline,
    )

    ev = _events(spark, sf_dir)
    cv = count_vectors(ev, ["user_id"], "event_type", ts_col="es", window_size=86400.0)
    baseline = cv.filter("w = 0").select("user_id", "event_type", "cnt")
    d = manhattan_vs_baseline(cv.filter("w > 0"), baseline, ["user_id"])
    return d.select("user_id", "w", F.round("dist", 6).alias("dist"))


def q_min_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logdata_anomaly_miner_spark.operators.sequence import (
        check_minimal_transition_time,
        transition_times,
    )

    ev = _halved(_events(spark, sf_dir))
    learned = (
        transition_times(ev.filter("event_id < thr"), "event_type", ["user_id"], "es", ["event_id"])
        .groupBy("from_value", "to_value")
        .agg(F.min("dt").alias("min_dt"))
    )
    viols, _ = check_minimal_transition_time(
        ev.filter("event_id >= thr"), "event_type", learned, ["user_id"], "es",
        ["event_id"],
    )
    return viols.select(
        "user_id", "from_value", "to_value", F.round("dt", 6).alias("dt")
    )




def q_simhash_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logdata_anomaly_miner_spark.functions.dedup import portable_simhash_bits

    docs = _spread(_read(spark, sf_dir, "documents"))
    return portable_simhash_bits(docs, "doc_id", "text")


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates verified with exact n-gram Jaccard — the
    dedup scale pipeline end-to-end (candidates ∝ true near-dups, never the
    all-pairs product). The oracle replicates the identical deterministic
    banding + verification."""
    from logdata_anomaly_miner_spark.functions.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    docs = _spread(_read(spark, sf_dir, "documents"))
    # minhash + banding in one wide aggregation per document (dedup.py)
    cand = minhash_lsh_candidates(
        docs, "doc_id", "text", n_hashes=16, shingle_k=3, bands=4,
        rows_per_band=4,
    )
    pairs = ngram_jaccard_pairs(docs, cand, "doc_id", "text", 3, 0.2)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_near_dup_cos(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logdata_anomaly_miner_spark.functions.similarity import exact_near_dup_pairs

    emb = _read(spark, sf_dir, "embeddings")
    out = exact_near_dup_pairs(emb, "embedding", "vec_id", 0.45)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))






def q_suite_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full validation suite over a deterministic synthesized documents
    table. The corpus is PERSISTED to parquet inside the query and read
    back, so the suite consumes exactly the bytes the DuckDB oracle reads —
    which replicates ALL FIVE contributing suites relationally:
    uniqueness / referential / new-value counts, the entropy check (byte-
    bigram critical values < 0.15, learned from the corpus's distinct
    texts — the same SQL machinery as the entropy_score oracle), and the
    PSI drift check against a short-text (≤2 token) baseline histogram
    built from the same corpus. Returns per-(partition, suite) verdicts."""
    from logdata_anomaly_miner_spark.constraints.drift import histogram
    from logdata_anomaly_miner_spark.constraints.suite import SuiteConfig, run_suite
    from logdata_anomaly_miner_spark.datagen import (
        explode_spans,
        gen_documents,
        gen_media,
    )

    _reap_stale_corpus_dirs()
    docs = gen_documents(spark, n_docs=5000, dup_rate=0.01, dangling_rate=0.05)
    media = gen_media(spark, 1000)
    # coalesce: 5000 docs in 32 shards is pure task overhead on both the
    # write and every downstream read (the oracle reads these files too)
    docs.coalesce(4).write.mode("overwrite").parquet(
        f"{SUITE_CORPUS_DIR}/documents.parquet"
    )
    media.coalesce(1).write.mode("overwrite").parquet(
        f"{SUITE_CORPUS_DIR}/media.parquet"
    )
    _require_corpus_files(
        f"{SUITE_CORPUS_DIR}/documents.parquet", f"{SUITE_CORPUS_DIR}/media.parquet"
    )
    docs = spark.read.parquet(f"{SUITE_CORPUS_DIR}/documents.parquet")
    media = spark.read.parquet(f"{SUITE_CORPUS_DIR}/media.parquet")
    # drift baseline: the length histogram of SHORT spans (≤2 pool tokens)
    # — a deterministic, corpus-derived distribution shift that makes the
    # PSI check fire for the kinds whose span lengths spread widest
    flat = explode_spans(docs)
    short = flat.filter(
        F.col("text").isNotNull()
        & (
            (F.length("text") - F.length(F.regexp_replace("text", " ", ""))) <= 1
        )
    ).withColumn("text_len", F.length("text").cast("double"))
    base_hist = histogram(short, "text_len", 0.0, 200.0, 10, ["kind"])
    res = run_suite(
        spark, docs, media,
        SuiteConfig(entropy_prob_thresh=0.15, baseline_hist=base_hist),
    )
    return res.verdicts.select(
        "partition", "suite", F.col("n_violations").cast("long").alias("n_violations"), "pass"
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (scale path). Oracle-certified end-to-end: the
    hyperplanes come from a deterministic LCG that DuckDB replicates
    exactly in HUGEINT arithmetic, so the oracle reproduces the SAME
    signatures, probe set, and cosine re-rank — not the exact-scan answer.
    Recall against the exact scan is < 1 by construction and is not
    checked: the jaccard queries' exact-Jaccard oracles certify MinHash
    banding, not these hyperplanes."""
    from logdata_anomaly_miner_spark.functions.similarity import lsh_bucket_topk

    emb = _read(spark, sf_dir, "embeddings")
    qvec = emb.filter("vec_id = 0").select("embedding").collect()[0][0]
    out = lsh_bucket_topk(emb, "embedding", [float(x) for x in qvec], k=10, n_planes=8)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"), "rank")


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (clustering scale path). The trained KMeans
    codebook is float-reduction-order dependent, so it cannot be
    REPRODUCED by an oracle — instead the query PERSISTS the codebook it
    trained (the suite_verdicts corpus trick) and the oracle replicates
    cell assignment, probe selection, and the cosine re-rank over those
    exact bytes. Only the (offline-at-scale) training step stays
    engine-internal."""
    from logdata_anomaly_miner_spark.functions.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    qvec = emb.filter("vec_id = 0").select("embedding").collect()[0][0]
    # train_fraction < 1 exercises the documented offline-codebook scale
    # shape: at 10^12 vectors the KMeans codebook comes from a sample (or a
    # persisted table), never a full-table training pass per query
    _reap_stale_corpus_dirs()
    out = ivf_topk(
        spark, emb, "embedding", [float(x) for x in qvec], k=10,
        n_centroids=8, n_probe=3, train_fraction=0.2,
        codebook_out_path=f"{SUITE_CORPUS_DIR}/ivf_codebook.parquet",
    )
    _require_corpus_files(f"{SUITE_CORPUS_DIR}/ivf_codebook.parquet")
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"), "rank")


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logdata_anomaly_miner_spark.operators.variable_type import ks_statistic

    ev = _halved(_read(spark, sf_dir, "events"))
    a = ev.filter("event_id < thr").select("event_type", "value")
    b = ev.filter("event_id >= thr").select("event_type", "value")
    out = ks_statistic(a, b, "value", ["event_type"])
    return out.select("event_type", F.round("ks", 6).alias("ks"))


def q_chi2_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VariableCorrelationDetector pair discovery (reference :15-1642):
    all-pairs chi-square independence with Wilson-Hilferty significance."""
    from logdata_anomaly_miner_spark.operators.correlation import chi_square_pairs

    ev = (
        _events(spark, sf_dir)
        .withColumn("user_bucket", (F.col("user_id") % 5).cast("string"))
        .withColumn("vbin", F.floor(F.col("value") / 50).cast("string"))
        .withColumn(
            "hour",
            F.floor(F.pmod(F.col("es"), F.lit(86400.0)) / 3600.0).cast("string"),
        )
    )
    out = chi_square_pairs(ev, ["event_type", "user_bucket", "vbin", "hour"])
    return out.select(
        "col_a",
        "col_b",
        F.round("chi2", 6).alias("chi2"),
        F.col("dof").cast("long").alias("dof"),
        F.round("z", 6).alias("z"),
        "dependent",
    )


def q_var_corr_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VariableCorrelationDetector validation phase (reference :575-1300):
    pairs discovered dependent on the init sample are re-tested per
    50-row chunk with a chi² homogeneity test; failures ladder into the
    trailing-30 binomial test; alarmed pairs are dropped (running flag)."""
    from logdata_anomaly_miner_spark.operators.correlation import (
        validate_correlation_pairs,
    )

    # user_low (id % 10) deterministically fixes user_bucket (id % 5), so
    # discovery finds that one REAL correlation among the independent
    # pairs and the validation phase then keeps re-confirming it per chunk
    ev = (
        _events(spark, sf_dir)
        .withColumn("user_bucket", (F.col("user_id") % 5).cast("string"))
        .withColumn("user_low", (F.col("user_id") % 10).cast("string"))
        .withColumn("vbin", F.floor(F.col("value") / 50).cast("string"))
    )
    out = validate_correlation_pairs(
        ev, ["event_type", "user_bucket", "user_low", "vbin"], order_cols=("event_id",)
    )
    return out.select(
        "pair",
        F.col("chunk").cast("long").alias("chunk"),
        F.round("chi2", 6).alias("chi2"),
        "dof",
        F.round("z", 6).alias("z"),
        "n_new",
        "failed",
        "n_fails",
        "n_tests",
        "alarm",
        "dropped",
    )


def q_variable_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logdata_anomaly_miner_spark.operators.variable_type import infer_variable_types

    ev = _read(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.col("props").alias("value"),
    )
    out = infer_variable_types(ev, "grp", "value")
    return out.select(
        "grp", "var_type", "n",
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.round("null_rate", 6).alias("null_rate"),
    )


def q_jaccard_pairs_xx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The xxhash64 MinHash SCALE variant end-to-end: integer signatures
    computed as ONE wide aggregation (no md5 hex strings, no seed row
    explosion), 10 bands x 3 rows, exact-jaccard verification restricted
    to candidate docs. The oracle is the GROUND-TRUTH inverted-index
    jaccard (no banding replication possible — DuckDB has no xxhash64), so
    a green row certifies 100%% recall of this banding at the 0.85
    threshold (miss probability ~6e-6 per pair at jaccard 0.88; 3-row
    bands keep false candidates ~|true pairs|, unlike 2-row bands)."""
    from logdata_anomaly_miner_spark.functions.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    docs = _spread(_read(spark, sf_dir, "documents"))
    # xxhash64 family of the same minhash + banding (see q_jaccard_pairs)
    cand = minhash_lsh_candidates(
        docs, "doc_id", "text", n_hashes=30, shingle_k=3, bands=10,
        rows_per_band=3, use_xx=True,
    )
    pairs = ngram_jaccard_pairs(docs, cand, "doc_id", "text", 3, 0.85)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_value_range_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VRD learn-mode lifecycle (reference ValueRangeDetector.py:81-84,
    ValueRangeDetectorTest.py:181-192): sequential prefix check while
    learning, frozen-baseline check after stop_learning_time (half the
    batch's time span)."""
    from logdata_anomaly_miner_spark.operators.value_range import (
        check_value_range_lifecycle,
    )

    ev = _events(spark, sf_dir)
    # half-span cutoff stays IN-PLAN: stop_learning_time is an aggregate
    # Column, so plan construction triggers zero Spark jobs (the cutoff
    # rides a broadcast scalar crossJoin exactly like q_drift_psi's [lo,hi])
    slt = (F.max(F.col("es").cast("double")) - F.min(F.col("es").cast("double"))) / 2.0
    v, _ = check_value_range_lifecycle(
        ev,
        ["event_type"],
        "value",
        order_cols=("event_id",),
        ts_col="es",
        stop_learning_time=slt,
    )
    return v.select("event_id", "phase")


def q_new_combos_enhanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EnhancedNewMatchPathValueComboDetector (reference :27-228): novelty +
    per-combo first_seen/last_seen/count metadata."""
    from logdata_anomaly_miner_spark.operators.new_value import (
        check_new_combos_enhanced,
    )

    ev = _halved(_events(spark, sf_dir)).withColumn(
        "vbin", F.floor(F.col("value") / 50).cast("int")
    )
    _, base = check_new_combos_enhanced(
        ev.filter("event_id < thr"), ["event_type", "vbin"], None, ts_col="es"
    )
    v, _ = check_new_combos_enhanced(
        ev.filter("event_id >= thr"), ["event_type", "vbin"], base, ts_col="es"
    )
    return v.select(
        "event_type",
        "vbin",
        F.round("first_seen", 6).alias("first_seen"),
        F.round("last_seen", 6).alias("last_seen"),
        F.col("n_seen").cast("long").alias("n_seen"),
    )


def q_new_id_combos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NewMatchIdValueComboDetector (reference :30-273): assemble the first
    non-null value per path per id (event order), novelty-check the combo."""
    from logdata_anomaly_miner_spark.operators.new_value import check_new_id_combos

    ev = _halved(_events(spark, sf_dir))
    base = (
        check_new_id_combos(
            ev.filter("event_id < thr"),
            "user_id",
            ["event_type", "value"],
            None,
            ts_col="es",
            order_cols=["us", "event_id"],
        )
        .select("event_type", "value")
        .dropDuplicates()
    )
    v = check_new_id_combos(
        ev.filter("event_id >= thr"),
        "user_id",
        ["event_type", "value"],
        base,
        ts_col="es",
        order_cols=["us", "event_id"],
    )
    return v.select(
        "user_id",
        "event_type",
        F.round("value", 6).alias("value"),
        F.round("ts", 6).alias("first_ts"),
    )


def q_implication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EventCorrelationDetector / TimeCorrelationViolationDetector check
    core: purchase must be followed by an error within 600s for the same
    user; violations are the unanswered antecedents."""
    from logdata_anomaly_miner_spark.operators.correlation import implication_within

    ev = _events(spark, sf_dir)
    v = implication_within(
        ev,
        F.col("event_type") == "purchase",
        F.col("event_type") == "error",
        0.0,
        600.0,
        ts_col="es",
        key_cols=("user_id",),
    )
    return v.select("event_id")


def q_var_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VariableTypeDetector detect_continuous_shape (reference :969-1150):
    best-fit continuous distribution per variable over the first num_init
    values — closed-form one-sample KS for uni/nor/beta1-5, the closed-form
    two-sample mixed-beta candidate (:1065-1078), and the 'emp' fallback
    classification (:1161-1162) when nothing is accepted."""
    from logdata_anomaly_miner_spark.operators.var_gof import fit_continuous

    ev = _read(spark, sf_dir, "events")
    out = fit_continuous(
        ev,
        ["event_type"],
        "value",
        ["event_id"],
        num_init=100,
        with_betam=True,
        use_empiric=True,
    )
    return out.select(
        "event_type",
        "dist",
        F.round("stat", 6).alias("stat"),
        F.col("n").cast("long").alias("n"),
        "accepted",
    )


def q_var_sgof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VariableTypeDetector s_gof sliding test + binomial ladder
    (reference :1558-1700): consecutive chunks KS-tested against the
    fitted distribution; alarm when trailing fails hit the binomial
    critical value."""
    from logdata_anomaly_miner_spark.operators.var_gof import (
        fit_continuous,
        s_gof_ladder,
    )

    ev = _read(spark, sf_dir, "events")
    fitted = fit_continuous(ev, ["event_type"], "value", ["event_id"], num_init=100)
    out = s_gof_ladder(
        ev,
        ["event_type"],
        "value",
        ["event_id"],
        fitted,
        num_init=100,
        num_s_gof_values=50,
        s_gof_alpha=0.05,
        num_s_gof_bt=30,
        s_gof_bt_alpha=0.05,
    )
    return out.select(
        "event_type",
        "chunk",
        F.round("stat", 6).alias("stat"),
        "failed",
        F.col("n_fails").cast("long").alias("n_fails"),
        F.col("n_tests").cast("long").alias("n_tests"),
        "alarm",
    )


def q_hypothesis_rules_back(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EventCorrelationDetector back_hypotheses (reference :37-846): 'A was
    preceded by B within delta' — the backward rule family."""
    from logdata_anomaly_miner_spark.operators.correlation import (
        mine_implication_rules,
    )

    ev = _events(spark, sf_dir)
    out = mine_implication_rules(
        ev,
        "event_type",
        ts_col="es",
        order_cols=("event_id",),
        max_delta=300.0,
        p0=0.75,
        alpha=0.05,
        max_observations=150,
        direction="back",
    )
    return out.select(
        "a",
        "b",
        F.col("n_obs").cast("long").alias("n_obs"),
        F.col("n_true").cast("long").alias("n_true"),
        "status",
    )


def q_tsa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TSAArimaDetector analog (reference :32-560), four fitted models as a
    tagged union over ONE anchored window-count table (fold of the former
    tsa_ar1 + tsa_d1 rows plus the round-4 MA/seasonal additions):

    - ar1  — AR(1) least squares (regr_slope) on the levels;
    - d1   — AR(1) on first differences, level forecast reconstituted
             (ARIMA d=1);
    - ma1  — ARMA(1,1) via the Hannan–Rissanen two-stage closed form;
    - sar  — seasonal AR: y_t on [y_{t-1}, y_{t-144}] (144 windows of 600 s
             = the daily season, the reference's season parameter).

    Each variant flags |residual| > z*sigma; only predicted rows emit."""
    from logdata_anomaly_miner_spark.operators.tsa import (
        ar1_forecast_bands,
        hr_arma_forecast_bands,
    )

    ev = _events(spark, sf_dir)
    # all four variants (and their internal fit/score/sigma self-joins)
    # re-evaluate the counts lineage otherwise — one cached copy, released
    # on the next invocation
    counts = _persist_slot(
        anchored_window_counts(ev, ["event_type"], 600.0, ts_col="es"), "tsa_counts"
    )
    variants = [
        ("ar1", ar1_forecast_bands(counts, ["event_type"], z=1.96, min_train=10)),
        ("d1", ar1_forecast_bands(counts, ["event_type"], z=1.96, min_train=10, diff=1)),
        ("ma1", hr_arma_forecast_bands(counts, ["event_type"], mode="ma", min_train=10)),
        ("sar", hr_arma_forecast_bands(
            counts, ["event_type"], mode="seasonal", seasonal_lag=144, min_train=10
        )),
    ]
    parts = [
        out.filter(F.col("pred").isNotNull()).select(
            F.lit(tag).alias("model"),
            "event_type",
            "w",
            F.col("cnt").cast("long").alias("cnt"),
            F.round("pred", 6).alias("pred"),
            F.round("sigma", 6).alias("sigma"),
            "anomaly",
        )
        for tag, out in variants
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u


def q_hypothesis_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EventCorrelationDetector hypothesis mining (reference :37-846):
    exhaustive A→B-within-delta hypotheses over event types, binomial
    accept/reject on the first max_observations antecedents."""
    from logdata_anomaly_miner_spark.operators.correlation import (
        mine_implication_rules,
    )

    ev = _events(spark, sf_dir)
    out = mine_implication_rules(
        ev,
        "event_type",
        ts_col="es",
        order_cols=("event_id",),
        max_delta=300.0,
        p0=0.75,
        alpha=0.05,
        max_observations=150,
    )
    return out.select(
        "a",
        "b",
        F.col("n_obs").cast("long").alias("n_obs"),
        F.col("n_true").cast("long").alias("n_true"),
        "status",
    )


def q_early_exceeding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EventFrequencyDetector early_exceeding_anomaly_output (:264-302):
    first event in a window whose running count crosses the band's upper."""
    ev = _events(spark, sf_dir)
    v = check_early_exceeding(
        ev,
        ["event_type"],
        600.0,
        10,
        0.51,
        ts_col="es",
        tiebreak_cols=["event_id"],
    )
    return v.select(
        "event_type",
        "w",
        "event_id",
        F.col("running_cnt").cast("long").alias("running_cnt"),
    )


def q_freq_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EventFrequencyDetector seasonal bands (calculate_range :361-399 with
    season/lookback): differenced history + seasonal-slot offset."""
    ev = _events(spark, sf_dir)
    counts = anchored_window_counts(ev, ["event_type"], 600.0, ts_col="es")
    banded = frequency_bands_seasonal(
        counts, ["event_type"], num_windows=10, confidence_factor=0.51, lookback=3
    )
    v = (
        banded.filter(F.col("w") < F.col("w_last"))
        .filter(F.col("n_hist") >= 1)
        .filter((F.col("cnt") < F.col("lower")) | (F.col("cnt") > F.col("upper")))
    )
    return v.select(
        "event_type",
        "w",
        F.col("cnt").cast("long").alias("cnt"),
        F.round("lower", 6).alias("lower"),
        F.round("upper", 6).alias("upper"),
    )


def q_var_gof_discrete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VariableTypeDetector discrete path (reference detect_var_type
    :947-965 + d_test :1845-1903 + the num_d_bt binomial ladder): learn
    value probabilities for the discrete user_id variable per event type
    over the first 100 events, then chi²-test each 50-event chunk against
    them; unseen users flag the new-values branch; trailing-10 ladder."""
    from logdata_anomaly_miner_spark.operators.var_gof import d_ladder, fit_discrete

    ev = _read(spark, sf_dir, "events")
    baseline = fit_discrete(ev, ["event_type"], "user_id", ["event_id"], num_init=100)
    out = d_ladder(
        ev,
        ["event_type"],
        "user_id",
        ["event_id"],
        baseline,
        num_init=100,
        num_update=50,
        num_d_bt=10,
        d_bt_alpha=0.05,
    )
    return out.select(
        "event_type",
        "chunk",
        F.round("chi2", 6).alias("chi2"),
        F.col("dof").cast("long").alias("dof"),
        F.round("z", 6).alias("z"),
        F.col("n_new").cast("long").alias("n_new"),
        "failed",
        F.col("n_fails").cast("long").alias("n_fails"),
        F.col("n_tests").cast("long").alias("n_tests"),
        "alarm",
    )


def q_time_corr_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimeCorrelationDetector feature-level mining (reference :27-275):
    value-match features over the event_type and user_id parser paths (top
    5 values each), pairwise proximate-trigger count / ratio / mean delta
    to the most recent preceding trigger within 300 s."""
    from logdata_anomaly_miner_spark.operators.correlation import (
        mine_time_correlations,
    )

    ev = _events(spark, sf_dir)
    out = mine_time_correlations(
        ev,
        ["event_type", "user_id"],
        ts_col="es",
        order_col="event_id",
        max_delta=300.0,
        max_features_per_path=5,
    )
    return out.select(
        "feature_a",
        "feature_b",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("triggers_a").cast("long").alias("triggers_a"),
        F.col("triggers_b").cast("long").alias("triggers_b"),
        F.round("ratio", 6).alias("ratio"),
        F.round("mean_dt", 6).alias("mean_dt"),
    )




QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # Exactly 50 registered queries — the driver's per-round correctness
    # budget — so EVERY registered query gets a CORRECTNESS row each round.
    # Dict order is bench execution order:
    # 1) a cheap scan-only query first so session one-time costs don't
    #    inflate an expensive query's timing;
    # 2) queries whose operators are NEW or CHANGED this round;
    # 3) queries the previous round's check budget did not reach;
    # 4) everything else.
    # Pipeline intermediates are certified transitively and NOT registered:
    # minhash_sigs + lsh_pairs by jaccard_pairs/jaccard_pairs_xx (which run
    # signature→banding→verify end-to-end against a ground-truth
    # inverted-index Jaccard oracle), entropy_learn by entropy_score (which
    # rebuilds the freq table via the same learner). All three keep direct
    # pytest coverage (tests/test_dedup.py, tests/test_entropy.py).
    "parser_count": q_parser_count,
    # -- new/changed this round --
    "var_gof_discrete": q_var_gof_discrete,
    "time_corr_features": q_time_corr_features,
    "tsa": q_tsa,
    "var_corr_validate": q_var_corr_validate,
    "hypothesis_rules": q_hypothesis_rules,
    "hypothesis_rules_back": q_hypothesis_rules_back,
    "ann_ivf": q_ann_ivf,
    "suite_verdicts": q_suite_verdicts,
    "jaccard_pairs_xx": q_jaccard_pairs_xx,
    "jaccard_pairs": q_jaccard_pairs,
    "simhash_bits": q_simhash_bits,
    "dedup_exact": q_dedup_exact,
    "monotonic_adjust": q_monotonic_adjust,
    "rule_violations": q_rule_violations,
    # -- not re-checked in round 2 --
    "drift_psi": q_drift_psi,
    "text_metrics": q_text_metrics,
    "ann_topk": q_ann_topk,
    # -- everything else --
    "value_range_lifecycle": q_value_range_lifecycle,
    "new_combos_enhanced": q_new_combos_enhanced,
    "new_id_combos": q_new_id_combos,
    "implication": q_implication,
    "var_gof": q_var_gof,
    "var_sgof": q_var_sgof,
    "early_exceeding": q_early_exceeding,
    "freq_seasonal": q_freq_seasonal,
    "ks_drift": q_ks_drift,
    "chi2_pairs": q_chi2_pairs,
    "variable_types": q_variable_types,
    "hour_histogram": q_hour_histogram,
    "avg_change": q_avg_change,
    "near_dup_cos": q_near_dup_cos,
    "ann_lsh": q_ann_lsh,
    "new_values": q_new_values,
    "new_combos": q_new_combos,
    "value_range": q_value_range,
    "freq_counts": q_freq_counts,
    "freq_bands": q_freq_bands,
    "freq_unique": q_freq_unique,
    "sliding_freq": q_sliding_freq,
    "missing_values": q_missing_values,
    "entropy_score": q_entropy_score,
    "uniqueness": q_uniqueness,
    "referential": q_referential,
    "column_stats": q_column_stats,
    "seq_ngrams": q_seq_ngrams,
    "charset_new": q_charset_new,
    "time_intervals": q_time_intervals,
    "count_cluster": q_count_cluster,
    "min_transition": q_min_transition,
}


def _var_corr_validate_oracle() -> str:
    """var_corr_validate oracle: melt the pairs, row-number per pair,
    discovery chi² on the first 100 rows, per-50-row-chunk homogeneity
    chi² vs the init joint distribution, trailing-30 binomial ladder,
    running dropped flag — the SQL mirror of validate_correlation_pairs."""
    from logdata_anomaly_miner_spark.operators.var_gof import bt_min_successes

    cols = ["event_type", "user_bucket", "user_low", "vbin"]
    melts = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            melts.append(
                f"SELECT event_id, '{a}~{b}' AS pair, {a} AS va, {b} AS vb "
                f"FROM src WHERE {a} IS NOT NULL AND {b} IS NOT NULL"
            )
    melted = "\n  UNION ALL\n  ".join(melts)

    def wh_z(chi: str, dof: str) -> str:
        kd = f"nullif(CAST({dof} AS DOUBLE), 0.0)"
        return (
            f"(pow({chi} / {kd}, 1.0/3.0) - (1.0 - 2.0/(9.0 * {kd})))"
            f" / sqrt(2.0/(9.0 * {kd}))"
        )

    min_success = bt_min_successes(30, 0.95, 0.05)
    return f"""
WITH src AS (SELECT event_id, event_type,
                    CAST(user_id % 5 AS VARCHAR) AS user_bucket,
                    CAST(user_id % 10 AS VARCHAR) AS user_low,
                    CAST(CAST(floor(value / 50) AS BIGINT) AS VARCHAR) AS vbin
             FROM events),
melted AS (
  {melted}
),
pos AS (SELECT *, row_number() OVER (PARTITION BY pair ORDER BY event_id) AS ern FROM melted),
init AS (SELECT * FROM pos WHERE ern <= 100),
obs AS (SELECT pair, va, vb, count(*) AS cnt FROM init GROUP BY 1, 2, 3),
ra AS (SELECT pair, va, sum(cnt) AS ra FROM obs GROUP BY 1, 2),
rb AS (SELECT pair, vb, sum(cnt) AS rb FROM obs GROUP BY 1, 2),
nn AS (SELECT pair, sum(cnt) AS n FROM obs GROUP BY 1),
cells AS (SELECT ra.pair, ra.va, rb.vb, ra.ra, rb.rb, nn.n, coalesce(o.cnt, 0) AS cnt
          FROM ra JOIN rb USING (pair) JOIN nn USING (pair)
          LEFT JOIN obs o ON o.pair = ra.pair AND o.va = ra.va AND o.vb = rb.vb),
disc AS (SELECT pair,
                sum((cnt - ra*rb*1.0/n)**2 / (ra*rb*1.0/n)) AS chi2,
                (count(DISTINCT va)-1)*(count(DISTINCT vb)-1) AS dof
         FROM cells GROUP BY 1),
dep AS (SELECT pair FROM disc WHERE {wh_z('chi2', 'dof')} > 1.6448536269514722),
bl AS (SELECT o.pair, o.va, o.vb, o.cnt * 1.0 / nn.n AS p
       FROM obs o JOIN nn USING (pair) WHERE o.pair IN (SELECT pair FROM dep)),
nd AS (SELECT pair, count(*) AS num_diff FROM bl GROUP BY 1),
post AS (SELECT pair, va, vb, CAST(floor((ern - 100 - 1)/50.0) AS BIGINT) AS chunk
         FROM pos WHERE ern > 100 AND pair IN (SELECT pair FROM dep)),
obs_post AS (SELECT pair, chunk, va, vb, count(*) AS cnt FROM post GROUP BY 1, 2, 3, 4),
fullc AS (SELECT pair, chunk
          FROM (SELECT pair, chunk, count(*) AS cn FROM post GROUP BY 1, 2)
          WHERE cn >= 50),
grid AS (SELECT bl.pair, f.chunk, coalesce(o.cnt, 0) AS cnt, bl.p * 50.0 AS e
         FROM bl JOIN fullc f USING (pair)
         LEFT JOIN obs_post o ON o.pair = bl.pair AND o.chunk = f.chunk
                             AND o.va = bl.va AND o.vb = bl.vb),
ch AS (SELECT pair, chunk, sum((cnt - e)**2 / e) AS chi2 FROM grid GROUP BY 1, 2),
ch2 AS (SELECT ch.*, CAST(nd.num_diff - 1 AS BIGINT) AS dof FROM ch JOIN nd USING (pair)),
newv AS (SELECT o.pair, o.chunk, count(*) AS n_new
         FROM obs_post o JOIN fullc USING (pair, chunk)
         WHERE NOT EXISTS (SELECT 1 FROM bl
                           WHERE bl.pair = o.pair AND bl.va = o.va AND bl.vb = o.vb)
         GROUP BY 1, 2),
pc AS (SELECT ch2.pair, ch2.chunk, ch2.chi2, ch2.dof,
              {wh_z('ch2.chi2', 'ch2.dof')} AS z,
              CAST(coalesce(nv.n_new, 0) AS BIGINT) AS n_new
       FROM ch2 LEFT JOIN newv nv ON nv.pair = ch2.pair AND nv.chunk = ch2.chunk),
pf AS (SELECT *, (n_new > 0 OR z > 1.6448536269514722) AS failed FROM pc),
lad AS (SELECT *,
        CAST(sum(CASE WHEN failed THEN 1 ELSE 0 END) OVER tw AS BIGINT) AS n_fails,
        CAST(count(*) OVER tw AS BIGINT) AS n_tests
        FROM pf
        WINDOW tw AS (PARTITION BY pair ORDER BY chunk
                      ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)),
al AS (SELECT *, (n_tests >= 30 AND (n_tests - n_fails) < {min_success}) AS alarm FROM lad)
SELECT pair, chunk, round(chi2, 6) AS chi2, dof, round(z, 6) AS z, n_new,
       failed, n_fails, n_tests, alarm,
       (max(CASE WHEN alarm THEN 1 ELSE 0 END)
          OVER (PARTITION BY pair ORDER BY chunk ROWS UNBOUNDED PRECEDING) = 1) AS dropped
FROM al
"""


def _chi2_pairs_oracle() -> str:
    """chi2_pairs oracle SQL, generated over the column pairs so the
    statistic's formula exists exactly ONCE (six hand-copied blocks
    previously invited drift). Mirrors chi_square_pairs' null exclusion:
    rows where either variable is null are excluded per pair."""
    cols = ["event_type", "user_bucket", "vbin", "hour"]
    blocks = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            obs = (
                f"(SELECT {a} AS a, {b} AS b, count(*) AS cnt FROM src "
                f"WHERE {a} IS NOT NULL AND {b} IS NOT NULL GROUP BY 1, 2)"
            )
            blocks.append(f"""
  SELECT '{a}' AS col_a, '{b}' AS col_b,
         sum((cnt - ra * rb * 1.0 / n) ** 2 / (ra * rb * 1.0 / n)) AS chi2,
         (count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS dof
  FROM (
    SELECT ra.a, rb.b, ra.ra, rb.rb, coalesce(o.cnt, 0) AS cnt, n.n
    FROM (SELECT a, sum(cnt) AS ra FROM {obs} GROUP BY 1) ra
    CROSS JOIN (SELECT b, sum(cnt) AS rb FROM {obs} GROUP BY 1) rb
    CROSS JOIN (SELECT sum(cnt) AS n FROM {obs}) n
    LEFT JOIN {obs} o ON o.a = ra.a AND o.b = rb.b
  )""")
    union = "\n  UNION ALL\n".join(blocks)
    return f"""
WITH src AS (SELECT event_type,
                    CAST(user_id % 5 AS VARCHAR) AS user_bucket,
                    CAST(CAST(floor(value / 50) AS BIGINT) AS VARCHAR) AS vbin,
                    CAST(CAST(floor((epoch_us(ts)/1000000.0 % 86400.0) / 3600.0) AS BIGINT) AS VARCHAR) AS hour
             FROM events)
SELECT col_a, col_b, round(chi2, 6) AS chi2, CAST(dof AS BIGINT) AS dof,
       round((pow(chi2 / CAST(dof AS DOUBLE), 1.0/3.0)
              - (1.0 - 2.0/(9.0 * CAST(dof AS DOUBLE))))
             / sqrt(2.0/(9.0 * CAST(dof AS DOUBLE))), 6) AS z,
       ((pow(chi2 / CAST(dof AS DOUBLE), 1.0/3.0)
         - (1.0 - 2.0/(9.0 * CAST(dof AS DOUBLE))))
        / sqrt(2.0/(9.0 * CAST(dof AS DOUBLE))) > 1.6448536269514722) AS dependent
FROM ({union}
)
"""


ORACLES: dict[str, str] = {
    "jaccard_pairs_xx": """
WITH toks AS (SELECT doc_id,
  string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                                   '\\s+', ' ', 'g')), ' ') AS t
  FROM documents),
grams AS (SELECT doc_id,
  CASE WHEN len(t) >= 3
       THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
                                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
       ELSE [array_to_string(t, ' ')] END AS g
  FROM toks),
sizes AS (SELECT doc_id, len(g) AS n FROM grams),
ex AS (SELECT doc_id, unnest(g) AS sh FROM grams),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
          FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT i.id_a, i.id_b,
       round(i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter), 6) AS jaccard
FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a JOIN sizes sb ON sb.doc_id = i.id_b
WHERE i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter) >= 0.85
""",
    "value_range_lifecycle": """
WITH ev AS (SELECT event_id, event_type, value, epoch_us(ts)/1000000.0 AS es FROM events),
b AS (SELECT min(es) + (max(es) - min(es))/2.0 AS cut FROM ev),
learn AS (SELECT ev.* FROM ev, b WHERE es <= cut),
chk AS (SELECT ev.* FROM ev, b WHERE es > cut),
pre AS (SELECT event_id, value,
               min(value) OVER win AS pmin, max(value) OVER win AS pmax
        FROM learn
        WINDOW win AS (PARTITION BY event_type ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
r AS (SELECT event_type, min(value) AS mn, max(value) AS mx FROM learn GROUP BY 1)
SELECT event_id, 'learn' AS phase FROM pre
WHERE pmin IS NOT NULL AND (value < pmin OR value > pmax)
UNION ALL
SELECT c.event_id, 'check' AS phase FROM chk c JOIN r USING (event_type)
WHERE c.value < r.mn OR c.value > r.mx
""",
    "new_combos_enhanced": """
WITH thr AS (SELECT max(event_id)/2.0 AS t FROM events),
ev AS (SELECT event_id, event_type, CAST(floor(value/50) AS INT) AS vbin,
              epoch_us(ts)/1000000.0 AS es FROM events),
base AS (SELECT DISTINCT event_type, vbin FROM ev, thr WHERE event_id < t),
cur AS (SELECT event_type, vbin,
               round(min(es), 6) AS first_seen, round(max(es), 6) AS last_seen,
               CAST(count(*) AS BIGINT) AS n_seen
        FROM ev, thr WHERE event_id >= t GROUP BY 1, 2)
SELECT c.* FROM cur c
WHERE NOT EXISTS (SELECT 1 FROM base b
                  WHERE b.event_type = c.event_type AND b.vbin = c.vbin)
""",
    "new_id_combos": """
WITH thr AS (SELECT max(event_id)/2.0 AS t FROM events),
ev AS (SELECT event_id, user_id, event_type, value,
              epoch_us(ts) AS us, epoch_us(ts)/1000000.0 AS es FROM events),
h1 AS (SELECT ev.* FROM ev, thr WHERE event_id < t),
h2 AS (SELECT ev.* FROM ev, thr WHERE event_id >= t),
et1 AS (SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn
        FROM h1 WHERE event_type IS NOT NULL),
vv1 AS (SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn
        FROM h1 WHERE value IS NOT NULL),
ids1 AS (SELECT DISTINCT user_id FROM h1),
base AS (SELECT DISTINCT e.event_type, v.value
         FROM ids1 i
         LEFT JOIN (SELECT user_id, event_type FROM et1 WHERE rn = 1) e USING (user_id)
         LEFT JOIN (SELECT user_id, value FROM vv1 WHERE rn = 1) v USING (user_id)),
et2 AS (SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn
        FROM h2 WHERE event_type IS NOT NULL),
vv2 AS (SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn
        FROM h2 WHERE value IS NOT NULL),
agg2 AS (SELECT i.user_id, e.event_type, v.value, i.ts
         FROM (SELECT user_id, min(es) AS ts FROM h2 GROUP BY 1) i
         LEFT JOIN (SELECT user_id, event_type FROM et2 WHERE rn = 1) e USING (user_id)
         LEFT JOIN (SELECT user_id, value FROM vv2 WHERE rn = 1) v USING (user_id))
SELECT user_id, event_type, round(value, 6) AS value, round(ts, 6) AS first_ts
FROM agg2 a
WHERE NOT EXISTS (SELECT 1 FROM base b
                  WHERE b.event_type = a.event_type AND b.value = a.value)
""",
    "hypothesis_rules_back": """
WITH ev AS (SELECT event_id, event_type, epoch_us(ts)/1000000.0 AS es FROM events),
obs AS (SELECT event_type AS a, es AS ta,
               row_number() OVER (PARTITION BY event_type ORDER BY es, event_id) AS rn
        FROM ev QUALIFY rn <= 150),
nob AS (SELECT a, CAST(count(*) AS BIGINT) AS n_obs FROM obs GROUP BY 1),
conf AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_true FROM (
           SELECT DISTINCT o.a, e.event_type AS b, o.rn
           FROM obs o JOIN ev e
             ON e.es < o.ta AND e.es >= o.ta - 300.0 AND e.event_type <> o.a)
         GROUP BY 1, 2),
types AS (SELECT DISTINCT event_type AS t FROM ev),
thr AS (SELECT coalesce(150 - min(i), 150) AS thr FROM (
          SELECT i, sum(exp(lgamma(151) - lgamma(i+1) - lgamma(151-i))
                        * pow(1 - 0.75, i) * pow(0.75, 150 - i))
                     OVER (ORDER BY i) AS c
          FROM (SELECT unnest(generate_series(0, 150)) AS i))
        WHERE c > (1 - 0.05))
SELECT p.a, p.b, n.n_obs, coalesce(cf.n_true, 0) AS n_true,
       CASE WHEN n.n_obs < 150 THEN 'undecided'
            WHEN coalesce(cf.n_true, 0) >= (SELECT thr FROM thr) THEN 'rule'
            ELSE 'rejected' END AS status
FROM (SELECT x.t AS a, y.t AS b FROM types x, types y WHERE x.t <> y.t) p
JOIN nob n ON n.a = p.a
LEFT JOIN conf cf ON cf.a = p.a AND cf.b = p.b
""",
    "tsa": """
WITH t0 AS (SELECT min(epoch_us(ts)/1000000.0) AS t0 FROM events),
c AS (SELECT event_type, CAST(floor((epoch_us(ts)/1000000.0 - t0)/600.0) AS BIGINT) AS w,
             count(*) AS cnt
      FROM events CROSS JOIN t0 GROUP BY 1, 2),
k AS (SELECT event_type, min(w) AS w0 FROM c GROUP BY 1),
g AS (SELECT max(w) AS wm FROM c),
spine AS (SELECT k.event_type, gs.w FROM k
          CROSS JOIN (SELECT unnest(generate_series(0, (SELECT wm FROM g))) AS w) gs
          WHERE gs.w >= k.w0),
sp AS (SELECT s.event_type, s.w, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
       FROM spine s LEFT JOIN c ON c.event_type = s.event_type AND c.w = s.w),
d AS (SELECT event_type, w, cnt, CAST(cnt AS DOUBLE) AS y,
             lag(CAST(cnt AS DOUBLE)) OVER pw AS x1,
             lag(CAST(cnt AS DOUBLE), 144) OVER pw AS xs
      FROM sp WINDOW pw AS (PARTITION BY event_type ORDER BY w)),
fit_ar1 AS (SELECT event_type,
               coalesce(regr_slope(y, x1), 0.0) AS s,
               coalesce(regr_intercept(y, x1), regr_avgy(y, x1)) AS ic,
               CAST(count(x1) AS BIGINT) AS n_train
        FROM d GROUP BY 1),
sc_ar1 AS (SELECT d.*, f.n_train, f.ic + f.s * d.x1 AS pred
       FROM d JOIN fit_ar1 f USING (event_type)),
sg_ar1 AS (SELECT event_type, stddev_pop(y - pred) AS sigma
       FROM sc_ar1 WHERE x1 IS NOT NULL GROUP BY 1),
out_ar1 AS (
  SELECT 'ar1' AS model, sc.event_type, sc.w, sc.cnt, round(sc.pred, 6) AS pred,
         round(sg.sigma, 6) AS sigma,
         (sc.n_train >= 10 AND abs(sc.y - sc.pred) > 1.96 * sg.sigma) AS anomaly
  FROM sc_ar1 sc JOIN sg_ar1 sg USING (event_type) WHERE sc.pred IS NOT NULL),
dd AS (SELECT event_type, w, cnt, y AS lvl, x1 AS base, y - x1 AS dy,
              lag(y - x1) OVER (PARTITION BY event_type ORDER BY w) AS dx
       FROM d),
fit_d1 AS (SELECT event_type,
               coalesce(regr_slope(dy, dx), 0.0) AS s,
               coalesce(regr_intercept(dy, dx), regr_avgy(dy, dx)) AS ic,
               CAST(count(dx) AS BIGINT) AS n_train
        FROM dd GROUP BY 1),
sc_d1 AS (SELECT dd.*, f.n_train, dd.base + f.ic + f.s * dd.dx AS pred
       FROM dd JOIN fit_d1 f USING (event_type)),
sg_d1 AS (SELECT event_type, stddev_pop(lvl - pred) AS sigma
       FROM sc_d1 WHERE dx IS NOT NULL GROUP BY 1),
out_d1 AS (
  SELECT 'd1' AS model, sc.event_type, sc.w, sc.cnt, round(sc.pred, 6) AS pred,
         round(sg.sigma, 6) AS sigma,
         (sc.n_train >= 10 AND abs(sc.lvl - sc.pred) > 1.96 * sg.sigma) AS anomaly
  FROM sc_d1 sc JOIN sg_d1 sg USING (event_type) WHERE sc.pred IS NOT NULL),
e2 AS (SELECT *, lag(e) OVER (PARTITION BY event_type ORDER BY w) AS x2
       FROM (SELECT d.event_type, d.w, d.cnt, d.y, d.x1,
                    CASE WHEN d.x1 IS NOT NULL
                         THEN d.y - (f.ic + f.s * d.x1) END AS e
             FROM d JOIN fit_ar1 f USING (event_type))),
fit_ma AS (SELECT event_type,
   covar_pop(x1, x1) AS c11, covar_pop(x2, x2) AS c22, covar_pop(x1, x2) AS c12,
   covar_pop(x1, y) AS c1y, covar_pop(x2, y) AS c2y,
   avg(x1) AS mx1, avg(x2) AS mx2, avg(y) AS my,
   CAST(count(*) AS BIGINT) AS n_train
   FROM e2 WHERE x1 IS NOT NULL AND x2 IS NOT NULL GROUP BY 1),
coef_ma AS (SELECT event_type, n_train,
   coalesce((c22*c1y - c12*c2y)/nullif(c11*c22 - c12*c12, 0.0), 0.0) AS b1,
   coalesce((c11*c2y - c12*c1y)/nullif(c11*c22 - c12*c12, 0.0), 0.0) AS b2,
   my, mx1, mx2 FROM fit_ma),
coef_ma2 AS (SELECT event_type, n_train, b1, b2,
   my - b1*mx1 - b2*mx2 AS b0 FROM coef_ma),
sc_ma AS (SELECT e2.*, f.n_train,
   CASE WHEN e2.x1 IS NOT NULL AND e2.x2 IS NOT NULL
        THEN f.b0 + f.b1*e2.x1 + f.b2*e2.x2 END AS pred
   FROM e2 JOIN coef_ma2 f USING (event_type)),
sg_ma AS (SELECT event_type, stddev_pop(y - pred) AS sigma
   FROM sc_ma WHERE pred IS NOT NULL GROUP BY 1),
out_ma AS (
  SELECT 'ma1' AS model, sc.event_type, sc.w, sc.cnt, round(sc.pred, 6) AS pred,
         round(sg.sigma, 6) AS sigma,
         (sc.n_train >= 10 AND abs(sc.y - sc.pred) > 1.96 * sg.sigma) AS anomaly
  FROM sc_ma sc JOIN sg_ma sg USING (event_type) WHERE sc.pred IS NOT NULL),
fit_sar AS (SELECT event_type,
   covar_pop(x1, x1) AS c11, covar_pop(xs, xs) AS c22, covar_pop(x1, xs) AS c12,
   covar_pop(x1, y) AS c1y, covar_pop(xs, y) AS c2y,
   avg(x1) AS mx1, avg(xs) AS mx2, avg(y) AS my,
   CAST(count(*) AS BIGINT) AS n_train
   FROM d WHERE x1 IS NOT NULL AND xs IS NOT NULL GROUP BY 1),
coef_sar AS (SELECT event_type, n_train,
   coalesce((c22*c1y - c12*c2y)/nullif(c11*c22 - c12*c12, 0.0), 0.0) AS b1,
   coalesce((c11*c2y - c12*c1y)/nullif(c11*c22 - c12*c12, 0.0), 0.0) AS b2,
   my, mx1, mx2 FROM fit_sar),
coef_sar2 AS (SELECT event_type, n_train, b1, b2,
   my - b1*mx1 - b2*mx2 AS b0 FROM coef_sar),
sc_sar AS (SELECT d.*, f.n_train,
   CASE WHEN d.x1 IS NOT NULL AND d.xs IS NOT NULL
        THEN f.b0 + f.b1*d.x1 + f.b2*d.xs END AS pred
   FROM d JOIN coef_sar2 f USING (event_type)),
sg_sar AS (SELECT event_type, stddev_pop(y - pred) AS sigma
   FROM sc_sar WHERE pred IS NOT NULL GROUP BY 1),
out_sar AS (
  SELECT 'sar' AS model, sc.event_type, sc.w, sc.cnt, round(sc.pred, 6) AS pred,
         round(sg.sigma, 6) AS sigma,
         (sc.n_train >= 10 AND abs(sc.y - sc.pred) > 1.96 * sg.sigma) AS anomaly
  FROM sc_sar sc JOIN sg_sar sg USING (event_type) WHERE sc.pred IS NOT NULL)
SELECT * FROM out_ar1
UNION ALL SELECT * FROM out_d1
UNION ALL SELECT * FROM out_ma
UNION ALL SELECT * FROM out_sar
""",
    "var_gof": """
WITH ev AS (SELECT event_id, event_type AS g, value AS v FROM events WHERE value IS NOT NULL),
init AS (SELECT g, v FROM (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY event_id) AS ern
                           FROM ev) WHERE ern <= 100),
st AS (SELECT g, count(*) AS n, min(v) AS vmin, max(v) AS vmax,
              avg(v) AS mu, stddev_pop(v) AS sigma FROM init GROUP BY 1),
rk AS (SELECT i.g, i.v, CAST(row_number() OVER (PARTITION BY i.g ORDER BY i.v) AS DOUBLE) AS rn,
              CAST(s.n AS DOUBLE) AS nd, s.n, s.vmin, s.vmax, s.mu, s.sigma
       FROM init i JOIN st s USING (g)),
zz AS (SELECT *, (v - mu)/sigma AS z FROM rk),
nt AS (SELECT *, 1.0/(1.0 + 0.2316419*abs(z)) AS t FROM zz),
cd AS (SELECT g, n, nd, rn,
  least(greatest((v - vmin)/(vmax - vmin), 0.0), 1.0) AS x_uni,
  CASE WHEN z >= 0
       THEN 1.0 - (exp((-abs(z))*abs(z)/2.0)*0.3989422804014327)
                * (t*(0.319381530 + t*(-0.356563782 + t*(1.781477937 + t*(-1.821255978 + t*1.330274429)))))
       ELSE 1.0 - (1.0 - (exp((-abs(z))*abs(z)/2.0)*0.3989422804014327)
                * (t*(0.319381530 + t*(-0.356563782 + t*(1.781477937 + t*(-1.821255978 + t*1.330274429)))))) END AS f_nor,
  least(greatest(z*0.15971914124998499 + 0.7142857142857143, 0.0), 1.0) AS x_b2,
  least(greatest(z*0.15971914124998499 + 0.2857142857142857, 0.0), 1.0) AS x_b3,
  least(greatest(z*0.14085904245475275 + 0.16666666666666666, 0.0), 1.0) AS x_b4,
  least(greatest(z*0.14085904245475275 + 0.8333333333333334, 0.0), 1.0) AS x_b5,
  least(greatest((v - vmin)/(vmax - vmin), 0.0), 1.0) AS x_bm,
  CASE WHEN (mu - vmin)/(vmax - vmin) > 1.0/6.0 AND (mu - vmin)/(vmax - vmin) < 5.0/6.0
       THEN CAST(floor((5.0/6.0 - (mu - vmin)/(vmax - vmin))*1.5*1000.0 + 0.5) AS BIGINT)
       END AS m_bm
  FROM nt),
cf AS (SELECT g, n, nd, rn, x_uni AS f_uni, f_nor,
  0.6366197723675814*asin(sqrt(x_uni)) AS f_b1,
  0.0 + 6.0*pow(x_b2,5.0)*pow(1-x_b2,1.0) + 1.0*pow(x_b2,6.0)*pow(1-x_b2,0.0) AS f_b2,
  0.0 + 15.0*pow(x_b3,2.0)*pow(1-x_b3,4.0) + 20.0*pow(x_b3,3.0)*pow(1-x_b3,3.0)
      + 15.0*pow(x_b3,4.0)*pow(1-x_b3,2.0) + 6.0*pow(x_b3,5.0)*pow(1-x_b3,1.0)
      + 1.0*pow(x_b3,6.0)*pow(1-x_b3,0.0) AS f_b3,
  0.0 + 5.0*pow(x_b4,1.0)*pow(1-x_b4,4.0) + 10.0*pow(x_b4,2.0)*pow(1-x_b4,3.0)
      + 10.0*pow(x_b4,3.0)*pow(1-x_b4,2.0) + 5.0*pow(x_b4,4.0)*pow(1-x_b4,1.0)
      + 1.0*pow(x_b4,5.0)*pow(1-x_b4,0.0) AS f_b4,
  0.0 + 1.0*pow(x_b5,5.0)*pow(1-x_b5,0.0) AS f_b5,
  -- closed-form 1000-point beta(1,5)/beta(5,1) mixture ECDF (powers as
  -- explicit multiplications: bit-identical to the Spark plan)
  CASE WHEN m_bm IS NOT NULL THEN
    (floor((least(floor(999.0*(1.0 - ((1.0-x_bm)*(1.0-x_bm))*((1.0-x_bm)*(1.0-x_bm))*(1.0-x_bm))), 999.0) + 1)*m_bm/1000.0)
     + (least(floor(999.0*((x_bm*x_bm)*(x_bm*x_bm)*x_bm)), 999.0) + 1)
     - floor((least(floor(999.0*((x_bm*x_bm)*(x_bm*x_bm)*x_bm)), 999.0) + 1)*m_bm/1000.0)
    )/1000.0 END AS f_bm,
  CASE WHEN x_bm = 0.0 OR x_bm = 1.0 THEN 1.0 ELSE 0.0 END AS hit_bm
  FROM cd),
tt AS (SELECT g, n, nd,
  greatest(rn/nd - f_uni, f_uni - (rn-1)/nd) AS t_uni,
  greatest(rn/nd - f_nor, f_nor - (rn-1)/nd) AS t_nor,
  greatest(rn/nd - f_b1, f_b1 - (rn-1)/nd) AS t_b1,
  greatest(rn/nd - f_b2, f_b2 - (rn-1)/nd) AS t_b2,
  greatest(rn/nd - f_b3, f_b3 - (rn-1)/nd) AS t_b3,
  greatest(rn/nd - f_b4, f_b4 - (rn-1)/nd) AS t_b4,
  greatest(rn/nd - f_b5, f_b5 - (rn-1)/nd) AS t_b5,
  CASE WHEN f_bm IS NOT NULL THEN
    greatest(abs(f_bm - rn/nd), abs(f_bm - hit_bm/1000.0 - (rn-1)/nd)) END AS t_bm
  FROM cf),
sg AS (SELECT g, max(n) AS n, max(nd) AS nd,
              max(t_uni) AS s_uni, max(t_nor) AS s_nor, max(t_b1) AS s_b1,
              max(t_b2) AS s_b2, max(t_b3) AS s_b3, max(t_b4) AS s_b4,
              max(t_b5) AS s_b5, max(t_bm) AS s_bm
       FROM tt GROUP BY g),
cs AS (SELECT g, n, nd,
  s_uni, s_nor, s_b1, s_b2, s_b3, s_b4, s_b5, s_bm,
  s_uni*sqrt(nd) AS c_uni, s_nor*sqrt(nd) AS c_nor, s_b1*sqrt(nd) AS c_b1,
  s_b2*sqrt(nd) AS c_b2, s_b3*sqrt(nd) AS c_b3, s_b4*sqrt(nd) AS c_b4,
  s_b5*sqrt(nd) AS c_b5,
  s_bm*sqrt(nd*1000.0/(nd + 1000.0)) AS c_bm
  FROM sg),
pick AS (SELECT g, n, nd,
  least(c_uni, c_nor, c_b1, c_b2, c_b3, c_b4, c_b5, c_bm) AS cbest,
  CASE WHEN c_uni = least(c_uni, c_nor, c_b1, c_b2, c_b3, c_b4, c_b5, c_bm) THEN 'uni'
       WHEN c_nor = least(c_uni, c_nor, c_b1, c_b2, c_b3, c_b4, c_b5, c_bm) THEN 'nor'
       WHEN c_b1 = least(c_uni, c_nor, c_b1, c_b2, c_b3, c_b4, c_b5, c_bm) THEN 'beta1'
       WHEN c_b2 = least(c_uni, c_nor, c_b1, c_b2, c_b3, c_b4, c_b5, c_bm) THEN 'beta2'
       WHEN c_b3 = least(c_uni, c_nor, c_b1, c_b2, c_b3, c_b4, c_b5, c_bm) THEN 'beta3'
       WHEN c_b4 = least(c_uni, c_nor, c_b1, c_b2, c_b3, c_b4, c_b5, c_bm) THEN 'beta4'
       WHEN c_b5 = least(c_uni, c_nor, c_b1, c_b2, c_b3, c_b4, c_b5, c_bm) THEN 'beta5'
       ELSE 'betam' END AS dist,
  CASE WHEN c_uni = least(c_uni, c_nor, c_b1, c_b2, c_b3, c_b4, c_b5, c_bm) THEN s_uni
       WHEN c_nor = least(c_uni, c_nor, c_b1, c_b2, c_b3, c_b4, c_b5, c_bm) THEN s_nor
       WHEN c_b1 = least(c_uni, c_nor, c_b1, c_b2, c_b3, c_b4, c_b5, c_bm) THEN s_b1
       WHEN c_b2 = least(c_uni, c_nor, c_b1, c_b2, c_b3, c_b4, c_b5, c_bm) THEN s_b2
       WHEN c_b3 = least(c_uni, c_nor, c_b1, c_b2, c_b3, c_b4, c_b5, c_bm) THEN s_b3
       WHEN c_b4 = least(c_uni, c_nor, c_b1, c_b2, c_b3, c_b4, c_b5, c_bm) THEN s_b4
       WHEN c_b5 = least(c_uni, c_nor, c_b1, c_b2, c_b3, c_b4, c_b5, c_bm) THEN s_b5
       ELSE s_bm END AS stat,
  least(c_uni, c_nor, c_b1, c_b2, c_b3, c_b4, c_b5, c_bm) < 1.3581015157406195 AS acc
  FROM cs)
SELECT g AS event_type,
       CASE WHEN d.deg THEN 'static'
            WHEN NOT acc THEN 'emp'
            ELSE dist END AS dist,
       CASE WHEN d.deg THEN 0.0
            WHEN NOT acc THEN NULL
            ELSE round(stat, 6) END AS stat,
       CAST(n AS BIGINT) AS n,
       CASE WHEN d.deg THEN TRUE ELSE acc END AS accepted
FROM pick JOIN (SELECT g, (vmax = vmin) AS deg FROM st) d USING (g)
""",
    "var_sgof": """
WITH ev AS (SELECT event_id, event_type AS g, value AS v FROM events WHERE value IS NOT NULL),
rnk AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY event_id) AS ern FROM ev),
init AS (SELECT g, v FROM rnk WHERE ern <= 100),
st AS (SELECT g, count(*) AS n, min(v) AS vmin, max(v) AS vmax,
              avg(v) AS mu, stddev_pop(v) AS sigma FROM init GROUP BY 1),
rk AS (SELECT i.g, i.v, CAST(row_number() OVER (PARTITION BY i.g ORDER BY i.v) AS DOUBLE) AS rn,
              CAST(s.n AS DOUBLE) AS nd, s.vmin, s.vmax, s.mu, s.sigma
       FROM init i JOIN st s USING (g)),
izz AS (SELECT *, (v - mu)/sigma AS z FROM rk),
int_ AS (SELECT *, 1.0/(1.0 + 0.2316419*abs(z)) AS t FROM izz),
icd AS (SELECT g, nd, rn,
  least(greatest((v - vmin)/(vmax - vmin), 0.0), 1.0) AS x_uni,
  CASE WHEN z >= 0
       THEN 1.0 - (exp((-abs(z))*abs(z)/2.0)*0.3989422804014327)
                * (t*(0.319381530 + t*(-0.356563782 + t*(1.781477937 + t*(-1.821255978 + t*1.330274429)))))
       ELSE 1.0 - (1.0 - (exp((-abs(z))*abs(z)/2.0)*0.3989422804014327)
                * (t*(0.319381530 + t*(-0.356563782 + t*(1.781477937 + t*(-1.821255978 + t*1.330274429)))))) END AS f_nor,
  least(greatest(z*0.15971914124998499 + 0.7142857142857143, 0.0), 1.0) AS x_b2,
  least(greatest(z*0.15971914124998499 + 0.2857142857142857, 0.0), 1.0) AS x_b3,
  least(greatest(z*0.14085904245475275 + 0.16666666666666666, 0.0), 1.0) AS x_b4,
  least(greatest(z*0.14085904245475275 + 0.8333333333333334, 0.0), 1.0) AS x_b5
  FROM int_),
icf AS (SELECT g, nd, rn, x_uni AS f_uni, f_nor,
  0.6366197723675814*asin(sqrt(x_uni)) AS f_b1,
  0.0 + 6.0*pow(x_b2,5.0)*pow(1-x_b2,1.0) + 1.0*pow(x_b2,6.0)*pow(1-x_b2,0.0) AS f_b2,
  0.0 + 15.0*pow(x_b3,2.0)*pow(1-x_b3,4.0) + 20.0*pow(x_b3,3.0)*pow(1-x_b3,3.0)
      + 15.0*pow(x_b3,4.0)*pow(1-x_b3,2.0) + 6.0*pow(x_b3,5.0)*pow(1-x_b3,1.0)
      + 1.0*pow(x_b3,6.0)*pow(1-x_b3,0.0) AS f_b3,
  0.0 + 5.0*pow(x_b4,1.0)*pow(1-x_b4,4.0) + 10.0*pow(x_b4,2.0)*pow(1-x_b4,3.0)
      + 10.0*pow(x_b4,3.0)*pow(1-x_b4,2.0) + 5.0*pow(x_b4,4.0)*pow(1-x_b4,1.0)
      + 1.0*pow(x_b4,5.0)*pow(1-x_b4,0.0) AS f_b4,
  0.0 + 1.0*pow(x_b5,5.0)*pow(1-x_b5,0.0) AS f_b5
  FROM icd),
itt AS (SELECT g,
  greatest(rn/nd - f_uni, f_uni - (rn-1)/nd) AS t_uni,
  greatest(rn/nd - f_nor, f_nor - (rn-1)/nd) AS t_nor,
  greatest(rn/nd - f_b1, f_b1 - (rn-1)/nd) AS t_b1,
  greatest(rn/nd - f_b2, f_b2 - (rn-1)/nd) AS t_b2,
  greatest(rn/nd - f_b3, f_b3 - (rn-1)/nd) AS t_b3,
  greatest(rn/nd - f_b4, f_b4 - (rn-1)/nd) AS t_b4,
  greatest(rn/nd - f_b5, f_b5 - (rn-1)/nd) AS t_b5
  FROM icf),
isg AS (SELECT g, max(t_uni) AS s_uni, max(t_nor) AS s_nor, max(t_b1) AS s_b1,
               max(t_b2) AS s_b2, max(t_b3) AS s_b3, max(t_b4) AS s_b4,
               max(t_b5) AS s_b5
        FROM itt GROUP BY g),
fit AS (SELECT i.g,
  CASE WHEN s_uni = least(s_uni, s_nor, s_b1, s_b2, s_b3, s_b4, s_b5) THEN 'uni'
       WHEN s_nor = least(s_uni, s_nor, s_b1, s_b2, s_b3, s_b4, s_b5) THEN 'nor'
       WHEN s_b1 = least(s_uni, s_nor, s_b1, s_b2, s_b3, s_b4, s_b5) THEN 'beta1'
       WHEN s_b2 = least(s_uni, s_nor, s_b1, s_b2, s_b3, s_b4, s_b5) THEN 'beta2'
       WHEN s_b3 = least(s_uni, s_nor, s_b1, s_b2, s_b3, s_b4, s_b5) THEN 'beta3'
       WHEN s_b4 = least(s_uni, s_nor, s_b1, s_b2, s_b3, s_b4, s_b5) THEN 'beta4'
       ELSE 'beta5' END AS dist,
  s.vmin, s.vmax, s.mu, s.sigma
  FROM isg i JOIN st s ON s.g = i.g WHERE s.vmax > s.vmin),
ch AS (SELECT r.g, r.v, CAST(floor((r.ern - 100 - 1)/50.0) AS BIGINT) AS chunk,
              f.dist, f.vmin, f.vmax, f.mu, f.sigma
       FROM rnk r JOIN fit f ON f.g = r.g WHERE r.ern > 100),
crk AS (SELECT *, CAST(row_number() OVER (PARTITION BY g, chunk ORDER BY v) AS DOUBLE) AS rn,
               CAST(count(*) OVER (PARTITION BY g, chunk) AS DOUBLE) AS cn FROM ch),
czz AS (SELECT *, (v - mu)/sigma AS z FROM crk),
cnt_ AS (SELECT *, 1.0/(1.0 + 0.2316419*abs(z)) AS t FROM czz),
ccd AS (SELECT g, chunk, rn, cn, dist,
  least(greatest((v - vmin)/(vmax - vmin), 0.0), 1.0) AS x_uni,
  CASE WHEN z >= 0
       THEN 1.0 - (exp((-abs(z))*abs(z)/2.0)*0.3989422804014327)
                * (t*(0.319381530 + t*(-0.356563782 + t*(1.781477937 + t*(-1.821255978 + t*1.330274429)))))
       ELSE 1.0 - (1.0 - (exp((-abs(z))*abs(z)/2.0)*0.3989422804014327)
                * (t*(0.319381530 + t*(-0.356563782 + t*(1.781477937 + t*(-1.821255978 + t*1.330274429)))))) END AS f_nor,
  least(greatest(z*0.15971914124998499 + 0.7142857142857143, 0.0), 1.0) AS x_b2,
  least(greatest(z*0.15971914124998499 + 0.2857142857142857, 0.0), 1.0) AS x_b3,
  least(greatest(z*0.14085904245475275 + 0.16666666666666666, 0.0), 1.0) AS x_b4,
  least(greatest(z*0.14085904245475275 + 0.8333333333333334, 0.0), 1.0) AS x_b5
  FROM cnt_),
csel AS (SELECT g, chunk, rn, cn,
  CASE dist
    WHEN 'uni' THEN x_uni
    WHEN 'nor' THEN f_nor
    WHEN 'beta1' THEN 0.6366197723675814*asin(sqrt(x_uni))
    WHEN 'beta2' THEN 0.0 + 6.0*pow(x_b2,5.0)*pow(1-x_b2,1.0) + 1.0*pow(x_b2,6.0)*pow(1-x_b2,0.0)
    WHEN 'beta3' THEN 0.0 + 15.0*pow(x_b3,2.0)*pow(1-x_b3,4.0) + 20.0*pow(x_b3,3.0)*pow(1-x_b3,3.0)
                     + 15.0*pow(x_b3,4.0)*pow(1-x_b3,2.0) + 6.0*pow(x_b3,5.0)*pow(1-x_b3,1.0)
                     + 1.0*pow(x_b3,6.0)*pow(1-x_b3,0.0)
    WHEN 'beta4' THEN 0.0 + 5.0*pow(x_b4,1.0)*pow(1-x_b4,4.0) + 10.0*pow(x_b4,2.0)*pow(1-x_b4,3.0)
                     + 10.0*pow(x_b4,3.0)*pow(1-x_b4,2.0) + 5.0*pow(x_b4,4.0)*pow(1-x_b4,1.0)
                     + 1.0*pow(x_b4,5.0)*pow(1-x_b4,0.0)
    WHEN 'beta5' THEN 0.0 + 1.0*pow(x_b5,5.0)*pow(1-x_b5,0.0)
  END AS fv
  FROM ccd),
pc AS (SELECT g, chunk, max(greatest(rn/cn - fv, fv - (rn-1)/cn)) AS stat, max(cn) AS cn
       FROM csel GROUP BY 1, 2),
pcf AS (SELECT g, chunk, stat, (stat >= 1.3581015157406195/sqrt(50.0)) AS failed
        FROM pc WHERE cn >= 50),
lad AS (SELECT g, chunk, stat, failed,
               sum(CASE WHEN failed THEN 1 ELSE 0 END) OVER w AS n_fails,
               count(*) OVER w AS n_tests
        FROM pcf
        WINDOW w AS (PARTITION BY g ORDER BY chunk ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)),
kc AS (SELECT min(k)+1 AS k FROM (
         SELECT k, sum(exp(lgamma(31)-lgamma(k+1)-lgamma(31-k))
                       * pow(0.05, k) * pow(1-0.05, 30-k)) OVER (ORDER BY k) AS cum
         FROM (SELECT unnest(generate_series(0, 30)) AS k))
       WHERE 1.0 - cum <= 0.05)
SELECT g AS event_type, chunk, round(stat, 6) AS stat, failed,
       CAST(n_fails AS BIGINT) AS n_fails, CAST(n_tests AS BIGINT) AS n_tests,
       (n_tests >= 30 AND n_fails >= (SELECT k FROM kc)) AS alarm
FROM lad
""",
    # min_success = bt_min_successes(10, 0.95, 0.05) = 10 (the failure-tail
    # walk exceeds alpha at i=0 since 0.95^10 ≈ 0.599 > 0.05), so a full
    # window alarms on any failure — same arithmetic as the Spark side.
    "var_gof_discrete": """
WITH ev AS (SELECT event_id, event_type AS g, CAST(user_id AS VARCHAR) AS v
            FROM events WHERE user_id IS NOT NULL),
rnk AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY event_id) AS ern FROM ev),
init AS (SELECT g, v FROM rnk WHERE ern <= 100),
cnts AS (SELECT g, v, count(*) AS cnt FROM init GROUP BY 1, 2),
tot AS (SELECT g, CAST(sum(cnt) AS DOUBLE) AS n_init, count(*) AS num_diff
        FROM cnts GROUP BY 1),
base AS (SELECT c.g, c.v, c.cnt / t.n_init AS p, t.num_diff
         FROM cnts c JOIN tot t USING (g)
         WHERE t.num_diff > 1 AND t.num_diff < t.n_init
               AND t.num_diff < t.n_init * 0.9),
chunked AS (SELECT r.g, r.v, CAST(floor((r.ern - 100 - 1) / 50.0) AS BIGINT) AS chunk
            FROM rnk r JOIN (SELECT DISTINCT g FROM base) bg ON bg.g = r.g
            WHERE r.ern > 100),
fullc AS (SELECT g, chunk FROM chunked GROUP BY 1, 2 HAVING count(*) >= 50),
obsc AS (SELECT g, chunk, v, count(*) AS cnt FROM chunked GROUP BY 1, 2, 3),
grid AS (SELECT b.g, f.chunk, b.num_diff, coalesce(o.cnt, 0) AS cnt, b.p * 50.0 AS e
         FROM base b JOIN fullc f ON f.g = b.g
         LEFT JOIN obsc o ON o.g = b.g AND o.chunk = f.chunk AND o.v = b.v),
chi AS (SELECT g, chunk, sum((cnt - e) * (cnt - e) / e) AS chi2,
               CAST(max(num_diff) - 1 AS BIGINT) AS dof
        FROM grid GROUP BY 1, 2),
nv AS (SELECT o.g, o.chunk, count(*) AS n_new
       FROM obsc o LEFT JOIN base b ON b.g = o.g AND b.v = o.v
       WHERE b.v IS NULL GROUP BY 1, 2),
perc AS (SELECT c.g, c.chunk, c.chi2, c.dof, coalesce(n.n_new, 0) AS n_new,
                (pow(c.chi2 / c.dof, 1.0/3.0) - (1.0 - 2.0/(9.0*c.dof)))
                  / sqrt(2.0/(9.0*c.dof)) AS z
         FROM chi c LEFT JOIN nv n ON n.g = c.g AND n.chunk = c.chunk),
fl AS (SELECT *, (n_new > 0 OR z > 1.6448536269514722) AS failed FROM perc),
lad AS (SELECT g, chunk, chi2, dof, z, n_new, failed,
               sum(CASE WHEN failed THEN 1 ELSE 0 END) OVER w AS n_fails,
               count(*) OVER w AS n_tests
        FROM fl
        WINDOW w AS (PARTITION BY g ORDER BY chunk ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
SELECT g AS event_type, chunk, round(chi2, 6) AS chi2, dof, round(z, 6) AS z,
       CAST(n_new AS BIGINT) AS n_new, failed,
       CAST(n_fails AS BIGINT) AS n_fails, CAST(n_tests AS BIGINT) AS n_tests,
       (n_tests >= 10 AND (n_tests - n_fails) < 10) AS alarm
FROM lad
""",
    "time_corr_features": """
WITH ev AS (SELECT event_id, epoch_us(ts)/1000000.0 AS es, event_type,
                   CAST(user_id AS VARCHAR) AS uid FROM events),
vt AS (SELECT 'event_type=' || val AS feature, val FROM (
         SELECT event_type AS val, row_number() OVER (ORDER BY count(*) DESC, event_type) AS rk
         FROM ev WHERE event_type IS NOT NULL GROUP BY event_type) WHERE rk <= 5),
vu AS (SELECT 'user_id=' || val AS feature, val FROM (
         SELECT uid AS val, row_number() OVER (ORDER BY count(*) DESC, uid) AS rk
         FROM ev WHERE uid IS NOT NULL GROUP BY uid) WHERE rk <= 5),
trig AS (SELECT v.feature, e.es, e.event_id AS oid FROM ev e JOIN vt v ON v.val = e.event_type
         UNION ALL
         SELECT v.feature, e.es, e.event_id AS oid FROM ev e JOIN vu v ON v.val = e.uid),
cnt AS (SELECT feature, CAST(count(*) AS BIGINT) AS triggers FROM trig GROUP BY 1),
best AS (SELECT a.feature AS feature_a, b.feature AS feature_b, b.oid, b.es AS tb,
                max(a.es) AS best_ta
         FROM trig a JOIN trig b
           ON a.oid < b.oid AND b.es - a.es <= 300.0 AND a.es <= b.es
         GROUP BY 1, 2, 3, 4),
pair AS (SELECT feature_a, feature_b, CAST(count(*) AS BIGINT) AS n_pairs,
                avg(tb - best_ta) AS mean_dt
         FROM best GROUP BY 1, 2)
SELECT p.feature_a, p.feature_b, p.n_pairs,
       ca.triggers AS triggers_a, cb.triggers AS triggers_b,
       round(p.n_pairs * 1.0 / ca.triggers, 6) AS ratio,
       round(p.mean_dt, 6) AS mean_dt
FROM pair p
JOIN cnt ca ON ca.feature = p.feature_a
JOIN cnt cb ON cb.feature = p.feature_b
""",
    "hypothesis_rules": """
WITH ev AS (SELECT event_id, event_type, epoch_us(ts)/1000000.0 AS es FROM events),
obs AS (SELECT event_type AS a, es AS ta,
               row_number() OVER (PARTITION BY event_type ORDER BY es, event_id) AS rn
        FROM ev QUALIFY rn <= 150),
nob AS (SELECT a, CAST(count(*) AS BIGINT) AS n_obs FROM obs GROUP BY 1),
conf AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_true FROM (
           SELECT DISTINCT o.a, e.event_type AS b, o.rn
           FROM obs o JOIN ev e
             ON e.es > o.ta AND e.es <= o.ta + 300.0 AND e.event_type <> o.a)
         GROUP BY 1, 2),
types AS (SELECT DISTINCT event_type AS t FROM ev),
thr AS (SELECT coalesce(150 - min(i), 150) AS thr FROM (
          SELECT i, sum(exp(lgamma(151) - lgamma(i+1) - lgamma(151-i))
                        * pow(1 - 0.75, i) * pow(0.75, 150 - i))
                     OVER (ORDER BY i) AS c
          FROM (SELECT unnest(generate_series(0, 150)) AS i))
        WHERE c > (1 - 0.05))
SELECT p.a, p.b, n.n_obs, coalesce(cf.n_true, 0) AS n_true,
       CASE WHEN n.n_obs < 150 THEN 'undecided'
            WHEN coalesce(cf.n_true, 0) >= (SELECT thr FROM thr) THEN 'rule'
            ELSE 'rejected' END AS status
FROM (SELECT x.t AS a, y.t AS b FROM types x, types y WHERE x.t <> y.t) p
JOIN nob n ON n.a = p.a
LEFT JOIN conf cf ON cf.a = p.a AND cf.b = p.b
""",
    "implication": """
WITH a AS (SELECT event_id, user_id, epoch_us(ts)/1000000.0 AS es
           FROM events WHERE event_type = 'purchase'),
b AS (SELECT user_id, epoch_us(ts)/1000000.0 AS es
      FROM events WHERE event_type = 'error')
SELECT a.event_id FROM a
WHERE NOT EXISTS (SELECT 1 FROM b
                  WHERE b.user_id = a.user_id
                    AND b.es >= a.es AND b.es <= a.es + 600.0)
""",
    "early_exceeding": """
WITH t0 AS (SELECT min(epoch_us(ts)/1000000.0) AS t0 FROM events),
evw AS (SELECT event_id, event_type, epoch_us(ts)/1000000.0 AS es,
               CAST(floor((epoch_us(ts)/1000000.0 - t0)/600.0) AS BIGINT) AS w
        FROM events CROSS JOIN t0),
c AS (SELECT event_type, w, count(*) AS cnt FROM evw GROUP BY 1, 2),
k AS (SELECT event_type, min(w) AS w0 FROM c GROUP BY 1),
g AS (SELECT max(w) AS wm FROM c),
spine AS (SELECT k.event_type, gs.w FROM k
          CROSS JOIN (SELECT unnest(generate_series(0, (SELECT wm FROM g))) AS w) gs
          WHERE gs.w >= k.w0),
sp AS (SELECT s.event_type, s.w, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
       FROM spine s LEFT JOIN c ON c.event_type = s.event_type AND c.w = s.w),
bnd AS (SELECT event_type, w, cnt,
               avg(cnt) OVER win AS mean,
               stddev_pop(cnt) OVER win AS std,
               count(cnt) OVER win AS n_hist
        FROM sp
        WINDOW win AS (PARTITION BY event_type ORDER BY w
                       ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)),
ub AS (SELECT event_type, w,
              mean + (CASE WHEN n_hist <= 1 THEN mean * (1 - 0.51) ELSE std END)/0.51 AS upper
       FROM bnd WHERE n_hist >= 1),
cum AS (SELECT event_id, event_type, w, es,
               count(*) OVER (PARTITION BY event_type, w ORDER BY es, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rc
        FROM evw),
crossed AS (SELECT cum.*, row_number() OVER (PARTITION BY cum.event_type, cum.w
                                             ORDER BY es, event_id) AS rn
            FROM cum JOIN ub ON ub.event_type = cum.event_type AND ub.w = cum.w
            WHERE rc > ub.upper)
SELECT event_type, w, event_id, CAST(rc AS BIGINT) AS running_cnt
FROM crossed WHERE rn = 1
""",
    "freq_seasonal": """
WITH t0 AS (SELECT min(epoch_us(ts)/1000000.0) AS t0 FROM events),
c AS (SELECT event_type, CAST(floor((epoch_us(ts)/1000000.0 - t0)/600.0) AS BIGINT) AS w,
             count(*) AS cnt
      FROM events CROSS JOIN t0 GROUP BY 1, 2),
k AS (SELECT event_type, min(w) AS w0 FROM c GROUP BY 1),
g AS (SELECT max(w) AS wm FROM c),
spine AS (SELECT k.event_type, gs.w, (SELECT wm FROM g) AS wm FROM k
          CROSS JOIN (SELECT unnest(generate_series(0, (SELECT wm FROM g))) AS w) gs
          WHERE gs.w >= k.w0),
sp AS (SELECT s.event_type, s.w, s.wm, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
       FROM spine s LEFT JOIN c ON c.event_type = s.event_type AND c.w = s.w),
d AS (SELECT *,
             cnt - lag(cnt, 3) OVER (PARTITION BY event_type ORDER BY w) AS diff,
             count(cnt) OVER (PARTITION BY event_type ORDER BY w
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS n_hist
      FROM sp),
e AS (SELECT *,
             avg(cnt) OVER hp AS mean_p, stddev_pop(cnt) OVER hp AS std_p,
             count(cnt) OVER hp AS n_p,
             avg(diff) OVER hd AS mean_d, stddev_pop(diff) OVER hd AS std_d,
             count(diff) OVER hd AS n_d,
             avg(cnt) OVER hs AS soff
      FROM d
      WINDOW hp AS (PARTITION BY event_type ORDER BY w
                    ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING),
             hd AS (PARTITION BY event_type ORDER BY w
                    ROWS BETWEEN 8 PRECEDING AND 2 PRECEDING),
             hs AS (PARTITION BY event_type, w % 3 ORDER BY w
                    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)),
f AS (SELECT *, (least(n_hist + 1, 12) > 5) AS seas FROM e),
h AS (SELECT *,
             CASE WHEN seas THEN mean_d ELSE mean_p END AS mean,
             CASE WHEN (CASE WHEN seas THEN n_d ELSE n_p END) > 1
                  THEN CASE WHEN seas THEN std_d ELSE std_p END
                  ELSE mean_p * (1 - 0.51) END AS s,
             CASE WHEN seas THEN soff ELSE 0.0 END AS off
      FROM f)
SELECT event_type, w, CAST(cnt AS BIGINT) AS cnt,
       round(mean + off - s/0.51, 6) AS lower,
       round(mean + off + s/0.51, 6) AS upper
FROM h
WHERE w < wm AND n_hist >= 1
  AND (cnt < mean + off - s/0.51 OR cnt > mean + off + s/0.51)
""",
    "ks_drift": """
WITH thr AS (SELECT max(event_id)/2.0 AS t FROM events),
u AS (SELECT event_type, value AS v,
             CASE WHEN event_id < t THEN 0 ELSE 1 END AS s
      FROM events, thr WHERE value IS NOT NULL),
c AS (SELECT event_type,
             sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS nb
      FROM u GROUP BY 1),
st AS (SELECT event_type, v,
              sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) OVER w AS ca,
              sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) OVER w AS cb
       FROM u
       WINDOW w AS (PARTITION BY event_type ORDER BY v, s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
tied AS (SELECT event_type, v,
                max(ca) OVER (PARTITION BY event_type, v) AS ca,
                max(cb) OVER (PARTITION BY event_type, v) AS cb
         FROM st)
SELECT t.event_type, round(max(abs(t.ca * 1.0 / c.na - t.cb * 1.0 / c.nb)), 6) AS ks
FROM tied t JOIN c ON t.event_type = c.event_type
GROUP BY t.event_type
""",
    "chi2_pairs": _chi2_pairs_oracle(),
    "var_corr_validate": _var_corr_validate_oracle(),
    "variable_types": """
WITH agg AS (
  SELECT event_type AS grp, CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT props) AS BIGINT) AS n_distinct,
         round(avg(CASE WHEN props IS NULL THEN 1.0 ELSE 0.0 END), 6) AS null_rate,
         avg(CASE WHEN try_cast(props AS DOUBLE) IS NOT NULL THEN 1.0 ELSE 0.0 END) AS numeric_rate
  FROM events GROUP BY 1)
SELECT grp,
       CASE WHEN n_distinct <= 1 THEN 'static'
            WHEN n_distinct <= 20 THEN 'discrete'
            WHEN numeric_rate > 0.99 THEN 'continuous'
            ELSE 'other' END AS var_type,
       n, n_distinct, null_rate
FROM agg
""",
    "monotonic_adjust": """
WITH s AS (SELECT event_id, epoch_us(ts) AS us,
                  lag(epoch_us(ts)) OVER (ORDER BY event_id) AS prev_us,
                  max(epoch_us(ts)) OVER (ORDER BY event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_max
           FROM events)
SELECT event_id,
       round(run_max / 1000000.0, 6) AS ts_adj,
       CAST(CASE WHEN prev_us IS NOT NULL AND us < prev_us THEN 1 ELSE 0 END AS BIGINT) AS backward
FROM s
""",
    "parser_count": """
SELECT event_type, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1
""",
    "hour_histogram": """
SELECT event_type,
       CAST(floor(((epoch_us(ts)/1000000.0) % 86400.0) / 3600.0) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS cnt
FROM events GROUP BY 1, 2
""",
    "avg_change": """
WITH t0 AS (SELECT min(epoch_us(ts)/1000000.0) AS t0 FROM events),
pb AS (SELECT event_type,
              CAST(floor((epoch_us(ts)/1000000.0 - t0) / 21600.0) AS BIGINT) AS bin,
              avg(value) AS mean, count(*) AS n
       FROM events CROSS JOIN t0 GROUP BY 1, 2),
h AS (SELECT event_type, bin, mean,
             avg(mean) OVER win AS hist_mean,
             stddev_pop(mean) OVER win AS hist_std,
             count(mean) OVER win AS n_hist
      FROM pb
      WINDOW win AS (PARTITION BY event_type ORDER BY bin
                     ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
SELECT event_type, bin, round(mean, 6) AS mean,
       (n_hist >= 2 AND abs(mean - hist_mean) > 2.0 * hist_std) AS changed
FROM h
""",
    "rule_violations": """
SELECT 'match_filter' AS rule, event_id, event_type FROM events
WHERE event_type IN ('error', 'click') AND value BETWEEN 10.0 AND 50.0
UNION ALL
SELECT 'allowlist' AS rule, event_id, event_type FROM events
WHERE NOT (event_type = 'click' OR event_type = 'view'
           OR (event_type = 'purchase' AND value BETWEEN 0 AND 1000))
""",
    "time_intervals": """
WITH thr AS (SELECT max(event_id)/50.0 AS t FROM events),
b AS (SELECT event_id,
             CAST(floor(((epoch_us(ts)/1000000.0) % 86400.0) / 3600.0) AS BIGINT) AS tod_bucket,
             event_type
      FROM events),
base AS (SELECT DISTINCT event_type, tod_bucket FROM b, thr WHERE event_id < t)
SELECT DISTINCT c.event_type, c.tod_bucket FROM b c, thr
WHERE c.event_id >= t AND NOT EXISTS (
  SELECT 1 FROM base x WHERE x.event_type = c.event_type AND x.tod_bucket = c.tod_bucket)
""",
    "count_cluster": """
WITH t0 AS (SELECT min(epoch_us(ts)/1000000.0) AS t0 FROM events),
cv AS (SELECT user_id,
              CAST(floor((epoch_us(ts)/1000000.0 - t0) / 86400.0) AS BIGINT) AS w,
              event_type, count(*) AS cnt
       FROM events CROSS JOIN t0 GROUP BY 1, 2, 3),
base AS (SELECT user_id, event_type, cnt FROM cv WHERE w = 0),
cur AS (SELECT * FROM cv WHERE w > 0),
wins AS (SELECT DISTINCT user_id, w FROM cur),
base_w AS (SELECT b.user_id, w.w, b.event_type, b.cnt AS b
           FROM base b JOIN wins w ON b.user_id = w.user_id),
j AS (SELECT coalesce(c.user_id, bw.user_id) AS user_id,
             coalesce(c.w, bw.w) AS w,
             coalesce(c.cnt, 0) AS c, coalesce(bw.b, 0) AS b
      FROM cur c FULL OUTER JOIN base_w bw
        ON c.user_id = bw.user_id AND c.w = bw.w AND c.event_type = bw.event_type)
SELECT user_id, w, round(sum(abs(c - b)) * 1.0 / sum(c + b), 6) AS dist
FROM j GROUP BY 1, 2
""",
    "min_transition": """
WITH thr AS (SELECT max(event_id)/2.0 AS t FROM events),
tr1 AS (SELECT user_id,
               lag(event_type) OVER w AS from_value, event_type AS to_value,
               epoch_us(ts)/1000000.0 - lag(epoch_us(ts)/1000000.0) OVER w AS dt
        FROM events, thr WHERE event_id < t
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
learned AS (SELECT from_value, to_value, min(dt) AS min_dt FROM tr1
            WHERE from_value IS NOT NULL GROUP BY 1, 2),
tr2 AS (SELECT user_id,
               lag(event_type) OVER w AS from_value, event_type AS to_value,
               epoch_us(ts)/1000000.0 - lag(epoch_us(ts)/1000000.0) OVER w AS dt
        FROM events, thr WHERE event_id >= t
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
SELECT t.user_id, t.from_value, t.to_value, round(t.dt, 6) AS dt
FROM tr2 t JOIN learned l ON t.from_value = l.from_value AND t.to_value = l.to_value
WHERE t.dt < l.min_dt
""",
    "simhash_bits": """
WITH toks AS (SELECT doc_id,
  unnest(string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                                          '\\s+', ' ', 'g')), ' ')) AS tok
  FROM documents),
h AS (SELECT doc_id, md5(tok) AS hh FROM toks),
bits AS (SELECT doc_id, b.bit,
  (strpos('0123456789abcdef', substr(hh, CAST(b.bit // 4 AS INT) + 1, 1)) - 1) AS nib
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bit) b),
c AS (SELECT doc_id, bit,
  CASE WHEN CAST(floor(nib / power(2, bit % 4)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END AS contrib
  FROM bits)
SELECT doc_id, CAST(bit AS INT) AS bit,
       CAST(CASE WHEN sum(contrib) > 0 THEN 1 ELSE 0 END AS INT) AS b
FROM c GROUP BY 1, 2
""",
    "jaccard_pairs": """
WITH toks AS (SELECT doc_id,
  string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                                   '\\s+', ' ', 'g')), ' ') AS t
  FROM documents),
grams AS (SELECT doc_id,
  CASE WHEN len(t) >= 3
       THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
                                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
       ELSE [array_to_string(t, ' ')] END AS g
  FROM toks),
sizes AS (SELECT doc_id, len(g) AS n FROM grams),
ex AS (SELECT doc_id, unnest(g) AS sh FROM grams),
seeded AS (SELECT doc_id, s.seed, md5(CAST(s.seed AS VARCHAR) || ':' || sh) AS h
           FROM ex CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS seed) s),
sig AS (SELECT doc_id, seed, min(h) AS minhash FROM seeded GROUP BY 1, 2),
banded AS (SELECT doc_id, CAST(seed // 4 AS INT) AS band,
                  md5(string_agg(minhash, '|' ORDER BY minhash)) AS bucket
           FROM sig GROUP BY 1, 2),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
         WHERE a.doc_id < b.doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
          FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
          JOIN cand c ON c.id_a = a.doc_id AND c.id_b = b.doc_id
          GROUP BY 1, 2)
SELECT i.id_a, i.id_b,
       round(i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter), 6) AS jaccard
FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a JOIN sizes sb ON sb.doc_id = i.id_b
WHERE i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter) >= 0.2
""",
    "near_dup_cos": """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS le
           FROM embeddings),
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_dot_product(a.le, b.le)
                   / sqrt(list_dot_product(a.le, a.le) * list_dot_product(b.le, b.le)), 9) AS cosine
      FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, round(cosine, 6) AS cosine FROM p WHERE cosine >= 0.45
""",
    "new_values": """
WITH thr AS (SELECT max(event_id)/50.0 AS t FROM events),
base AS (SELECT DISTINCT user_id FROM events, thr WHERE event_id < t)
SELECT DISTINCT user_id FROM events, thr
WHERE event_id >= t AND user_id NOT IN (SELECT user_id FROM base)
""",
    "new_combos": """
WITH thr AS (SELECT max(event_id)/10.0 AS t FROM events),
base AS (SELECT DISTINCT user_id, event_type FROM events, thr WHERE event_id < t)
SELECT DISTINCT e.user_id, e.event_type FROM events e, thr
WHERE e.event_id >= t AND NOT EXISTS (
  SELECT 1 FROM base b WHERE b.user_id = e.user_id AND b.event_type = e.event_type)
""",
    "value_range": """
WITH thr AS (SELECT max(event_id)/2.0 AS t FROM events),
r AS (SELECT event_type, min(value) AS mn, max(value) AS mx
      FROM events, thr WHERE event_id < t GROUP BY event_type)
SELECT e.event_id, e.event_type, e.value
FROM events e CROSS JOIN thr JOIN r ON e.event_type = r.event_type
WHERE e.event_id >= thr.t AND (e.value < r.mn OR e.value > r.mx)
""",
    "freq_counts": """
WITH t0 AS (SELECT min(epoch_us(ts)/1000000.0) AS t0 FROM events),
c AS (SELECT event_type, CAST(floor((epoch_us(ts)/1000000.0 - t0)/600.0) AS BIGINT) AS w,
             count(*) AS cnt
      FROM events CROSS JOIN t0 GROUP BY 1, 2),
k AS (SELECT event_type, min(w) AS w0 FROM c GROUP BY 1),
g AS (SELECT max(w) AS wm FROM c),
spine AS (SELECT k.event_type, gs.w FROM k CROSS JOIN g
          CROSS JOIN (SELECT unnest(generate_series(0, (SELECT wm FROM g))) AS w) gs
          WHERE gs.w >= k.w0)
SELECT s.event_type, s.w, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
FROM spine s LEFT JOIN c ON c.event_type = s.event_type AND c.w = s.w
""",
    "freq_bands": """
WITH t0 AS (SELECT min(epoch_us(ts)/1000000.0) AS t0 FROM events),
c AS (SELECT event_type, CAST(floor((epoch_us(ts)/1000000.0 - t0)/600.0) AS BIGINT) AS w,
             count(*) AS cnt
      FROM events CROSS JOIN t0 GROUP BY 1, 2),
k AS (SELECT event_type, min(w) AS w0 FROM c GROUP BY 1),
g AS (SELECT max(w) AS wm FROM c),
spine AS (SELECT k.event_type, gs.w, (SELECT wm FROM g) AS wm FROM k
          CROSS JOIN (SELECT unnest(generate_series(0, (SELECT wm FROM g))) AS w) gs
          WHERE gs.w >= k.w0),
sp AS (SELECT s.event_type, s.w, s.wm, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
       FROM spine s LEFT JOIN c ON c.event_type = s.event_type AND c.w = s.w),
b AS (SELECT event_type, w, wm, cnt,
             avg(cnt) OVER win AS mean,
             stddev_pop(cnt) OVER win AS std,
             count(cnt) OVER win AS n_hist
      FROM sp
      WINDOW win AS (PARTITION BY event_type ORDER BY w
                     ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)),
f AS (SELECT *, CASE WHEN n_hist <= 1 THEN mean * (1 - 0.51) ELSE std END AS s FROM b),
-- skipped-window rule (reference reset_counter :340-348): a window with no
-- atoms of ANY event type is never band-checked, only appended to history
act AS (SELECT w FROM sp GROUP BY w HAVING sum(cnt) > 0)
SELECT event_type, w, cnt,
       round(mean - s/0.51, 6) AS lower, round(mean + s/0.51, 6) AS upper
FROM f
WHERE w < wm AND n_hist >= 1 AND w IN (SELECT w FROM act)
  AND (cnt < mean - s/0.51 OR cnt > mean + s/0.51)
""",
    "freq_unique": """
WITH t0 AS (SELECT min(epoch_us(ts)/1000000.0) AS t0 FROM events),
c AS (SELECT event_type,
             CAST(floor((epoch_us(ts)/1000000.0 - t0)/3600.0) AS BIGINT) AS w,
             count(DISTINCT user_id) AS cnt
      FROM events CROSS JOIN t0 GROUP BY 1, 2),
k AS (SELECT event_type, min(w) AS w0 FROM c GROUP BY 1),
g AS (SELECT max(w) AS wm FROM c),
spine AS (SELECT k.event_type, gs.w FROM k CROSS JOIN g
          CROSS JOIN (SELECT unnest(generate_series(0, (SELECT wm FROM g))) AS w) gs
          WHERE gs.w >= k.w0)
SELECT s.event_type, s.w, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
FROM spine s LEFT JOIN c ON c.event_type = s.event_type AND c.w = s.w
""",
    "sliding_freq": """
WITH s AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                        RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS sliding_cnt
  FROM events)
SELECT user_id, ts_us, CAST(sliding_cnt AS BIGINT) AS sliding_cnt
FROM s WHERE sliding_cnt > 2
""",
    "seq_ngrams": """
WITH thr AS (SELECT max(event_id)/2.0 AS t FROM events),
g1 AS (SELECT user_id, event_id,
              lag(event_type, 2) OVER w AS g1, lag(event_type, 1) OVER w AS g2,
              event_type AS g3
       FROM events, thr WHERE event_id < t
       WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
g2 AS (SELECT user_id, event_id,
              lag(event_type, 2) OVER w AS g1, lag(event_type, 1) OVER w AS g2,
              event_type AS g3
       FROM events, thr WHERE event_id >= t
       WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
base AS (SELECT DISTINCT user_id, g1, g2, g3 FROM g1 WHERE g1 IS NOT NULL)
SELECT DISTINCT c.user_id, c.g1, c.g2, c.g3 FROM g2 c
WHERE c.g1 IS NOT NULL AND NOT EXISTS (
  SELECT 1 FROM base b
  WHERE b.user_id = c.user_id AND b.g1 = c.g1 AND b.g2 = c.g2 AND b.g3 = c.g3)
""",
    "missing_values": """
WITH m AS (SELECT max(epoch_us(ts)) AS mt FROM events)
SELECT user_id, round(max(epoch_us(ts))/1000000.0, 6) AS last_seen
FROM events CROSS JOIN m
GROUP BY user_id, mt
HAVING max(epoch_us(ts)) < mt - 172800000000
""",
    "charset_new": """
WITH thr AS (SELECT max(doc_id)/50.0 AS t FROM documents),
c AS (SELECT doc_id, lang, unnest(regexp_extract_all(text, '(?s).')) AS ch FROM documents),
base AS (SELECT DISTINCT lang, ch FROM c, thr WHERE doc_id < t)
SELECT DISTINCT c.lang, c.ch FROM c, thr
WHERE c.doc_id >= t AND NOT EXISTS (
  SELECT 1 FROM base b WHERE b.lang = c.lang AND b.ch = c.ch)
""",
    "entropy_score": """
WITH hx AS (SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS nb
            FROM documents),
pairs AS (
  -- UTF-8 BYTE bigrams (the engine iterates bytes 0-255 like the
  -- reference, NOT codepoints): byte i = hex chunk [2i+1, 2i+2]
  SELECT d.doc_id,
         CASE WHEN t.i = 0 THEN 256
              ELSE ('0x' || substr(d.h, (t.i - 1) * 2 + 1, 2))::INT END AS first,
         CASE WHEN t.i = d.nb THEN 256
              ELSE ('0x' || substr(d.h, t.i * 2 + 1, 2))::INT END AS second
  FROM hx d, (SELECT unnest(generate_series(0, (SELECT max(nb) FROM hx))) AS i) t
  WHERE t.i <= d.nb),
freq AS (SELECT first, second, count(*) AS cnt FROM pairs GROUP BY 1, 2),
tot AS (SELECT first, sum(cnt) AS total FROM freq GROUP BY 1)
SELECT p.doc_id, round(avg(coalesce(f.cnt * 1.0 / t.total, 0.0)), 6) AS cv
FROM pairs p
LEFT JOIN freq f ON p.first = f.first AND p.second = f.second
LEFT JOIN tot t ON p.first = t.first
GROUP BY p.doc_id
""",
    "uniqueness": """
SELECT l_orderkey, CAST(count(*) AS BIGINT) AS cnt
FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1
""",
    "referential": """
SELECT DISTINCT user_id FROM events e
WHERE user_id IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = e.user_id AND c.c_custkey % 10 != 7)
""",
    "column_stats": """
SELECT 'value' AS column, CAST(count(*) AS BIGINT) AS n_rows,
       round(avg(CASE WHEN value IS NULL THEN 1.0 ELSE 0.0 END), 9) AS null_rate,
       CAST(count(DISTINCT value) AS BIGINT) AS n_distinct,
       round(min(value), 6) AS min, round(max(value), 6) AS max,
       round(quantile_cont(value, 0.5), 6) AS median
FROM events
UNION ALL
SELECT 'user_id', CAST(count(*) AS BIGINT),
       round(avg(CASE WHEN user_id IS NULL THEN 1.0 ELSE 0.0 END), 9),
       CAST(count(DISTINCT user_id) AS BIGINT),
       round(CAST(min(user_id) AS DOUBLE), 6), round(CAST(max(user_id) AS DOUBLE), 6),
       round(quantile_cont(CAST(user_id AS DOUBLE), 0.5), 6)
FROM events
""",
    "drift_psi": """
WITH thr AS (SELECT max(event_id)/2.0 AS t FROM events),
mm AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
b AS (SELECT event_type, CASE WHEN event_id < t THEN 0 ELSE 1 END AS half,
             CAST(least(greatest(floor((value - lo) / ((hi - lo) / 10.0)), 0), 9) AS BIGINT) AS bucket
      FROM events CROSS JOIN thr CROSS JOIN mm WHERE value IS NOT NULL),
h AS (SELECT event_type, half, bucket, count(*) AS cnt FROM b GROUP BY 1, 2, 3),
j AS (SELECT coalesce(c.event_type, bs.event_type) AS event_type,
             coalesce(c.bucket, bs.bucket) AS bucket,
             coalesce(c.cnt, 0) AS c_cnt, coalesce(bs.cnt, 0) AS b_cnt
      FROM (SELECT * FROM h WHERE half = 1) c
      FULL OUTER JOIN (SELECT * FROM h WHERE half = 0) bs
        ON c.event_type = bs.event_type AND c.bucket = bs.bucket),
tot AS (SELECT event_type, sum(c_cnt) AS ct, sum(b_cnt) AS bt FROM j GROUP BY 1)
SELECT j.event_type,
       round(sum(((c_cnt * 1.0 / ct + 0.000001) - (b_cnt * 1.0 / bt + 0.000001))
                 * ln((c_cnt * 1.0 / ct + 0.000001) / (b_cnt * 1.0 / bt + 0.000001))), 6) AS psi,
       round(sum((c_cnt * 1.0 / ct + 0.000001)
                 * ln((c_cnt * 1.0 / ct + 0.000001) / (b_cnt * 1.0 / bt + 0.000001))), 6) AS kl
FROM j JOIN tot ON j.event_type = tot.event_type
GROUP BY j.event_type
""",
    "dedup_exact": """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 20 = 0),
n AS (SELECT doc_id,
  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                          '\\s+', ' ', 'g'))) AS text_hash
  FROM corpus)
SELECT text_hash, CAST(count(*) AS BIGINT) AS cnt
FROM n GROUP BY 1 HAVING count(*) > 1
""",
    "text_metrics": """
WITH lang AS (
  SELECT doc_id, score_de, score_en, score_fr,
    CASE greatest(round(de / n, 9), round(en / n, 9), round(fr / n, 9))
      WHEN round(de / n, 9) THEN 'de'
      WHEN round(en / n, 9) THEN 'en'
      ELSE 'fr' END AS lang_pred
  FROM (SELECT doc_id, n, de, en, fr,
          round(de / n, 6) AS score_de, round(en / n, 6) AS score_en,
          round(fr / n, 6) AS score_fr
        FROM (SELECT doc_id,
                greatest(len(toks), 1) * 1.0 AS n,
                len(list_filter(toks, x -> x IN ('der','die','und','das','ist','nicht','mit','ein'))) AS de,
                len(list_filter(toks, x -> x IN ('the','and','of','to','in','is','that','with'))) AS en,
                len(list_filter(toks, x -> x IN ('le','la','les','et','est','dans','pour','que'))) AS fr
              FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
                    FROM documents)))),
fp AS (
  SELECT d.doc_id,
         CAST(sum(ord(substr(d.text, t.i, 1)) * t.i) % 1000000007 AS BIGINT) AS fp
  FROM documents d,
       (SELECT unnest(generate_series(1, (SELECT max(length(text)) FROM documents))) AS i) t
  WHERE t.i <= length(d.text)
  GROUP BY d.doc_id)
SELECT d.doc_id,
  CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe,
  round(CASE WHEN length(text) > 0
    THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text)
    ELSE 0.0 END, 6) AS alpha_ratio,
  round(CASE WHEN length(text) > 0
    THEN length(regexp_replace(text, '[^ \\t\\n]', '', 'g')) * 1.0 / length(text)
    ELSE 0.0 END, 6) AS space_ratio,
  round(CASE WHEN len(regexp_extract_all(lower(text), '[a-z]+')) > 0
    THEN len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
         x -> x IN ('the','and','of','to','in','is','that','with'))) * 1.0
         / len(regexp_extract_all(lower(text), '[a-z]+'))
    ELSE 0.0 END, 6) AS stopword_ratio,
  CAST(coalesce(fp.fp, 0) AS BIGINT) AS fp,
  lang.score_de, lang.score_en, lang.score_fr, lang.lang_pred
FROM documents d
LEFT JOIN fp ON d.doc_id = fp.doc_id
JOIN lang ON d.doc_id = lang.doc_id
""",
    "ann_topk": """
WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
           FROM embeddings WHERE vec_id = 0),
s AS (SELECT vec_id,
             round(list_dot_product(le, qe)
                   / sqrt(list_dot_product(le, le) * list_dot_product(qe, qe)), 9) AS cosine
      FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS le
            FROM embeddings) e CROSS JOIN q),
r AS (SELECT vec_id, cosine, row_number() OVER (ORDER BY cosine DESC, vec_id) AS rank FROM s)
SELECT vec_id, round(cosine, 6) AS cosine, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 10
""",
    # Full LSH replication: the hyperplanes come from a deterministic LCG
    # (similarity.make_planes) whose 64-bit modular arithmetic DuckDB can
    # run exactly in HUGEINT, and DuckDB's double division matches
    # Python's bit-for-bit — so the SAME planes, signatures, probe
    # set, and cosine re-rank fall out and the banded candidate set is
    # certified end-to-end (not just the re-rank).
    "ann_lsh": """
WITH RECURSIVE lcg(i, state) AS (
  SELECT 0, CAST(42 AS HUGEINT)
  UNION ALL
  SELECT i+1, (state * 6364136223846793005::HUGEINT + 1442695040888963407::HUGEINT)
              % 9223372036854775808::HUGEINT
  FROM lcg WHERE i < 512
),
pl AS (
  SELECT CAST((i-1) // 64 AS INT) AS p, CAST((i-1) % 64 AS INT) AS c,
         (CAST(state AS DOUBLE) / 9223372036854775808.0) * 2.0 - 1.0 AS v
  FROM lcg WHERE i > 0
),
planes AS (SELECT p, list(v ORDER BY c) AS pvec FROM pl GROUP BY p),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS le
      FROM embeddings),
sigs AS (
  SELECT e.vec_id,
         SUM(CASE WHEN list_dot_product(e.le, planes.pvec) >= 0
                  THEN (1 << p) ELSE 0 END) AS sig
  FROM e CROSS JOIN planes GROUP BY e.vec_id
),
qsig AS (SELECT sig AS qs FROM sigs WHERE vec_id = 0),
probes AS (
  SELECT qs AS pr FROM qsig
  UNION ALL
  SELECT xor(qs, (1 << g.g)) FROM qsig, generate_series(0, 7) g(g)
),
q AS (SELECT le AS qe FROM e WHERE vec_id = 0),
cands AS (
  SELECT e.vec_id, e.le FROM e JOIN sigs USING (vec_id)
  WHERE sigs.sig IN (SELECT pr FROM probes)
),
s AS (SELECT vec_id,
             round(list_dot_product(le, qe)
                   / sqrt(list_dot_product(le, le) * list_dot_product(qe, qe)), 9) AS cosine
      FROM cands CROSS JOIN q),
r AS (SELECT vec_id, cosine, row_number() OVER (ORDER BY cosine DESC, vec_id) AS rank FROM s)
SELECT vec_id, round(cosine, 6) AS cosine, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 10
""",
    # Replays IVF assignment / probe / rerank over the codebook the query
    # persisted (training itself is engine-side — offline at scale). Cell
    # score s = v·c − ‖c‖²/2; assignment tie-break = larger cell (Spark's
    # array_max over (s, cell) structs); probe order (s DESC, cell ASC)
    # matches Python's stable sort on −score.
    "ann_ivf": f"""
WITH cb AS (SELECT cell, list_transform(c, x -> CAST(x AS DOUBLE)) AS cv
            FROM '{SUITE_CORPUS_DIR}/ivf_codebook.parquet/*.parquet'),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS le
      FROM embeddings),
q AS (SELECT le AS qe FROM e WHERE vec_id = 0),
qs AS (SELECT cb.cell,
              list_dot_product(q.qe, cb.cv) - 0.5 * list_dot_product(cb.cv, cb.cv) AS s
       FROM cb, q),
probes AS (SELECT cell FROM qs ORDER BY s DESC, cell ASC LIMIT 3),
sc AS (SELECT e.vec_id, e.le, cb.cell,
              list_dot_product(e.le, cb.cv) - 0.5 * list_dot_product(cb.cv, cb.cv) AS s
       FROM e CROSS JOIN cb),
asg AS (SELECT vec_id, le, cell FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
          FROM sc) WHERE rn = 1),
cands AS (SELECT vec_id, le FROM asg WHERE cell IN (SELECT cell FROM probes)),
s2 AS (SELECT vec_id,
              round(list_dot_product(le, qe)
                    / sqrt(list_dot_product(le, le) * list_dot_product(qe, qe)), 9) AS cosine
       FROM cands CROSS JOIN q),
r AS (SELECT vec_id, cosine, row_number() OVER (ORDER BY cosine DESC, vec_id) AS rank FROM s2)
SELECT vec_id, round(cosine, 6) AS cosine, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 10
""",
    # Relational replica of the suite's verdict counts over the corpus
    # parquet that q_suite_verdicts persists (the query runs first, so the
    # files exist). Contributing suites in this config: uniqueness (one
    # violation per row of a duplicated doc_id), referential (one per span
    # row with a dangling media_ref), new_value (one per distinct
    # (kind, text), attributed to the partition of its first occurrence —
    # partition is a function of ts, so min(ts) decides it deterministically
    # even under (ts, doc_id) ties), entropy (byte-bigram critical value
    # < 0.15 learned from the corpus's distinct texts), and PSI drift vs
    # the short-text baseline — matching the Spark config exactly.
    "suite_verdicts": f"""
WITH docs AS (
  SELECT doc_id, ts, spans,
         CAST(DATE '1970-01-01' + CAST(floor(ts / 86400.0) AS INT) AS VARCHAR) AS part
  FROM '{SUITE_CORPUS_DIR}/documents.parquet/*.parquet'
),
media AS (SELECT media_id FROM '{SUITE_CORPUS_DIR}/media.parquet/*.parquet'),
flat AS (
  SELECT doc_id, ts, part, s.kind AS kind, s.text AS text, s.media_ref AS media_ref
  FROM (SELECT doc_id, ts, part, unnest(spans) AS s FROM docs)
),
dup AS (SELECT doc_id FROM docs GROUP BY doc_id HAVING count(*) > 1),
v_uniq AS (
  SELECT part, count(*) AS n FROM docs JOIN dup USING (doc_id) GROUP BY part
),
dang AS (
  SELECT DISTINCT media_ref FROM flat
  WHERE media_ref IS NOT NULL AND media_ref NOT IN (SELECT media_id FROM media)
),
v_ref AS (
  SELECT part, count(*) AS n FROM flat JOIN dang USING (media_ref) GROUP BY part
),
firsts AS (
  SELECT kind, text, min(ts) AS mts FROM flat WHERE text IS NOT NULL
  GROUP BY kind, text
),
v_new AS (
  SELECT CAST(DATE '1970-01-01' + CAST(floor(mts / 86400.0) AS INT) AS VARCHAR) AS part,
         count(*) AS n
  FROM firsts GROUP BY 1
),
texts AS (SELECT DISTINCT text FROM flat WHERE text IS NOT NULL),
hx AS (SELECT text, hex(encode(text)) AS h, octet_length(encode(text)) AS nb FROM texts),
epairs AS (
  SELECT d.text,
         CASE WHEN t.i = 0 THEN 256
              ELSE ('0x' || substr(d.h, (t.i - 1) * 2 + 1, 2))::INT END AS first,
         CASE WHEN t.i = d.nb THEN 256
              ELSE ('0x' || substr(d.h, t.i * 2 + 1, 2))::INT END AS second
  FROM hx d, (SELECT unnest(generate_series(0, (SELECT max(nb) FROM hx))) AS i) t
  WHERE t.i <= d.nb),
efreq AS (SELECT first, second, count(*) AS cnt FROM epairs GROUP BY 1, 2),
etot AS (SELECT first, sum(cnt) AS total FROM efreq GROUP BY 1),
ecv AS (SELECT p.text, avg(coalesce(f.cnt * 1.0 / t.total, 0.0)) AS cv
        FROM epairs p
        LEFT JOIN efreq f ON p.first = f.first AND p.second = f.second
        LEFT JOIN etot t ON p.first = t.first GROUP BY p.text),
ebad AS (SELECT text FROM ecv WHERE cv < 0.15),
v_ent AS (SELECT part, count(*) AS n FROM flat JOIN ebad USING (text) GROUP BY part),
sl AS (SELECT kind, length(text) AS ln FROM flat
       WHERE text IS NOT NULL
         AND length(text) - length(replace(text, ' ', '')) <= 1),
bh AS (SELECT kind, CAST(least(greatest(floor(ln / 20.0), 0), 9) AS BIGINT) AS bucket,
              count(*) AS cnt FROM sl GROUP BY 1, 2),
cl AS (SELECT kind, length(text) AS ln FROM flat WHERE text IS NOT NULL),
ch AS (SELECT kind, CAST(least(greatest(floor(ln / 20.0), 0), 9) AS BIGINT) AS bucket,
              count(*) AS cnt FROM cl GROUP BY 1, 2),
dj AS (SELECT coalesce(c.kind, b.kind) AS kind, coalesce(c.bucket, b.bucket) AS bucket,
              coalesce(c.cnt, 0) AS c_cnt, coalesce(b.cnt, 0) AS b_cnt
       FROM ch c FULL OUTER JOIN bh b ON c.kind = b.kind AND c.bucket = b.bucket),
dtot AS (SELECT kind, sum(c_cnt) AS ct, sum(b_cnt) AS bt FROM dj GROUP BY 1),
dpsi AS (SELECT dj.kind,
                -- coalesce/nullif mirrors Spark psi_kl's zero-total guard:
                -- a kind absent from one histogram reads as share 0
                -- (EPS-smoothed maximal drift), not NULL psi
                sum(((coalesce(c_cnt * 1.0 / nullif(ct, 0), 0.0) + 0.000001)
                     - (coalesce(b_cnt * 1.0 / nullif(bt, 0), 0.0) + 0.000001))
                    * ln((coalesce(c_cnt * 1.0 / nullif(ct, 0), 0.0) + 0.000001)
                         / (coalesce(b_cnt * 1.0 / nullif(bt, 0), 0.0) + 0.000001))) AS psi
         FROM dj JOIN dtot USING (kind) GROUP BY 1),
dfail AS (SELECT kind FROM dpsi WHERE psi > 0.2),
parts AS (SELECT DISTINCT part FROM docs),
v_drift AS (SELECT p.part, count(*) AS n FROM parts p CROSS JOIN dfail GROUP BY 1),
allv AS (
  SELECT part, 'uniqueness' AS suite, n FROM v_uniq
  UNION ALL SELECT part, 'referential', n FROM v_ref
  UNION ALL SELECT part, 'new_value', n FROM v_new
  UNION ALL SELECT part, 'entropy', n FROM v_ent
  UNION ALL SELECT part, 'drift', n FROM v_drift
)
SELECT p.part AS partition, a.suite AS suite,
       CAST(coalesce(a.n, 0) AS BIGINT) AS n_violations,
       coalesce(a.n, 0) = 0 AS pass
FROM parts p LEFT JOIN allv a USING (part)
""",
}
