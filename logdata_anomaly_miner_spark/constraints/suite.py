"""The validation suite: every constraint family over one documents table,
one pass, per-partition verdicts + violations + metrics.

This is the engine's "analysis pipeline" ≙ AMiner's AnalysisChild select loop
pushing each atom through every registered detector
(aminer/AnalysisChild.py:298-408) — re-expressed as N DataFrame constraint
programs over ONE exploded-spans view, unioned into a single
violations DataFrame. The fan-out is SubhandlerFilter
(aminer/analysis/AtomFilters.py:18-54) made set-oriented.

Partitioning model: `partition` = UTC day bucket of the document event time
(a natural Iceberg partition spec). Verdicts aggregate violations per
(partition, suite); the suite passes a partition iff it contributed no
violation rows. Checkpointed runs commit per partition (plans/checkpoint.py).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from logdata_anomaly_miner_spark.constraints.drift import histogram, psi_kl
from logdata_anomaly_miner_spark.constraints.referential import dangling_media_refs
from logdata_anomaly_miner_spark.constraints.schema_checks import (
    media_ref_on_non_media_kind,
    offsets_not_increasing,
    required_field_null,
    unknown_kind,
)
from logdata_anomaly_miner_spark.constraints.uniqueness import duplicate_keys_salted
from logdata_anomaly_miner_spark.datagen import KINDS, explode_spans
from logdata_anomaly_miner_spark.operators.entropy import (
    check_entropy,
    learn_bigram_freq,
    score_entropy_pandas,
)
from logdata_anomaly_miner_spark.operators.new_value import check_new_values


@dataclass
class SuiteConfig:
    kind_vocab: tuple[str, ...] = tuple(KINDS)
    entropy_prob_thresh: float = 0.001
    drift_psi_threshold: float = 0.2
    n_hist_buckets: int = 10
    known_kind_text: DataFrame | None = None     # new-value baseline (kind, text)
    entropy_freq: DataFrame | None = None        # bigram baseline (first, second, cnt)
    baseline_hist: DataFrame | None = None       # drift baseline (kind, bucket, cnt)
    text_len_bounds: tuple[float, float] = (0.0, 200.0)
    # learn-mode lifecycle (operators/lifecycle.py): once learning stops,
    # the novelty baseline FREEZES — every later unseen value alarms and
    # nothing is learned from it (reference stop_learning_* semantics)
    stop_learning_time: float | None = None
    stop_learning_no_anomaly_time: float | None = None
    # span kinds screened out of the value checks entirely (ignore_list)
    ignore_kinds: tuple[str, ...] = ()


@dataclass
class SuiteResult:
    violations: DataFrame
    verdicts: DataFrame
    metrics: dict = field(default_factory=dict)


def _viol(df: DataFrame, suite: str, message: str) -> DataFrame:
    """Project any check output onto the unified violation schema."""
    cols = df.columns
    pick = lambda c: F.col(c).cast("string") if c in cols else F.lit(None).cast("string")  # noqa: E731
    return df.select(
        F.lit(suite).alias("suite"),
        F.lit(message).alias("message"),
        (F.col("partition") if "partition" in cols else F.lit(None).cast("string")).alias("partition"),
        pick("doc_id").alias("doc_id"),
        pick("kind").alias("kind"),
        pick("text").alias("value"),
        pick("media_ref").alias("media_ref"),
    )


def utc_day_partition(ts: Column) -> Column:
    """The suite's partition key: the UTC day (``yyyy-MM-dd``) of an epoch
    seconds ``ts``, by pure arithmetic — from_unixtime would use the
    SESSION time zone, making checkpoint partition keys differ between
    clusters configured differently. A null/uncastable ts gets the
    sentinel ``__no_ts__`` so its violations still join the per-partition
    verdicts."""
    return F.coalesce(
        F.date_add(
            F.lit("1970-01-01").cast("date"),
            F.floor(ts.cast("double") / 86400.0).cast("int"),
        ).cast("string"),
        F.lit("__no_ts__"),
    )


def run_suite(
    spark: SparkSession,
    documents: DataFrame,
    media: DataFrame,
    config: SuiteConfig | None = None,
    persist: bool = True,
) -> SuiteResult:
    """Run all constraint suites; returns violations, per-partition verdicts,
    and job metrics.

    Neither ``documents`` nor its exploded view is cached: every check
    re-scans the input with column pruning, which on parquet/Iceberg input
    is cheaper than a cache build (caching is memory-bandwidth-bound and
    does not scale with cores; pruned columnar scans do). A caller whose
    ``documents`` is an expensive upstream computation should ``.persist()``
    it before the call. ``persist`` is accepted for existing callers and
    selects nothing.

    ``violations`` is returned as an uncached plan: every action on it
    recomputes the checks."""
    cfg = config or SuiteConfig()
    t_start = time.time()

    docs = documents.withColumn("partition", utc_day_partition(F.col("ts")))
    # partition rides along through posexplode — no join needed (a join here
    # would shuffle |spans| rows and break under duplicate doc_ids anyway).
    # doc_bad is computed BEFORE the explode, on the intact spans array, and
    # rides along so the merged single-scan check branch below can emit the
    # doc-level violation at ord == 0 without a second pass over the table.
    flat = explode_spans(
        docs.withColumn("doc_bad", offsets_not_increasing(F.col("spans")))
    )

    checks: list[DataFrame] = []

    # 1. uniqueness of doc_id (salted two-phase aggregate). The aggregate
    # loses the partition column, so the (small) duplicate-key set is
    # broadcast back onto the docs to attribute each duplicate ROW to its
    # partition — otherwise these violations fall out of the per-partition
    # verdicts (cross-partition duplicates hit every partition they touch).
    dup_keys = duplicate_keys_salted(docs.select("doc_id"), ["doc_id"])
    dup_rows = docs.select("doc_id", "partition").join(
        F.broadcast(dup_keys), "doc_id", "inner"
    )
    checks.append(
        _viol(
            dup_rows.withColumn("text", F.col("cnt").cast("string")),
            "uniqueness",
            "Duplicate doc_id",
        )
    )

    # 2+3+5-pickup. ONE scan for every per-row check (round 6): the
    # referential pickup, all four schema checks, and the entropy-failure
    # pickup used to be SIX separate branches of the union — six parquet
    # scans each decoding the full nested spans column.
    # The profile is scan-dominated and this host's scaling loss is
    # memory-bandwidth contention (BENCH/NOTES.md), so the row-local checks
    # now evaluate together in one projection over one scan: each span
    # builds a (suite, message, doc_level) failure array, empties drop out
    # via explode. The two set-membership checks (dangling refs, entropy
    # failures) become broadcast LEFT joins with marker columns — both sets
    # are distinct-keyed, so join multiplicity is exactly 1 and the row
    # multiset is identical to the former semi-join branches. A null `when`
    # condition (e.g. an unknown-kind test on a null kind) emits nothing,
    # as a `filter` on the same predicate would drop the row.
    # The dangling-ref SET itself still comes from a separate nested-PRUNED
    # scan (only spans.media_ref read — see dangling_media_refs), which is
    # why it is not folded into this full-decode scan.
    dangling = dangling_media_refs(docs, media)

    # entropy learn/score (former section 5, hoisted: its failing-text set
    # feeds the merged scan): dedup-before-compute — learn and score over
    # DISTINCT texts (|distinct| ≪ |spans| for natural corpora). Learning
    # from distinct values ≙ the reference's skip_repetitions mode
    # (EntropyDetector.py:170-174). texts is the one cached frame: the set
    # is consumed twice (learner collect + scorer pass) and is far smaller
    # than re-scanning + re-deduplicating.
    texts = (
        flat.filter(F.col("text").isNotNull()).select("text").dropDuplicates().persist()
    )
    freq = cfg.entropy_freq
    if freq is None:
        freq, _ = learn_bigram_freq(texts, "text")
    scored_texts = score_entropy_pandas(spark, texts, "text", freq)
    bad_texts = check_entropy(scored_texts, cfg.entropy_prob_thresh).select("text")

    marked = flat.join(
        F.broadcast(dangling.withColumn("_dangling", F.lit(True))),
        "media_ref", "left",
    ).join(
        F.broadcast(bad_texts.withColumn("_bad_text", F.lit(True))),
        "text", "left",
    )
    _f = lambda suite, message, doc_level=False: F.struct(  # noqa: E731
        F.lit(suite).alias("suite"),
        F.lit(message).alias("message"),
        F.lit(doc_level).alias("doc_level"),
    )
    failures = F.filter(
        F.array(
            F.when(F.col("_dangling"), _f("referential", "Dangling media_ref")),
            F.when(unknown_kind(cfg.kind_vocab), _f("schema", "Unknown span kind")),
            F.when(
                required_field_null(["kind", "offset"]),
                _f("schema", "Required field null"),
            ),
            F.when(
                F.col("doc_bad") & (F.col("ord") == 0),
                _f("schema", "Offset not increasing", doc_level=True),
            ),
            F.when(media_ref_on_non_media_kind(), _f("schema", "media_ref on non-media kind")),
            F.when(F.col("_bad_text"), _f("entropy", "Value entropy anomaly detected")),
        ),
        lambda x: x.isNotNull(),
    )
    span_str = lambda c: F.when(  # noqa: E731
        ~F.col("f.doc_level"), F.col(c).cast("string")
    )
    checks.append(
        marked.select(
            "partition", "doc_id", "kind", "text", "media_ref",
            F.explode(failures).alias("f"),
        ).select(
            F.col("f.suite").alias("suite"),
            F.col("f.message").alias("message"),
            F.col("partition"),
            F.col("doc_id").cast("string").alias("doc_id"),
            span_str("kind").alias("kind"),
            span_str("text").alias("value"),
            span_str("media_ref").alias("media_ref"),
        )
    )

    # 4. novelty: first occurrence of unseen (kind, text). Shuffle carries
    # only the violation projection (4 narrow cols), not the full span row.
    nv_src = flat.filter(F.col("text").isNotNull()).select(
        "kind", "text", "ts", "doc_id", "partition"
    )
    if cfg.ignore_kinds:
        nv_src = nv_src.filter(~F.col("kind").isin(list(cfg.ignore_kinds)))
    if cfg.stop_learning_time is not None or cfg.stop_learning_no_anomaly_time is not None:
        from logdata_anomaly_miner_spark.operators.lifecycle import split_learn_check
        from logdata_anomaly_miner_spark.operators.new_value import learn_values

        learn_df, check_df = split_learn_check(
            nv_src, "ts", cfg.stop_learning_time, cfg.stop_learning_no_anomaly_time
        )
        nv1 = check_new_values(
            learn_df, ["kind", "text"], cfg.known_kind_text, order_cols=["ts", "doc_id"]
        )
        learned = learn_values(learn_df, ["kind", "text"], cfg.known_kind_text)
        # learn_mode off: EVERY occurrence of an unlearned value alarms
        # (the reference alarms per atom once learning stopped)
        nv2 = check_df.join(learned, ["kind", "text"], "left_anti")
        nv = nv1.select(*nv_src.columns).unionByName(nv2.select(*nv_src.columns))
    else:
        nv = check_new_values(
            nv_src, ["kind", "text"], cfg.known_kind_text, order_cols=["ts", "doc_id"]
        )
    checks.append(_viol(nv, "new_value", "New value(s) detected"))

    # 6. drift: text-length distribution vs baseline histogram, per kind
    lens = flat.withColumn("text_len", F.length("text").cast("double"))
    lo, hi = cfg.text_len_bounds
    cur_hist = histogram(lens, "text_len", lo, hi, cfg.n_hist_buckets, ["kind"])
    if cfg.baseline_hist is not None:
        drift = psi_kl(cur_hist, cfg.baseline_hist, ["kind"])
        drift_fail = drift.filter(F.col("psi") > cfg.drift_psi_threshold)
        # drift is a snapshot-level verdict: a drifted kind fails every
        # partition in the batch (cross the tiny fail set with partitions)
        drift_rows = drift_fail.crossJoin(
            F.broadcast(docs.select("partition").dropDuplicates())
        )
        checks.append(
            _viol(
                drift_rows.withColumn("text", F.round("psi", 6).cast("string")),
                "drift",
                "Distribution drift (PSI)",
            )
        )

    violations = checks[0]
    for c in checks[1:]:
        violations = violations.unionByName(c)

    # ONE action computes everything: the verdicts aggregation forces the
    # whole violations union, and its (tiny) collected result carries every
    # metric — no separate count() jobs, each of which would re-run Catalyst
    # analysis over the large union plan (a driver-serial cost).
    # size over ONE nested leaf, not the struct array: size(spans) forces a
    # decode of every span field (text included) just to count elements,
    # while size(spans.offset) prunes the ReadSchema to a single int leaf —
    # identical value (guide §6: verify pruning reaches the scan). A null
    # span array counts as 0 spans: size(null) is null, so a partition whose
    # docs all have null spans would otherwise sum to a null n_spans.
    part_counts = docs.groupBy("partition").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.coalesce(F.size(F.col("spans").getField("offset")), F.lit(0))
        ).alias("n_spans"),
    )
    verdicts = (
        part_counts.join(
            violations.groupBy("partition", "suite").agg(
                F.count(F.lit(1)).alias("n_violations")
            ),
            "partition",
            "left",
        )
        .withColumn("suite", F.coalesce("suite", F.lit(None).cast("string")))
        .withColumn("n_violations", F.coalesce("n_violations", F.lit(0)))
        .withColumn("pass", F.col("n_violations") == 0)
    )
    vrows = verdicts.collect()
    if vrows:
        # Arrow ingestion (pandas) instead of a pickled-row local relation:
        # the row path spreads the handful of verdict rows over
        # defaultParallelism slices, and every downstream action then pays
        # one Python-worker round-trip per slice (measured ~5 s per force
        # on local[32]; the Arrow path is ~0.2 s — guide §4.1).
        import pandas as pd

        verdicts = spark.createDataFrame(
            pd.DataFrame([r.asDict() for r in vrows], columns=verdicts.schema.names),
            schema=verdicts.schema,
        )
    parts = {}
    n_viol = 0
    for r in vrows:
        parts[r["partition"]] = (r["n_docs"], r["n_spans"])
        n_viol += r["n_violations"]
    n_docs = sum(v[0] for v in parts.values())
    n_spans = sum(v[1] for v in parts.values())
    wall = time.time() - t_start
    metrics = {
        "rows_scanned": n_docs,
        "spans_scanned": n_spans,
        "violations": n_viol,
        "wall_time_s": round(wall, 3),
        "docs_per_sec": round(n_docs / wall, 1) if wall > 0 else None,
    }
    # the verdict collect is the last action that reads texts — release it
    # here so repeated run_suite calls in one session don't accumulate
    # cached blocks
    texts.unpersist()
    return SuiteResult(violations=violations, verdicts=verdicts, metrics=metrics)
