"""End-to-end validation-suite test on synthesized documents (datagen)."""

from __future__ import annotations

import importlib.util
import sys
import tempfile
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from logdata_anomaly_miner_spark.constraints.schema_checks import offsets_not_increasing
from logdata_anomaly_miner_spark.constraints.suite import SuiteConfig, run_suite
from logdata_anomaly_miner_spark.datagen import explode_spans, gen_documents, gen_media
from logdata_anomaly_miner_spark.plans.checkpoint import CheckpointManifest


def test_datagen_shape(spark):
    docs = gen_documents(spark, n_docs=500, dup_rate=0.02, dangling_rate=0.05)
    assert docs.columns == ["doc_id", "ts", "spans"]
    flat = explode_spans(docs)
    assert flat.columns == ["doc_id", "ts", "ord", "kind", "text", "media_ref", "offset"]
    # deterministic: same seed -> same data
    again = gen_documents(spark, n_docs=500, dup_rate=0.02, dangling_rate=0.05)
    assert docs.exceptAll(again).count() == 0 and again.exceptAll(docs).count() == 0
    # offsets strictly increasing within each doc (generator invariant)
    assert docs.filter(offsets_not_increasing(F.col("spans"))).count() == 0
    # planted non-monotonic offsets are caught
    broken = spark.createDataFrame(
        [("d1", 1.0, [("text", "a", None, 5), ("text", "b", None, 3)])],
        "doc_id string, ts double, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    assert broken.filter(offsets_not_increasing(F.col("spans"))).count() == 1


def test_suite_schema_violations_on_planted_corpus(spark):
    """The suite's schema checks on a corpus with every violation class
    planted (unknown kind, null kind, null offset, media_ref on a text kind,
    non-monotonic offsets): exact counts per message, and the doc-level
    offset violation carries no span fields."""
    docs = spark.createDataFrame(
        [
            ("d1", 100.0, [("text", "ok", None, 0), ("blob", "x", None, 5)]),
            ("d2", 200.0, [(None, "y", None, 0), ("text", "z", None, None)]),
            ("d3", 300.0, [("text", "m", "media-1", 0)]),
            ("d4", 400.0, [("text", "a", None, 5), ("text", "b", None, 3)]),
            ("d5", 500.0, [("image", None, "media-9", 0)]),
        ],
        "doc_id string, ts double, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    media = gen_media(spark, 10)
    res = run_suite(spark, docs, media, SuiteConfig(entropy_prob_thresh=0.0))
    schema = res.violations.filter("suite = 'schema'")
    got = {
        r["message"]: r["n"]
        for r in schema.groupBy("message").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == {
        "Unknown span kind": 1,            # blob
        "Required field null": 2,          # null kind + null offset
        "Offset not increasing": 1,        # d4
        "media_ref on non-media kind": 1,  # d3
    }
    [doc_row] = schema.filter("message = 'Offset not increasing'").collect()
    assert doc_row["doc_id"] == "d4"
    assert (doc_row["kind"], doc_row["value"], doc_row["media_ref"]) == (None, None, None)


def test_suite_finds_planted_violations(spark):
    docs = gen_documents(spark, n_docs=1000, dup_rate=0.02, dangling_rate=0.1)
    media = gen_media(spark, 1000)
    res = run_suite(spark, docs, media, SuiteConfig(entropy_prob_thresh=0.0))
    by_suite = {
        r["suite"]: r["n"]
        for r in res.violations.groupBy("suite").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_suite.get("uniqueness", 0) > 0      # planted dup doc_ids
    assert by_suite.get("referential", 0) > 0     # planted dangling media_refs
    assert by_suite.get("new_value", 0) > 0       # learn-from-scratch: all new
    assert "schema" not in by_suite               # generator respects schema
    verd = res.verdicts.collect()
    assert len(verd) > 0
    assert res.metrics["rows_scanned"] == 1000
    assert res.metrics["violations"] > 0


def test_suite_with_baselines_quiet(spark):
    """Second run with baselines learned from the same data: novelty silent."""
    docs = gen_documents(spark, n_docs=500, dup_rate=0.0, dangling_rate=0.0)
    media = gen_media(spark, 1000)
    flat = explode_spans(docs)
    known = flat.select("kind", "text").dropDuplicates()
    res = run_suite(
        spark, docs, media,
        SuiteConfig(known_kind_text=known, entropy_prob_thresh=0.0),
    )
    by_suite = {
        r["suite"]: r["n"]
        for r in res.violations.groupBy("suite").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_suite == {}  # no dups, no dangling, known values, entropy off
    assert res.verdicts.filter("pass = false").count() == 0


def test_suite_drift_verdict_attribution(spark):
    """A snapshot-level drift failure must land in per-partition verdicts."""
    docs = gen_documents(spark, n_docs=500, dup_rate=0.0, dangling_rate=0.0)
    media = gen_media(spark, 1000)
    flat = explode_spans(docs)
    known = flat.select("kind", "text").dropDuplicates()
    # baseline histogram wildly different from actual text lengths -> PSI fail
    kinds = [r["kind"] for r in flat.select("kind").distinct().collect()]
    baseline_hist = spark.createDataFrame(
        [(k, 9, 1000) for k in kinds], "kind string, bucket long, cnt long"
    )

    res = run_suite(
        spark, docs, media,
        SuiteConfig(known_kind_text=known, entropy_prob_thresh=0.0,
                    baseline_hist=baseline_hist),
    )
    drift_verdicts = res.verdicts.filter("suite = 'drift'").collect()
    assert len(drift_verdicts) > 0
    assert all(not r["pass"] for r in drift_verdicts)
    assert all(r["partition"] is not None for r in drift_verdicts)


def test_checkpoint_manifest(spark):
    # a Hadoop URI (file://, hdfs://, s3a://) reads back as a plain path does
    for scheme in ("", "file://"):
        with tempfile.TemporaryDirectory() as d:
            m = CheckpointManifest(spark, f"{scheme}{d}/manifest")
            assert m.committed_partitions(1) == set()
            m.commit(1, "2023-11-14", rows_scanned=100, violations=2, wall_time_s=1.5)
            m.commit(1, "2023-11-15", rows_scanned=50, violations=0, wall_time_s=0.7)
            m.commit(2, "2023-11-14", rows_scanned=10, violations=0, wall_time_s=0.1)
            assert m.committed_partitions(1) == {"2023-11-14", "2023-11-15"}
            assert m.committed_partitions(2) == {"2023-11-14"}
            df = m.read()
            assert df.count() == 3
            assert df.filter("snapshot_id = 1").agg(F.sum("rows_scanned")).collect()[0][0] == 150


def test_suite_lifecycle_freeze_and_ignore(spark):
    """Suite-spec lifecycle wiring: stop_learning_no_anomaly_time freezes
    the novelty baseline at the first gap, so every later unseen value
    alarms (per occurrence); ignore_kinds screens spans out entirely."""
    from logdata_anomaly_miner_spark.config import to_suite_config, validate_spec

    spec = validate_spec(
        {"suite": {"lifecycle": {"stop_learning_no_anomaly_time": 3600.0,
                                 "ignore_kinds": ["footnote"]}}}
    )
    cfg = to_suite_config(spec)
    assert cfg.stop_learning_no_anomaly_time == 3600.0
    assert cfg.ignore_kinds == ("footnote",)
    docs = gen_documents(spark, n_docs=300, seed=11)
    media = gen_media(spark, 1000)
    res = run_suite(spark, docs, media, cfg)
    base = run_suite(spark, docs, media, None)
    nv_lc = res.violations.filter("suite = 'new_value'").count()
    nv_base = base.violations.filter("suite = 'new_value'").count()
    # the synthetic docs all fall within one dense time range -> no gap ->
    # learning never stops -> same novelty set minus the screened kind
    assert nv_lc <= nv_base


def test_suite_null_spans(spark):
    """A doc whose spans array is null counts as 0 spans: a partition where
    every doc has null spans must not turn ``n_spans`` null (which made the
    metric sum raise a TypeError), alone or next to a partition with spans."""
    schema = (
        "doc_id string, ts double, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    media = gen_media(spark, 10)
    cfg = SuiteConfig(entropy_prob_thresh=0.0)
    one = spark.createDataFrame([("d1", 100.0, None)], schema)
    res = run_suite(spark, one, media, cfg)
    assert res.metrics["rows_scanned"] == 1
    assert res.metrics["spans_scanned"] == 0
    assert [(r["partition"], r["n_spans"]) for r in res.verdicts.collect()] == [
        ("1970-01-01", 0)
    ]

    two = spark.createDataFrame(
        [
            ("d1", 100.0, None),
            ("d2", 200.0, None),
            ("d3", 86_400.0 * 2, [("text", "a", None, 0), ("text", "b", None, 1)]),
        ],
        schema,
    )
    res = run_suite(spark, two, media, cfg)
    assert res.metrics["rows_scanned"] == 3
    assert res.metrics["spans_scanned"] == 2
    spans = {r["partition"]: r["n_spans"] for r in res.verdicts.collect()}
    assert spans == {"1970-01-01": 0, "1970-01-03": 2}


def test_suite_warm_calls_reuse_generated_code(spark):
    """Warm run_suite calls reuse the classes generated by the first call:
    one call generates more distinct classes than Spark's default cache of
    100 holds, so without the larger cache that get_spark sets, every warm
    call recompiled dozens of them."""
    compilations = (
        spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    docs = gen_documents(spark, n_docs=300, seed=7)
    media = gen_media(spark, 1000)
    cfg = SuiteConfig(entropy_prob_thresh=0.0001)
    run_suite(spark, docs, media, cfg)
    before = compilations.getCount()
    for _ in range(2):
        run_suite(spark, docs, media, cfg)
    # new compilations over the two warm calls, measured at local[4]: 10
    # with the larger cache, 51-94 at the default of 100
    assert compilations.getCount() - before <= 30


DAY = 86_400.0
MIDNIGHT = DAY * 19_700  # 2023-12-09T00:00Z


@pytest.fixture
def cli(spark, monkeypatch):
    """``scripts/run_validation.py``'s main on this session, in a non-UTC
    session time zone: ``cli(*args)`` runs it and returns the number of
    jobs it ran under its job group ``lams-validate``."""
    from logdata_anomaly_miner_spark import session

    script = Path(__file__).resolve().parents[1] / "scripts" / "run_validation.py"
    mod_spec = importlib.util.spec_from_file_location("run_validation", script)
    mod = importlib.util.module_from_spec(mod_spec)
    mod_spec.loader.exec_module(mod)
    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    sc = spark.sparkContext
    tracker, bus = sc.statusTracker(), sc._jsc.sc().listenerBus()

    def run(*args: str) -> int:
        monkeypatch.setattr(sys, "argv", ["run_validation.py", *args])
        bus.waitUntilEmpty()
        before = set(tracker.getJobIdsForGroup("lams-validate"))
        try:
            assert mod.main() == 0
        finally:
            sc.setJobGroup(None, None)
        bus.waitUntilEmpty()
        return len(set(tracker.getJobIdsForGroup("lams-validate")) - before)

    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    yield run
    spark.conf.set("spark.sql.session.timeZone", tz)


def _cli_input(spark, tmp_path) -> tuple[str, str]:
    """Five UTC days plus a null-ts doc: d2 is on two days, the text "a" is
    on two days, d1/d2 sit either side of UTC midnight, which is one local
    day in a UTC-8 session, and the last day has no violation."""
    span = lambda text: [("text", text, None, 0)]  # noqa: E731
    docs = spark.createDataFrame(
        [
            ("d0", None, span("z")),
            ("d1", MIDNIGHT - 60, span("a")),
            ("d2", MIDNIGHT + 60, span("a")),
            ("d2", MIDNIGHT + DAY, span("b")),
            ("d3", MIDNIGHT + 2 * DAY, [("image", None, "m_missing", 0)]),
            ("d4", MIDNIGHT + 3 * DAY, [("image", None, "m000001", 0)]),
        ],
        "doc_id string, ts double, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    docs.write.parquet(str(tmp_path / "docs"))
    gen_media(spark, 10).write.parquet(str(tmp_path / "media"))
    return str(tmp_path / "docs"), str(tmp_path / "media")


def _suite_on(spark, docs_path: str, media_path: str):
    """One run_suite over the whole table, under the CLI's default spec."""
    from logdata_anomaly_miner_spark.config import load_spec, to_suite_config

    return run_suite(
        spark, spark.read.parquet(docs_path), spark.read.parquet(media_path),
        to_suite_config(load_spec({})),
    )


def _rows(df) -> Counter:
    return Counter(map(tuple, df.collect()))


def _written(spark, out: Path, columns: list[str]) -> Counter:
    got = spark.read.parquet(str(out / "violations"))
    return _rows(got.withColumn("partition", F.col("partition").cast("string")).select(*columns))


def _manifest_files(out: Path) -> list[Path]:
    return list((out / "manifest").glob("*.parquet"))


def test_run_validation_cli_validates_every_row_once(spark, tmp_path, cli):
    """The CLI's violations are one run_suite's over the whole table: the
    doc_id on two days is a duplicate, the text first seen on one day is
    not new on the next, and each partition's manifest row matches its
    verdicts."""
    docs, media = _cli_input(spark, tmp_path)
    out = tmp_path / "out"
    cli("--docs", docs, "--media", media, "--out", str(out))

    res = _suite_on(spark, docs, media)
    want = _rows(res.violations)
    assert _written(spark, out, res.violations.columns) == want
    assert {(r[0], r[2]) for r in want if r[0] in ("uniqueness", "new_value")} == {
        ("uniqueness", "2023-12-09"), ("uniqueness", "2023-12-10"),
        ("new_value", "__no_ts__"), ("new_value", "2023-12-08"),
        ("new_value", "2023-12-10"),
    }

    verdicts: dict = {}
    for r in res.verdicts.collect():
        n_docs, n_viol = verdicts.get(r["partition"], (r["n_docs"], 0))
        verdicts[r["partition"]] = (n_docs, n_viol + r["n_violations"])
    manifest = CheckpointManifest(spark, str(out / "manifest")).read().collect()
    assert len(manifest) == len(verdicts) == 6
    assert {r["partition"]: (r["rows_scanned"], r["violations"]) for r in manifest} == verdicts
    assert len(_manifest_files(out)) == 1  # one commit per run


def test_run_validation_cli_resume_skips_committed_partitions(spark, tmp_path, cli):
    """A resumed run validates the whole table, so the partitions it still
    runs get a fresh run's violations; it writes and commits nothing for a
    committed partition, whose violations directory survives, and deletes
    an earlier run's directory of a partition that now has no violation."""
    docs, media = _cli_input(spark, tmp_path)
    out = tmp_path / "out"
    fresh = _suite_on(spark, docs, media).violations
    first = "2023-12-08"
    kept = out / "violations" / f"partition={first}"
    stale = out / "violations" / "partition=2023-12-12"
    for path in (kept, stale):
        fresh.filter(F.col("partition") == first).drop("partition").write.parquet(str(path))
    listing = {f.name: f.stat().st_mtime_ns for f in kept.iterdir()}
    manifest = CheckpointManifest(spark, str(out / "manifest"))
    manifest.commit(1, first, rows_scanned=-1, violations=-1, wall_time_s=0.0)
    assert len(_manifest_files(out)) == 1

    cli("--docs", docs, "--media", media, "--out", str(out), "--resume")
    assert len(_manifest_files(out)) == 2

    assert {f.name: f.stat().st_mtime_ns for f in kept.iterdir()} == listing
    assert not stale.exists()
    assert _written(spark, out, fresh.columns) == _rows(fresh)
    rows = manifest.read().collect()
    assert [r["rows_scanned"] for r in rows if r["partition"] == first] == [-1]
    assert sorted(r["partition"] for r in rows if r["partition"] != first) == [
        "2023-12-09", "2023-12-10", "2023-12-11", "2023-12-12", "__no_ts__",
    ]


def test_run_validation_cli_jobs_do_not_grow_with_days(spark, tmp_path, cli):
    """The CLI runs one suite plan, one violations write and one manifest
    commit whatever the number of days."""
    media = str(tmp_path / "media")
    gen_media(spark, 1000).write.parquet(media)
    jobs = {}
    for n_days in (1, 4):
        docs = str(tmp_path / f"docs{n_days}")
        gen_documents(spark, n_docs=400, seed=5).withColumn(
            "ts", F.col("ts") + F.pmod(F.floor(F.col("ts") * 10), F.lit(n_days)) * DAY
        ).write.parquet(docs)
        jobs[n_days] = cli("--docs", docs, "--media", media, "--out", str(tmp_path / f"out{n_days}"))
    # measured at local[4]: 28 jobs for either
    assert 0 < jobs[4] <= jobs[1], jobs
