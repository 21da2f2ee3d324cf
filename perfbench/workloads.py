"""The benchmark's workloads: what one iteration calls, how its outputs are
checked, and the per-layer probes of the modules it exercises.

An iteration returns ``[(call_name, seconds), ...]`` for the program calls
it made. Output checks add to a shared ``Checks``; a failed check or a
call that raises is counted, never fatal.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from perfbench import inputs
from perfbench.procstat import tree_cpu_s

# Detector queries timed by ``queries_sf0.1``: event frequency (the
# flagship), novelty, and exact dedup (functions/dedup). All 50 take ~78 s
# a pass at sf0.1 on 4 cores once warm, and 116 s in a fresh JVM, while a
# run should stay near a minute, so the rest are only in the traced pass.
QUERY_NAMES = ("freq_bands", "new_values", "dedup_exact")
# Scale of the tables of the traced pass over all 50 queries. A pass is
# mostly fixed cost (4 cores, in a warm JVM: ~80 s at sf0.1 and at sf0.01,
# ~60 s at sf0.001), and a traced run must end within three minutes.
ALL_QUERIES_SF = 0.001
# Queries of that pass run three at a time. One at a time, the pass took
# 79-101 s on 4 vCPUs, and a traced run holding it took 157-186 s, past
# three minutes under host load; two at a time, 60-65 s. Each query is
# mostly single-threaded planning and code generation, so they overlap;
# each ``query.<name>.s`` then also holds a share of its neighbours' CPU.
ALL_QUERIES_WORKERS = 3


class Checks:
    """Operations attempted and failed; ``failed`` is the benchmark's
    ``ops_failed``. Safe to use from several threads."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self._lock = threading.Lock()

    def _count(self, ok: bool) -> None:
        with self._lock:
            self.attempted += 1
            self.failed += not ok

    def expect(self, ok: bool, what: str) -> None:
        self._count(ok)
        if not ok:
            print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)

    def call(self, what: str, fn):
        """Run one program call; an exception counts as a failed op."""
        try:
            out = fn()
        except Exception:  # noqa: BLE001 - count and keep measuring
            self._count(False)
            print(f"CALL FAILED: {what}", file=sys.stderr, flush=True)
            traceback.print_exc()
            return None
        self._count(True)
        return out


@contextmanager
def logged(what: str):
    """Wall and process-tree CPU of a block, to stderr."""
    c0, t0 = tree_cpu_s(), time.perf_counter()
    yield
    print(f"[perfbench] {what}: {time.perf_counter() - t0:.2f} s wall, "
          f"{tree_cpu_s() - c0:.2f} s cpu", file=sys.stderr, flush=True)


def _check_oracle():
    """scripts/check_oracle.py as a module: the oracle comparison the
    correctness gate uses, so the benchmark judges outputs the same way."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def remove_query_artifacts() -> None:
    """Delete the files that queries write beside the program (the
    per-process dir of ``suite_verdicts`` and ``ann_ivf``)."""
    from logdata_anomaly_miner_spark.engine_queries import SUITE_CORPUS_DIR

    shutil.rmtree(SUITE_CORPUS_DIR, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(SUITE_CORPUS_DIR))
    except OSError:  # absent, or holds other processes' dirs
        pass


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _span_s(span) -> float:
    return span["end"] - span["start"]


class ValidateDocs:
    """``run_suite(persist=False)`` over one parquet documents table, with
    a drift baseline so ``constraints.drift`` runs too."""

    name = "validate_docs"
    # Whole-tree CPU per call in a fresh JVM on 4 vCPUs, calls 2-9: 30, 25,
    # 22, 19, 19, 17, 16, 15 s while HotSpot compiles the engine, then
    # ~15 s (JIT still 3-5 s a call: each call compiles new generated
    # classes). Over 22 runs in one hour, the median of calls 4-6 spread
    # 0.20 (IQR/median), of calls 5-7 0.18 and of calls 5-8 0.17; the rest
    # is host speed (the UDF workers' CPU per call rose 27% in busy
    # periods), which more calls cannot average out. So the first four
    # calls are set-up, and three are timed. A fixed count keeps set-up the
    # same work on every run.
    warmup_iterations = 4

    def __init__(self, spark, work: str, seed: int, checks: Checks, n_docs: int):
        self.spark, self.work, self.seed, self.checks = spark, work, seed, checks
        self.n_docs = n_docs
        self.expected_violations: dict | None = None
        self._last = None

    def prepare(self) -> dict:
        from logdata_anomaly_miner_spark.constraints.suite import SuiteConfig
        from logdata_anomaly_miner_spark.datagen import KINDS

        n_files = 2 * self.spark.sparkContext.defaultParallelism
        self.data = inputs.write_documents(
            self.spark, os.path.join(self.work, "docs"), self.seed, self.n_docs, n_files
        )
        self.media = self.spark.read.parquet(self.data["media"])
        # drift baseline: a "yesterday" where 90% of span texts were short
        # (< 20 chars); today's lengths differ, so the drift check fires
        self.baseline_hist = self.spark.createDataFrame(
            [(k, b, c) for k in KINDS for b, c in ((0, 900), (1, 100))],
            "kind string, bucket long, cnt long",
        )
        self.config = SuiteConfig(entropy_prob_thresh=0.0001,
                                  baseline_hist=self.baseline_hist)
        return {"n_docs": self.data["n_docs"], "n_spans": self.data["n_spans"]}

    def docs(self):
        return self.spark.read.parquet(self.data["docs"])

    def _suite_call(self):
        from logdata_anomaly_miner_spark.constraints.suite import run_suite

        res = run_suite(self.spark, self.docs(), self.media, self.config, persist=False)
        force(res.verdicts)
        return res

    def _check(self, res) -> None:
        m = res.metrics
        self.checks.expect(m["rows_scanned"] == self.data["n_docs"],
                           f"rows_scanned {m['rows_scanned']} != {self.data['n_docs']}")
        self.checks.expect(m["spans_scanned"] == self.data["n_spans"],
                           f"spans_scanned {m['spans_scanned']} != {self.data['n_spans']}")
        by_suite: dict = {}
        for r in res.verdicts.collect():
            if r["suite"] is not None:
                by_suite[r["suite"]] = by_suite.get(r["suite"], 0) + r["n_violations"]
        if self.expected_violations is None:
            self.expected_violations = by_suite
        self.checks.expect(by_suite == self.expected_violations,
                           f"violations {by_suite} != {self.expected_violations}")

    def warmup(self) -> None:
        """The first, untimed suite call; it sets the expected violation
        counts."""
        with logged(f"{self.name} warm-up: first call"):
            res = self.checks.call("run_suite (warm-up)", self._suite_call)
        if res is not None:
            self._check(res)

    def iteration(self, tracer) -> list:
        with tracer.span("iteration"):
            t0 = time.perf_counter()
            self._last = self.checks.call("run_suite", self._suite_call)
            wall = time.perf_counter() - t0
        return [("run_suite", wall)]

    def verify(self) -> None:
        """Checks the last iteration's outputs (outside its timing)."""
        if self._last is not None:
            self._check(self._last)

    def units(self, calls: list) -> int:
        return self.data["n_docs"]

    def plant_mismatch(self) -> None:
        self.data["n_spans"] += 1

    def layers(self, tracer, suite_span=None) -> dict:
        """Each suite-internal module forced alone on this input, then one
        suite call (or ``suite_span``, the traced iteration, which is one)
        and the production loop of ``scripts/run_validation.py``."""
        from pyspark.sql import functions as F

        from logdata_anomaly_miner_spark.constraints.drift import histogram, psi_kl
        from logdata_anomaly_miner_spark.constraints.referential import dangling_media_refs
        from logdata_anomaly_miner_spark.constraints.suite import run_suite
        from logdata_anomaly_miner_spark.constraints.uniqueness import duplicate_keys_salted
        from logdata_anomaly_miner_spark.datagen import explode_spans
        from logdata_anomaly_miner_spark.operators.entropy import (
            learn_bigram_freq,
            score_entropy_pandas,
        )
        from logdata_anomaly_miner_spark.operators.new_value import check_new_values
        from logdata_anomaly_miner_spark.plans.checkpoint import CheckpointManifest

        docs = self.docs()
        flat = explode_spans(docs)
        probes = {
            "constraints.uniqueness.s": lambda: force(
                duplicate_keys_salted(docs.select("doc_id"), ["doc_id"])),
            "constraints.referential.s": lambda: force(dangling_media_refs(docs, self.media)),
            "constraints.drift.s": lambda: force(psi_kl(
                histogram(flat.withColumn("text_len", F.length("text").cast("double")),
                          "text_len", 0.0, 200.0, 10, ["kind"]),
                self.baseline_hist, ["kind"], 10)),
            "operators.new_value.s": lambda: force(check_new_values(
                flat.filter(F.col("text").isNotNull()).select("kind", "text", "ts", "doc_id"),
                ["kind", "text"], None, order_cols=["ts", "doc_id"])),
        }
        out = {}
        for name, probe in probes.items():
            with tracer.span(name) as sp:
                self.checks.call(name, probe)
            out[name] = _span_s(sp)

        texts = flat.filter(F.col("text").isNotNull()).select("text").dropDuplicates().persist()
        try:
            out["operators.entropy.distinct_texts"] = texts.count()
            with tracer.span("operators.entropy.learn") as learn:
                freq = learn_bigram_freq(texts, "text")[0].persist()
                freq.count()
            with tracer.span("operators.entropy.score") as score:
                force(score_entropy_pandas(self.spark, texts, "text", freq))
            freq.unpersist()
        finally:
            texts.unpersist()
        out["operators.entropy.learn_s"] = _span_s(learn)
        out["operators.entropy.score_s"] = _span_s(score)

        sp, res = suite_span, self._last
        if sp is None:
            with tracer.span("constraints.suite") as sp:
                res = self.checks.call("run_suite (layer)", self._suite_call)
            if res is not None:
                self._check(res)
        out["constraints.suite.s"] = _span_s(sp)
        out["constraints.suite.jobs"] = sp["counters"]["jobs"]
        out["constraints.suite.violations"] = res.metrics["violations"] if res else -1

        # production loop, as scripts/run_validation.py does it per partition
        loop_dir = os.path.join(self.work, "loop")

        def production_loop() -> tuple:
            shutil.rmtree(loop_dir, ignore_errors=True)
            res = run_suite(self.spark, docs, self.media, self.config)
            with tracer.span("write.violations") as wr:
                res.violations.write.mode("overwrite").parquet(
                    os.path.join(loop_dir, "violations", "partition=all"))
            manifest = CheckpointManifest(self.spark, os.path.join(loop_dir, "manifest"))
            with tracer.span("plans.checkpoint.commit") as cm:
                manifest.commit(1, "all", rows_scanned=res.metrics["rows_scanned"],
                                violations=res.metrics["violations"], wall_time_s=0.0)
            self.checks.expect(
                manifest.committed_partitions(1) == {"all"}, "manifest commit not readable")
            return wr, cm

        spans = self.checks.call("production loop", production_loop)
        if spans is None:  # counted as failed; the values are placeholders
            return out | dict.fromkeys(
                ("write.violations_s", "write.violations_jobs", "plans.checkpoint.commit_s"), -1)
        wr, cm = spans
        out["write.violations_s"] = _span_s(wr)
        out["write.violations_jobs"] = wr["counters"]["jobs"]
        out["plans.checkpoint.commit_s"] = _span_s(cm)
        return out


class Queries:
    """One pass over ``QUERY_NAMES`` on seeded sf tables (``inputs``), each
    forced through the noop sink. Outputs are checked once per run against
    the DuckDB oracles, in this process, because some queries write
    per-process artifacts that their oracles read."""

    name = "queries_sf0.1"
    # CPU per pass: 47 s for the oracle pass in a fresh JVM, 12.5 and
    # 11.6 s for the next two, then ~7 s; freq_bands alone takes 3.2-4.8 s
    # first and 1.2-1.9 s after.
    warmup_iterations = 3

    def __init__(self, spark, work: str, seed: int, checks: Checks, sf: float):
        self.spark, self.work, self.seed, self.checks = spark, work, seed, checks
        self.scale = sf
        self.planted = False

    def prepare(self) -> dict:
        from logdata_anomaly_miner_spark.engine_queries import ORACLES, QUERIES

        self.queries = {n: QUERIES[n] for n in QUERY_NAMES}
        self.oracles = {n: ORACLES[n] for n in QUERY_NAMES}
        self.sf = inputs.write_sf_tables(os.path.join(self.work, "sf"), self.seed, self.scale)
        return {k: v for k, v in self.sf.items() if k != "dir"}

    def warmup(self) -> None:
        """The first, untimed pass checks every output."""
        with logged(f"{self.name} warm-up: oracle check"):
            self.check_oracles()

    def check_oracles(self) -> None:
        """Row count, column names and order-insensitive value hash of every
        query against its DuckDB oracle (scripts/check_oracle.py's method)."""
        import duckdb

        value_hash = _check_oracle().value_hash
        con = duckdb.connect()
        try:
            for f in os.listdir(self.sf["dir"]):
                con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM "
                            f"'{self.sf['dir']}/{f}'")
            for name, fn in self.queries.items():
                df = self.checks.call(name, lambda fn=fn: fn(self.spark, self.sf["dir"]))
                srows = None if df is None else self.checks.call(name, df.collect)
                if srows is None:
                    continue
                scols = df.columns
                if self.planted:
                    srows, self.planted = srows[1:], False
                res = con.execute(self.oracles[name])
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
                s_rows = [[r[c] for c in scols] for r in srows]
                self.checks.expect(
                    len(s_rows) == len(drows) and sorted(scols) == sorted(dcols)
                    and value_hash(s_rows, scols) == value_hash(drows, dcols),
                    f"{name}: {len(s_rows)} rows vs oracle {len(drows)}")
        finally:
            con.close()

    def _pass(self, tracer, queries: dict, sf_dir: str, workers: int = 1,
              parent: dict | None = None) -> list:
        """Each query built and forced, ``workers`` at a time; returns
        ``[(name, seconds), ...]`` in the order of ``queries``."""
        def one(item) -> tuple:
            name, fn = item
            with tracer.span(f"query.{name}", parent):
                t0 = time.perf_counter()

                def run():
                    with tracer.span("build"):
                        df = fn(self.spark, sf_dir)
                    with tracer.span("exec"):
                        force(df)

                self.checks.call(name, run)
                return name, time.perf_counter() - t0

        if workers == 1:
            return [one(item) for item in queries.items()]
        with ThreadPoolExecutor(workers) as pool:
            return list(pool.map(one, queries.items()))

    def iteration(self, tracer) -> list:
        with tracer.span("iteration"):
            return self._pass(tracer, self.queries, self.sf["dir"])

    def verify(self) -> None:
        """Outputs are checked once per run, in ``check_oracles``."""

    def units(self, calls: list) -> int:
        return len(calls)

    def plant_mismatch(self) -> None:
        self.planted = True

    def layers(self, tracer) -> dict:
        """One traced pass over all 50 queries on sf``ALL_QUERIES_SF``
        tables, ``ALL_QUERIES_WORKERS`` at a time: ``query.<name>.s`` per
        query, and the pass's time and jobs inside ``fn(spark, sf)`` (build)
        and in forcing the result (exec), summed over the queries. Its
        outputs are not checked (no oracle pass over all 50 fits)."""
        from logdata_anomaly_miner_spark.engine_queries import QUERIES

        sf = inputs.write_sf_tables(
            os.path.join(self.work, "sf-all"), self.seed, ALL_QUERIES_SF)
        with tracer.span("all_queries") as top:
            self._pass(tracer, QUERIES, sf["dir"], ALL_QUERIES_WORKERS, top)
        kids: dict = {}
        for s in tracer.spans:
            kids.setdefault(s["parent"], []).append(s)
        out = dict.fromkeys(("queries.build_s", "queries.build_jobs", "queries.exec_s"), 0)
        for q in kids[top["id"]]:
            out[f"{q['name']}.s"] = _span_s(q)
            for s in kids.get(q["id"], ()):
                if s["name"] == "build":
                    out["queries.build_s"] += _span_s(s)
                    out["queries.build_jobs"] += s["counters"]["jobs"]
                else:
                    out["queries.exec_s"] += _span_s(s)
        return out
