#!/usr/bin/env python
"""Per-stage evidence for the scaling claim (BENCH/BASELINE.md).

Runs the validation suite once at local[N] over the parquet-backed
synthetic documents table with the Spark event log enabled, then parses
the log into per-stage totals (executor run time, input bytes, shuffle
read/write) and classifies stages:

  scan    — reads input bytes, no shuffle read (map side of the DAG)
  reduce  — consumes shuffle data (the suite's aggregations/joins)
  other   — everything else (tiny driver-side / broadcast stages)

Usage: python scripts/stage_breakdown.py <threads> [n_docs]
Prints one JSON line; scripts/run_bench.sh-style wrappers tabulate it.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    threads = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000

    from logdata_anomaly_miner_spark.constraints.suite import SuiteConfig, run_suite
    from logdata_anomaly_miner_spark.datagen import gen_documents, gen_media
    from logdata_anomaly_miner_spark.session import get_spark

    log_dir = f"/tmp/lams-eventlog-{threads}"
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)
    spark = get_spark(
        app_name=f"lams-stages-{threads}",
        master=f"local[{threads}]",
        shuffle_partitions=threads,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    # same resolution as bench.py so both tools measure the SAME corpus
    docs_path = os.environ.get(
        "SPARK_GRAFT_DOCS_PATH", f"/dev/shm/bench_docs_{n_docs}.parquet"
    )
    if not os.path.exists(os.path.join(docs_path, "_SUCCESS")):
        gen_documents(
            spark, n_docs=n_docs, dup_rate=0.001, dangling_rate=0.02,
            n_partitions=128,
        ).write.mode("overwrite").parquet(docs_path)
    media = gen_media(spark, 1000)
    docs = spark.read.parquet(docs_path)
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup

    t0 = time.time()
    t0_ms = int(t0 * 1000)
    res = run_suite(spark, docs, media, SuiteConfig(entropy_prob_thresh=0.0001))
    res.verdicts.write.format("noop").mode("overwrite").save()
    wall = time.time() - t0
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    spark.stop()  # flush the event log

    stages: dict[tuple, dict] = {}
    for path in glob.glob(f"{log_dir}/*"):
        with open(path, errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ev.get("Event") != "SparkListenerTaskEnd":
                    continue
                # only the suite's tasks: a cold-cache run generates the
                # corpus (plus warmup) inside the same event-logged
                # session, which must not pollute the stage evidence
                if (ev.get("Task Info") or {}).get("Launch Time", 0) < t0_ms:
                    continue
                sid = (ev["Stage ID"], ev["Stage Attempt ID"])
                m = ev.get("Task Metrics") or {}
                s = stages.setdefault(
                    sid,
                    {"tasks": 0, "run_ms": 0, "input_b": 0, "sh_read_b": 0,
                     "sh_write_b": 0, "gc_ms": 0},
                )
                s["tasks"] += 1
                s["run_ms"] += m.get("Executor Run Time", 0)
                s["gc_ms"] += m.get("JVM GC Time", 0)
                s["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                s["sh_read_b"] += sr.get("Local Bytes Read", 0) + sr.get(
                    "Remote Bytes Read", 0
                )
                s["sh_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )

    # keep only the LAST attempt per stage: a task-set retry would
    # otherwise double-count its bytes/time and fake shuffle inflation
    last_attempt: dict[int, int] = {}
    for (stage_id, att) in stages:
        last_attempt[stage_id] = max(last_attempt.get(stage_id, 0), att)
    retried = sum(1 for (sid, att) in stages if att < last_attempt[sid])
    stages = {
        k: v for k, v in stages.items() if k[1] == last_attempt[k[0]]
    }

    cls = {"scan": 0.0, "reduce": 0.0, "other": 0.0}
    n_stage = {"scan": 0, "reduce": 0, "other": 0}
    tot_in = tot_sr = tot_sw = 0
    for s in stages.values():
        kind = (
            "reduce" if s["sh_read_b"] > 0
            else ("scan" if s["input_b"] > 0 else "other")
        )
        cls[kind] += s["run_ms"] / 1000.0
        n_stage[kind] += 1
        tot_in += s["input_b"]
        tot_sr += s["sh_read_b"]
        tot_sw += s["sh_write_b"]

    print(json.dumps({
        "threads": threads,
        "n_docs": n_docs,
        "wall_s": round(wall, 2),
        "docs_per_sec": round((res.metrics.get("rows_scanned") or n_docs) / wall, 1),
        "stage_class_executor_s": {k: round(v, 1) for k, v in cls.items()},
        "stages_per_class": n_stage,
        "input_gb": round(tot_in / 1e9, 2),
        "shuffle_read_mb": round(tot_sr / 1e6, 1),
        "shuffle_write_mb": round(tot_sw / 1e6, 1),
        "gc_s": round(sum(s["gc_ms"] for s in stages.values()) / 1000.0, 1),
        "retried_stage_attempts_dropped": retried,
    }))


if __name__ == "__main__":
    main()
