#!/usr/bin/env python
"""spark-submit entry point: run the full constraint-validation suite over a
documents table with checkpoint/resume at partition granularity.

    spark-submit --py-files lams.zip scripts/run_validation.py \
        --docs /path/documents.parquet --media /path/media.parquet \
        --out /path/run_output --snapshot-id 1 [--spec suite.yaml] [--resume]

One ``run_suite`` over the whole table, as uniqueness and novelty span
partitions (UTC days of ``ts``); one write of its violations, under
``violations/partition=<day>``; one manifest row per partition, from its
verdicts, all in one append. ``--resume`` skips re-writing and
re-committing committed partitions, so it gives a fresh run's answer. Job
group: ``lams-validate``.

Packaging: scripts/package.sh builds lams.zip. On a cluster, master/executor
conf comes from spark-submit; locally the session factory defaults apply.
Mirrors the reference entry point aminer.py (--config / --from-begin ≙
--spec / no --resume).
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, ".")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True)
    ap.add_argument("--media", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--snapshot-id", type=int, default=1)
    ap.add_argument("--spec", default=None)
    ap.add_argument("--resume", action="store_true",
                    help="skip partitions already committed in the manifest")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from logdata_anomaly_miner_spark.config import load_spec, to_suite_config
    from logdata_anomaly_miner_spark.constraints.suite import run_suite
    from logdata_anomaly_miner_spark.plans.checkpoint import CheckpointManifest
    from logdata_anomaly_miner_spark.session import get_spark

    spark = get_spark(app_name="lams-validate")
    spark.sparkContext.setJobGroup("lams-validate", "constraint-validation run")
    t0 = time.time()
    cfg = to_suite_config(load_spec(args.spec) if args.spec else load_spec({}))
    manifest = CheckpointManifest(spark, f"{args.out}/manifest")
    done = manifest.committed_partitions(args.snapshot_id) if args.resume else set()

    res = run_suite(
        spark, spark.read.parquet(args.docs), spark.read.parquet(args.media), cfg
    )
    rows_scanned, violations = {}, {}
    for r in res.verdicts.collect():
        rows_scanned[r["partition"]] = r["n_docs"]
        violations[r["partition"]] = violations.get(r["partition"], 0) + r["n_violations"]
    todo = sorted(set(rows_scanned) - done)
    print(f"{len(rows_scanned)} partitions, {len(todo)} to run")

    # dynamic: the write replaces only the todo partitions with violations,
    # so committed ones survive; a todo partition with none writes no
    # directory, so an earlier run's is deleted here
    for part in (p for p in todo if violations[p] == 0):
        path = spark._jvm.org.apache.hadoop.fs.Path(f"{args.out}/violations/partition={part}")
        path.getFileSystem(spark._jsc.hadoopConfiguration()).delete(path, True)
    if any(violations[p] for p in todo):
        (
            res.violations.filter(F.col("partition").isin(todo))
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("partition").parquet(f"{args.out}/violations")
        )
    wall = time.time() - t0
    manifest.commit_many(
        args.snapshot_id, [(p, rows_scanned[p], violations[p], wall) for p in todo]
    )
    for part in todo:
        print(json.dumps({"partition": part, "violations": violations[part]}))
    print("done")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
