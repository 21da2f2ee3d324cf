#!/usr/bin/env python
"""spark-submit entry point: run the full constraint-validation suite over a
documents table with checkpoint/resume at partition granularity.

    spark-submit --py-files lams.zip scripts/run_validation.py \
        --docs /path/documents.parquet --media /path/media.parquet \
        --out /path/run_output --snapshot-id 1 [--spec suite.yaml] [--resume]

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
    from logdata_anomaly_miner_spark.constraints.suite import run_suite, utc_day_partition
    from logdata_anomaly_miner_spark.plans.checkpoint import CheckpointManifest
    from logdata_anomaly_miner_spark.session import get_spark

    spark = get_spark(app_name="lams-validate")
    spec = load_spec(args.spec) if args.spec else load_spec({})
    cfg = to_suite_config(spec)

    docs = spark.read.parquet(args.docs)
    media = spark.read.parquet(args.media)
    manifest = CheckpointManifest(spark, f"{args.out}/manifest")

    # the key run_suite labels its verdicts with, so each slice is exactly
    # one verdict partition and a null ts is its own slice
    docs = docs.withColumn("partition", utc_day_partition(F.col("ts")))
    partitions = sorted(
        r["partition"] for r in docs.select("partition").distinct().collect()
    )
    done = manifest.committed_partitions(args.snapshot_id) if args.resume else set()
    todo = [p for p in partitions if p not in done]
    print(f"{len(partitions)} partitions, {len(done)} committed, {len(todo)} to run")

    for part in todo:
        t0 = time.time()
        part_docs = docs.filter(F.col("partition") == part).drop("partition")
        res = run_suite(spark, part_docs, media, cfg)
        (
            res.violations.write.mode("overwrite")
            .parquet(f"{args.out}/violations/partition={part}")
        )
        manifest.commit(
            args.snapshot_id,
            part,
            rows_scanned=res.metrics["rows_scanned"],
            violations=res.metrics["violations"],
            wall_time_s=time.time() - t0,
        )
        print(json.dumps({"partition": part, **res.metrics}))
    print("done")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
