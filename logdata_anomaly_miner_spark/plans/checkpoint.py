"""Checkpoint manifest: resumability at (snapshot, partition) granularity.

Mirrors AMiner's repositioning_data/persistence lifecycle
(aminer/AnalysisChild.py:280-284, aminer/util/PersistenceUtil.py:116-125):
progress is committed per partition so a restarted run skips completed work.

The manifest is a parquet table (one file per commit, which may hold
many partitions — append-only, atomic at file granularity like the
reference's tmpfile+link swap). Schema (FIXTURES.md §2 checkpoint_manifest):
    (snapshot_id long, partition string, status string,
     rows_scanned long, violations long, wall_time_s double)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

MANIFEST_SCHEMA = (
    "snapshot_id long, partition string, status string, "
    "rows_scanned long, violations long, wall_time_s double"
)


class CheckpointManifest:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        # the path's Hadoop filesystem: a plain path, file://, hdfs://, s3a://
        path = self.spark._jvm.org.apache.hadoop.fs.Path(self.path)
        return path.getFileSystem(self.spark._jsc.hadoopConfiguration()).exists(path)

    def read(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)

    def committed_partitions(self, snapshot_id: int) -> set[str]:
        return {
            r["partition"]
            for r in self.read()
            .filter(f"snapshot_id = {int(snapshot_id)} AND status = 'done'")
            .select("partition")
            .collect()
        }

    def commit(
        self,
        snapshot_id: int,
        partition: str,
        rows_scanned: int,
        violations: int,
        wall_time_s: float,
    ) -> None:
        self.commit_many(snapshot_id, [(partition, rows_scanned, violations, wall_time_s)])

    def commit_many(
        self, snapshot_id: int, rows: list[tuple[str, int, int, float]]
    ) -> None:
        """Commit (partition, rows_scanned, violations, wall_time_s) rows in
        one append: one Spark job, one parquet file."""
        if not rows:
            return
        data = [
            (int(snapshot_id), str(p), "done", int(n), int(v), float(w))
            for p, n, v, w in rows
        ]
        (
            self.spark.createDataFrame(data, MANIFEST_SCHEMA)
            .coalesce(1)
            .write.mode("append")
            .parquet(self.path)
        )
