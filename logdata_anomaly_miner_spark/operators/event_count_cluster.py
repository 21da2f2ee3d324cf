"""Count-vector clustering detector.

Re-expresses EventCountClusterDetector (aminer/analysis/
EventCountClusterDetector.py:26-390): per (id, window) build the vector of
event-type counts; compare against known vectors with normalized Manhattan
distance (detect :206, manhattan :240-265; the reference's optional idf
term weighting, :45,159, is not reproduced); similarity below ``confidence_factor`` → anomaly, else learn the vector.

Spark shape: counts are a relational (id, window, event_type, cnt) table —
the vector never materializes as a Python object. Distance between current
windows and baseline vectors is a full-outer join on event_type per (id)
followed by a groupBy sum: dist = Σ|c−b| / (Σc + Σb).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def count_vectors(
    df: DataFrame,
    id_cols: Sequence[str],
    type_col: str,
    ts_col: str = "ts",
    window_size: float = 600.0,
    t0: float | None = None,
) -> DataFrame:
    """(id..., w, event_type, cnt) — the relational count-vector table."""
    ts = F.col(ts_col).cast("double")
    if t0 is None:
        t0_df = df.agg(F.min(ts).alias("_t0"))
        df = df.crossJoin(F.broadcast(t0_df))
        anchor = F.col("_t0")
    else:
        anchor = F.lit(float(t0))
    return (
        df.withColumn("w", F.floor((ts - anchor) / F.lit(window_size)))
        .groupBy(*id_cols, "w", F.col(type_col).alias("event_type"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def manhattan_vs_baseline(
    current: DataFrame,
    baseline: DataFrame,
    id_cols: Sequence[str],
) -> DataFrame:
    """Normalized Manhattan distance of each current (id, w) vector vs the
    id's baseline vector: dist = Σ|c_t − b_t| / (Σc_t + Σb_t).

    ``baseline`` columns: id_cols + (event_type, cnt).
    """
    g = list(id_cols)
    cur = current.select(*g, "w", "event_type", F.col("cnt").alias("c"))
    base = baseline.select(*g, "event_type", F.col("cnt").alias("b"))
    # every current window must see the id's FULL baseline vector (types the
    # window lacks count as 0 on the current side) — cross baseline with the
    # id's windows, then full-outer against current counts
    wins = cur.select(*g, "w").dropDuplicates()
    base_w = base.join(wins, g, "inner")
    j = cur.join(base_w, [*g, "w", "event_type"], "full_outer").fillna(
        {"c": 0, "b": 0}
    )
    return (
        j.withColumn("_num", F.abs(F.col("c") - F.col("b")))
        .withColumn("_den", F.col("c") + F.col("b"))
        .groupBy(*g, "w")
        .agg((F.sum("_num") / F.sum("_den")).alias("dist"))
    )
