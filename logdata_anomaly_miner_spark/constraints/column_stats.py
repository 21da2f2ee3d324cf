"""Per-column statistics collector.

AMiner analog: EventTypeDetector's per-variable value accumulation
(aminer/analysis/EventTypeDetector.py:25-293) and HistogramAnalysis
(aminer/analysis/HistogramAnalysis.py:79-623); extended per the north star
with null rate, exact distinct counts, min/max, and approximate quartiles.

Scale shape: ONE aggregation pass over the table produces every column's
stats, then the single result row is exploded into one row per column. Spark
plans an Expand (input ×|columns|) to satisfy several count-distincts.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_NUMERIC = ("int", "bigint", "smallint", "tinyint", "double", "float")


def column_stats(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """One output row per column: (column, n_rows, null_rate, n_distinct,
    min, max, quartiles). min/max/quartiles are null for non-numeric cols."""
    dtypes = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in columns:
        col = F.col(c)
        is_num = dtypes[c] in _NUMERIC or dtypes[c].startswith("decimal")
        num = col.cast("double") if is_num else F.lit(None).cast("double")
        aggs += [
            F.round(F.avg(col.isNull().cast("double")), 9).alias(f"_null_{c}"),
            F.countDistinct(col).alias(f"_nd_{c}"),
            F.min(num).alias(f"_min_{c}"),
            F.max(num).alias(f"_max_{c}"),
            (
                F.percentile_approx(num, [0.25, 0.5, 0.75], 10000)
                if is_num
                else F.lit(None).cast("array<double>")
            ).alias(f"_q_{c}"),
        ]
    one = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("_n").alias("n_rows"),
                F.col(f"_null_{c}").alias("null_rate"),
                F.col(f"_nd_{c}").cast("long").alias("n_distinct"),
                F.col(f"_min_{c}").alias("min"),
                F.col(f"_max_{c}").alias("max"),
                F.col(f"_q_{c}").alias("quantiles"),
            )
            for c in columns
        ]
    )
    return one.select(F.explode(per_col).alias("s")).select("s.*")
