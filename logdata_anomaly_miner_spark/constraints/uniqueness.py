"""Uniqueness / duplicate-key constraint.

North-star spec: "uniqueness via salted repartition + hash-aggregate".
The two-phase form below computes per-salt partial counts first so one hot
key (the skewed `doc_dup_*` ids the generator plants) never lands on a
single reducer — the classic salting pattern; with AQE skew handling the
plain groupBy is usually enough, but the explicit variant guarantees the
bound and is what we'd run at 10^12 rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# salts per key: the most reducers one hot key's partial counts spread over
SALT_BUCKETS = 64


def duplicate_keys_salted(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Keys occurring more than once + their count, as a two-phase salted
    aggregate: groupBy(key, salt) partial counts, then groupBy(key) final
    sum — bounded per-reducer fan-in for arbitrarily hot keys."""
    salt = F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(SALT_BUCKETS))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*key_cols, "_salt")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return (
        partial.groupBy(*key_cols)
        .agg(F.sum("_c").cast("long").alias("cnt"))
        .filter(F.col("cnt") > 1)
    )
