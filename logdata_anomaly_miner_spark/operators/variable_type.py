"""Per-variable type inference + distribution goodness-of-fit drift.

Re-expresses the intent of VariableTypeDetector (aminer/analysis/
VariableTypeDetector.py:31-2419): classify each variable as static /
discrete / continuous from observed values, then test whether new data still
fits the learned distribution. The reference runs scipy KS / Cramér-von
Mises per variable in-process; here both the classification and the
two-sample Kolmogorov-Smirnov statistic are distributed DataFrame programs
(the KS statistic = max |ECDF_a - ECDF_b| via one sort-window pass), and the
binned KL/PSI path lives in constraints/drift.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def infer_variable_types(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """(group, var_type, n, n_distinct, null_rate, numeric_rate):
    static (one value), discrete (at most 20 values), continuous (numeric, large
    domain), else 'other' — the reference's top-level classification."""
    v = F.col(value_col)
    num = v.try_cast("double")  # ANSI-safe numeric probe (null when not numeric)
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(v).alias("n_distinct"),
        F.avg(v.isNull().cast("double")).alias("null_rate"),
        F.avg(num.isNotNull().cast("double")).alias("numeric_rate"),
    )
    t = (
        F.when(F.col("n_distinct") <= 1, "static")
        .when(F.col("n_distinct") <= 20, "discrete")
        .when(F.col("numeric_rate") > 0.99, "continuous")
        .otherwise("other")
    )
    return agg.withColumn("var_type", t)


def ks_statistic(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Two-sample KS statistic per group: D = max_x |ECDF_a(x) − ECDF_b(x)|.

    Distributed form: tag and union both samples, sort within group, running
    per-sample counts give both ECDFs at every observation — one shuffle +
    one window pass, no per-group collect. (scipy.ks_2samp parity on the
    shared support; ties handled by evaluating after all equal values.)
    """
    g = list(group_cols)
    ta = a.select(*g, F.col(value_col).cast("double").alias("v")).withColumn(
        "_s", F.lit(0)
    )
    tb = b.select(*g, F.col(value_col).cast("double").alias("v")).withColumn(
        "_s", F.lit(1)
    )
    u = ta.unionByName(tb).filter(F.col("v").isNotNull())
    counts = u.groupBy(*g).agg(
        F.sum(F.when(F.col("_s") == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("_s") == 1, 1).otherwise(0)).alias("nb"),
    )
    # order by (v, _s) then take the running counts at the LAST row of each
    # tie-group of v: max over rows of |ca/na - cb/nb| evaluated there
    w = Window.partitionBy(*g).orderBy("v", "_s").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_tie = Window.partitionBy(*g, "v")
    stepped = (
        u.withColumn("ca", F.sum(F.when(F.col("_s") == 0, 1).otherwise(0)).over(w))
        .withColumn("cb", F.sum(F.when(F.col("_s") == 1, 1).otherwise(0)).over(w))
        # ECDF is evaluated after consuming ALL rows with this v
        .withColumn("ca", F.max("ca").over(w_tie))
        .withColumn("cb", F.max("cb").over(w_tie))
    )
    joined = stepped.join(counts, g) if g else stepped.crossJoin(F.broadcast(counts))
    return (
        joined.withColumn(
            "_d", F.abs(F.col("ca") / F.col("na") - F.col("cb") / F.col("nb"))
        )
        .groupBy(*g)
        .agg(F.max("_d").alias("ks"))
    )
