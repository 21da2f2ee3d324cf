"""Novelty detectors: new value / new value-combo / new id-value combo.

Re-expresses (semantics only, not code):
- NewMatchPathValueDetector      (aminer/analysis/NewMatchPathValueDetector.py:28-126;
                                  check at :91, learn at :92-98)
- NewMatchPathValueComboDetector (aminer/analysis/NewMatchPathValueComboDetector.py:29-239)
- EnhancedNewMatchPathValueComboDetector (…/EnhancedNewMatchPathValueComboDetector.py:27-228)
- NewMatchIdValueComboDetector   (aminer/analysis/NewMatchIdValueComboDetector.py:30-273)

Spark shape (SURVEY.md §2.4): the learned ``known_values_set`` becomes a
baseline DataFrame; the membership check becomes a **left_anti join**
(broadcast when the baseline is small — Catalyst/AQE decides from its
size); AMiner's report-once-at-first-atom sequential semantics
become ``row_number() == 1`` over (ts, tiebreak) per value. Learning is
``union + dropDuplicates`` merged back into the baseline — at 10^12-doc
scale this is a shuffle on the value key, which AQE skew-join salting
handles; the check side stays a hash/broadcast join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def first_occurrences(
    df: DataFrame, key_cols: Sequence[str], order_cols: Sequence[str]
) -> DataFrame:
    """Keep the first row per key in (order_cols) order — AMiner's
    'report a new value once, when it first arrives' semantics.

    Implemented as min(struct(order..., rest...)) per key rather than a
    row_number window: the aggregate gets map-side partial aggregation
    (each task reduces its partition to |local keys| rows before the
    shuffle), while a window must shuffle and sort EVERY row. At 10^12 rows
    with mostly-unique keys both move similar data, but with repeated keys
    the aggregate wins by the repetition factor.

    Note: rows whose order_cols tie are broken by the remaining columns'
    values (struct comparison), which is still deterministic."""
    rest = [c for c in df.columns if c not in order_cols]
    packed = df.groupBy(*key_cols).agg(
        F.min(F.struct(*[F.col(c) for c in order_cols], *[F.col(c) for c in rest])).alias("_f")
    )
    return packed.select(
        *[F.col(f"_f.{c}").alias(c) for c in order_cols if c not in key_cols],
        *[F.col(f"_f.{c}").alias(c) for c in rest if c not in key_cols],
        *[F.col(c) for c in key_cols],
    ).select(*df.columns)


def check_new_values(
    df: DataFrame,
    value_cols: Sequence[str],
    baseline: DataFrame | None,
    order_cols: Sequence[str] = ("ts",),
) -> DataFrame:
    """Violations: first occurrence (within the batch) of every value-combo
    not present in the pre-batch baseline.

    ``baseline`` has exactly ``value_cols`` columns (FIXTURES.md
    `known_values`); None means learn-from-scratch (everything new once).
    """
    firsts = first_occurrences(df, value_cols, order_cols)
    if baseline is None:
        return firsts
    b = baseline.select(*value_cols).dropDuplicates()
    return firsts.join(b, on=list(value_cols), how="left_anti")


def learn_values(
    df: DataFrame, value_cols: Sequence[str], baseline: DataFrame | None
) -> DataFrame:
    """New baseline = old ∪ batch distinct values (NMPVD learn, :92-98).
    Write-back replaces AMiner's atomic tmpfile+link persist
    (aminer/util/PersistenceUtil.py:116-125) with an ACID table overwrite."""
    batch_vals = df.select(*value_cols).dropDuplicates()
    if baseline is None:
        return batch_vals
    return baseline.select(*value_cols).unionByName(batch_vals).dropDuplicates()


def check_new_combos_enhanced(
    df: DataFrame,
    value_cols: Sequence[str],
    baseline: DataFrame | None,
    ts_col: str = "ts",
) -> tuple[DataFrame, DataFrame]:
    """EnhancedNewMatchPathValueComboDetector: novelty + per-combo metadata
    (first_seen, last_seen, count) merged across batches.

    Returns (violations, new_baseline) where baseline columns are
    value_cols + (first_seen, last_seen, n_seen).
    """
    agg = df.groupBy(*value_cols).agg(
        F.min(ts_col).alias("first_seen"),
        F.max(ts_col).alias("last_seen"),
        F.count(F.lit(1)).alias("n_seen"),
    )
    if baseline is None:
        violations = agg
        merged = agg
    else:
        violations = agg.join(
            baseline.select(*value_cols), on=list(value_cols), how="left_anti"
        )
        merged = (
            baseline.unionByName(agg)
            .groupBy(*value_cols)
            .agg(
                F.min("first_seen").alias("first_seen"),
                F.max("last_seen").alias("last_seen"),
                F.sum("n_seen").alias("n_seen"),
            )
        )
    return violations, merged


def check_new_id_combos(
    df: DataFrame,
    id_col: str,
    value_cols: Sequence[str],
    baseline: DataFrame | None,
    ts_col: str = "ts",
    order_cols: Sequence[str] | None = None,
) -> DataFrame:
    """NewMatchIdValueComboDetector: combos are assembled **across rows**
    sharing an id (the reference's only join-like operator, reference
    :30-273) — we take the first non-null value per path per id in event
    order, then novelty-check the assembled combo.

    'First in event order' is computed as min(struct(order…, value)) over
    the non-null rows per path — deterministic across partitioning and task
    retries (F.first(ignorenulls=True) depends on partition arrival order).
    ``order_cols`` defaults to (ts_col,); pass a unique ordering (e.g.
    ts + event id) for exact sequential parity — with ts alone, ties break
    by the value itself, still deterministic."""
    order = list(order_cols) if order_cols else [ts_col]
    agg = df.groupBy(id_col).agg(
        *[
            F.min(
                F.when(
                    F.col(c).isNotNull(),
                    F.struct(*[F.col(o) for o in order], F.col(c)),
                )
            )[c].alias(c)
            for c in value_cols
        ],
        F.min(ts_col).alias("ts"),
    )
    if baseline is None:
        return agg
    return agg.join(baseline.select(*value_cols), on=list(value_cols), how="left_anti")
