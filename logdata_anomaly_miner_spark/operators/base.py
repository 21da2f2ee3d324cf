"""Shared violation-row schema + helpers.

AMiner events are (event_type, message, sorted_loglines, event_data,
log_atom) tuples pushed to handlers (reference: aminer/events/
EventInterfaces.py, EventData.py:21-78). Our equivalent is a violations
DataFrame with a stable column set; the formatted golden string of
StreamPrinterEventHandler is reproduced by ``format_event`` below
(reference format built at aminer/events/EventData.py:49-78):

    "{ts:%Y-%m-%d %H:%M:%S} {message}\n{detector}: \"{component}\" ({n} lines)\n  {lines}\n\n"
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def violation_cols(
    detector: str,
    message: str,
    ts: Column,
    group_key: Column | None = None,
    value: Column | None = None,
) -> list[Column]:
    """Standard violation projection (FIXTURES.md §2 `violations`); its
    ``detail`` column is null."""
    return [
        F.lit(detector).alias("detector"),
        F.lit(message).alias("message"),
        ts.cast("double").alias("ts"),
        (group_key if group_key is not None else F.lit(None)).cast("string").alias("group_key"),
        (value if value is not None else F.lit(None)).cast("string").alias("value"),
        F.lit(None).cast("string").alias("detail"),
    ]


def format_event(df: DataFrame) -> DataFrame:
    """Render violations in the reference StreamPrinter golden format, for
    an unnamed component (the reference prints its name as "None").

    Reference: aminer/events/EventData.py:49-78 and e.g.
    aecid-testsuite/unit/analysis/ValueRangeDetectorTest.py:22 —
    '%s <message>\\n%s: "<name>" (1 lines)\\n  <line>\\n\\n'.
    """
    ts_str = F.from_unixtime(F.col("ts").cast("long"), "yyyy-MM-dd HH:mm:ss")
    return df.withColumn(
        "event_text",
        F.concat(
            ts_str,
            F.lit(" "),
            F.col("message"),
            F.lit("\n"),
            F.col("detector"),
            F.lit(': "None" (1 lines)\n  '),
            F.coalesce(F.col("value"), F.lit("")),
            F.lit("\n\n"),
        ),
    )
