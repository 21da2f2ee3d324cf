"""Schema/shape checks on the interleaved-span documents table.

AMiner analogs: NewMatchPathDetector (unknown parser path ≙ unknown span
kind), JsonModelElement strictness (missing/extra keys ≙ required fields
null), TimestampsUnsortedDetector (ordering ≙ offset monotonicity per doc).
Each check is one boolean ``Column`` — true on a violating row — so the
suite evaluates all of them in one projection over one scan
(constraints/suite.py) and a caller can ``filter`` on any one alone.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F


def unknown_kind(kind_vocab: Sequence[str]) -> Column:
    """A span whose kind is outside the registered vocabulary (null for a
    null kind, which ``required_field_null`` reports)."""
    return ~F.col("kind").isin(*kind_vocab)


def required_field_null(cols: Sequence[str]) -> Column:
    """A span with any required field null (no required fields -> never)."""
    return reduce(lambda a, b: a | b, (F.col(c).isNull() for c in cols), F.lit(False))


def offsets_not_increasing(spans: Column) -> Column:
    """A document whose span offsets do not strictly increase in array order.

    Checked INSIDE the spans array (pure expression over the row, zero
    shuffle) rather than via a window over the exploded view — which would
    both shuffle and mis-group when doc_id uniqueness is itself violated."""
    return (F.size(spans) >= 2) & F.exists(
        F.sequence(F.lit(1), F.size(spans) - 1),
        lambda i: F.element_at(spans, i + 1)["offset"] <= F.element_at(spans, i)["offset"],
    )


def media_ref_on_non_media_kind() -> Column:
    """media_ref must only appear on media-ish kinds (image/audio/video)."""
    return F.col("media_ref").isNotNull() & ~F.col("kind").isin("image", "audio", "video")
