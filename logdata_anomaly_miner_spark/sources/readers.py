"""Input connectors with parse-status tracking.

Re-expresses the reference input layer (semantics, not code):
- FileLogDataResource / LogStream (aminer/input/LogStream.py:30-380): file
  tailing + rollover + resume ≙ spark.read/readStream file sources with
  checkpointed progress (plans/checkpoint.py); a `source` lineage column
  replaces the LogStream handle.
- ByteStreamLineAtomizer (aminer/input/ByteStreamLineAtomizer.py:39-229):
  line splitting ≙ read_text_lines; the incremental JSON scanner
  (JsonStateMachine.py) ≙ from_json with PERMISSIVE corrupt-record capture.
- UnparsedAtomHandlers (aminer/analysis/UnparsedAtomHandlers.py:23-77):
  unparsed atoms are first-class → every reader emits `_parse_ok` and the
  violations pipeline filters `~_parse_ok`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_text_lines(
    spark: SparkSession,
    path: str,
    source_tag: str | None = None,
) -> DataFrame:
    """Lines + ingest metadata (batch). Columns: (raw, source,
    ingest_order). `ingest_order` is a unique sequential atom order (the
    reference's arrival order, for TimestampsUnsortedDetector etc.)."""
    return spark.read.text(path).select(
        F.col("value").alias("raw"),
        (F.lit(source_tag) if source_tag else F.input_file_name()).alias("source"),
        F.monotonically_increasing_id().alias("ingest_order"),
    )


def parse_json_atoms(
    df: DataFrame,
    schema: T.StructType,
    raw_col: str = "raw",
) -> DataFrame:
    """from_json with unparsed-atom tracking: adds `parsed` struct and
    `_parse_ok` (PERMISSIVE: keys beyond the schema still parse)."""
    parsed = F.from_json(F.col(raw_col), schema)
    # from_json yields an all-null struct (not NULL) for malformed input in
    # PERMISSIVE mode — a map-parse of the same record is NULL exactly when
    # the record isn't a valid JSON object, so that's the parse-ok signal
    as_map = F.from_json(F.col(raw_col), T.MapType(T.StringType(), T.StringType()))
    return df.withColumn("parsed", parsed).withColumn("_parse_ok", as_map.isNotNull())


def parse_xml_atoms(
    df: DataFrame,
    schema: T.StructType,
    raw_col: str = "raw",
) -> DataFrame:
    """XmlModelElement analog (reference aminer/parsing/XmlModelElement.py:
    45-406 — XML log atoms matched against a typed element dict): Spark 4's
    native from_xml maps each raw XML atom onto ``schema``; adds ``parsed``
    struct and ``_parse_ok``.

    The reference's per-path optionality ≙ nullable struct fields;
    attributes are addressed with from_xml's ``attributePrefix`` (default
    ``_``) so <a id="x"> surfaces as field ``_id``. Malformed XML yields an
    all-null struct in PERMISSIVE mode — detected by requiring at least one
    non-null top-level field (same signal the reference's parse failure
    gives via non-match)."""
    parsed = F.from_xml(F.col(raw_col), schema, {"mode": "PERMISSIVE"})
    ok = F.lit(False)
    for fld in schema.fields:
        ok = ok | parsed[fld.name].isNotNull()
    return df.withColumn("parsed", parsed).withColumn("_parse_ok", ok)


def multisource_union(sources: list[DataFrame]) -> DataFrame:
    """Batch analog of SimpleMultisourceAtomSync: union then event-time
    ordering is free (any orderBy/window downstream); no wait protocol
    needed because batch sees the closed set of atoms."""
    out = sources[0]
    for s in sources[1:]:
        out = out.unionByName(s, allowMissingColumns=True)
    return out
