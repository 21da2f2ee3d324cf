"""Input connectors with parse-status tracking.

Re-expresses the reference input layer (semantics, not code):
- FileLogDataResource / LogStream (aminer/input/LogStream.py:30-380): file
  tailing + rollover + resume ≙ spark.read/readStream file sources with
  checkpointed progress (plans/checkpoint.py); a `source` lineage column
  replaces the LogStream handle.
- ByteStreamLineAtomizer (aminer/input/ByteStreamLineAtomizer.py:39-229):
  line splitting with max_line_length "overlong line" events ≙
  read_text_lines + the overlong flag; the incremental JSON scanner
  (JsonStateMachine.py) ≙ from_json with PERMISSIVE corrupt-record capture.
- UnparsedAtomHandlers (aminer/analysis/UnparsedAtomHandlers.py:23-77):
  unparsed atoms are first-class → every reader emits `_parse_ok` and the
  violations pipeline filters `~_parse_ok`.
- UnixSocketLogDataResource (aminer/input/LogStream.py:177-264): AF_UNIX
  stream ingress ≙ ``UnixSocketResource`` (same open/fill_buffer/
  update_position contract) + ``spool_unix_socket``: the driver-side pump
  drains the socket into spool files that the (streaming) file reader
  consumes — a socket is a single-node ingress; Spark parallelism starts
  at the spool.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_text_lines(
    spark: SparkSession,
    path: str,
    max_line_length: int | None = None,
    source_tag: str | None = None,
) -> DataFrame:
    """Lines + ingest metadata (batch). Columns: (raw, source,
    ingest_order, overlong). `ingest_order` is a unique sequential atom
    order (the reference's arrival order, for TimestampsUnsortedDetector
    etc.)."""
    df = spark.read.text(path).select(
        F.col("value").alias("raw"),
        (F.lit(source_tag) if source_tag else F.input_file_name()).alias("source"),
        F.monotonically_increasing_id().alias("ingest_order"),
    )
    overlong = (
        (F.length("raw") > max_line_length) if max_line_length else F.lit(False)
    )
    return df.withColumn("overlong", overlong)


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


class UnixSocketResource:
    """AF_UNIX stream log resource — UnixSocketLogDataResource parity
    (aminer/input/LogStream.py:177-264): name must be ``b'unix://<path>'``;
    ``open`` connects (returning False when the endpoint is absent/refusing,
    so the caller may retry), reopen works only after end-of-stream;
    ``fill_buffer`` appends up to ``default_buffer_size`` bytes and returns
    the count (0 = EOF); ``update_position`` consumes from the front;
    repositioning data is None (a socket cannot seek)."""

    def __init__(
        self,
        log_resource_name: bytes,
        log_stream_fd: int = -1,
        default_buffer_size: int = 1 << 16,
    ):
        if not log_resource_name.startswith(b"unix://"):
            raise ValueError("unix socket resource name must start with unix://")
        self.log_resource_name = log_resource_name
        self.log_stream_fd = log_stream_fd
        self.buffer = b""
        self.default_buffer_size = default_buffer_size
        self.total_consumed_length = 0

    def open(self, reopen_flag: bool = False) -> bool:
        import errno
        import os
        import socket

        if reopen_flag:
            if self.log_stream_fd != -1:
                return False
        elif self.log_stream_fd != -1:
            raise OSError("cannot reopen stream still open when not instructed")
        sock = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
        try:
            # connect with the raw bytes path (as the reference does) —
            # Linux socket paths need not be valid UTF-8
            sock.connect(self.log_resource_name[7:])
        except OSError as e:
            sock.close()
            if e.errno in (errno.ENOENT, errno.ECONNREFUSED):
                return False
            raise
        self.log_stream_fd = os.dup(sock.fileno())
        sock.close()
        return True

    def get_resource_name(self) -> bytes:
        return self.log_resource_name

    def get_file_descriptor(self) -> int:
        return self.log_stream_fd

    def fill_buffer(self) -> int:
        import os

        data = os.read(self.log_stream_fd, self.default_buffer_size)
        self.buffer += data
        return len(data)

    def update_position(self, length: int) -> None:
        self.total_consumed_length += length
        self.buffer = self.buffer[length:]

    def get_repositioning_data(self):
        return None

    def close(self) -> None:
        import os

        os.close(self.log_stream_fd)
        self.log_stream_fd = -1


def spool_unix_socket(
    resource: UnixSocketResource,
    spool_dir: str,
) -> int:
    """Pump a connected UnixSocketResource into newline-complete spool files
    under ``spool_dir`` (``spool-<seq>.log``), rolling at 1 MiB, until the
    stream ends.
    Only complete lines are spooled — the trailing partial line stays in the
    resource buffer (update_position consumes exactly what was written),
    mirroring how the reference's atomizer consumes the stream. Returns the
    number of bytes spooled; on EOF the socket is closed. A file reader on
    ``spool_dir`` (``read_text_lines``, or ``spark.readStream.text`` for
    micro-batches) picks the files up."""
    import os

    os.makedirs(spool_dir, exist_ok=True)
    # next index = max existing + 1, so gaps (consumed/archived files)
    # never cause an existing spool file to be overwritten
    existing = [
        int(n[6:14])
        for n in os.listdir(spool_dir)
        if n.startswith("spool-") and n[6:14].isdigit()
    ]
    seq = max(existing) + 1 if existing else 0
    spooled = 0
    pending = b""

    def flush() -> None:
        nonlocal seq, spooled, pending
        path = os.path.join(spool_dir, f"spool-{seq:08d}.log")
        with open(path, "wb") as fh:
            fh.write(pending)
        seq += 1
        spooled += len(pending)
        pending = b""

    while True:
        n = resource.fill_buffer()
        if n == 0:
            # end of stream: the trailing incomplete line becomes a final
            # atom, as ByteStreamLineAtomizer does on stream end
            # (aminer/input/ByteStreamLineAtomizer.py consume_data end_of_
            # stream_flag handling)
            if resource.buffer:
                pending += resource.buffer + b"\n"
                resource.update_position(len(resource.buffer))
            resource.close()
            break
        cut = resource.buffer.rfind(b"\n")
        if cut < 0:
            continue
        pending += resource.buffer[: cut + 1]
        resource.update_position(cut + 1)
        if len(pending) >= 1 << 20:
            flush()
    if pending:
        flush()
    return spooled


def multisource_union(sources: list[DataFrame]) -> DataFrame:
    """Batch analog of SimpleMultisourceAtomSync: union then event-time
    ordering is free (any orderBy/window downstream); no wait protocol
    needed because batch sees the closed set of atoms."""
    out = sources[0]
    for s in sources[1:]:
        out = out.unionByName(s, allowMissingColumns=True)
    return out
