"""Byte-parity for the three ops-plumbing operators that close SURVEY §2 to
85/85: SyslogWriterEventHandler, DefaultMailNotificationEventHandler and
UnixSocketLogDataResource.

Each test drives the REFERENCE implementation live in-process with its
transport monkeypatched (`syslog.syslog` / the handler module's `SMTP` /
a real AF_UNIX socket) and a deterministic clock, then drives the Spark-side
analog (plans/sinks.py emit_syslog + MailAlertCollector,
sources/readers.py UnixSocketResource) on the same inputs and byte-compares
what reached the transport. Same discipline as tests/test_demo_e2e_parity.py:
the reference itself emits the golden, nothing is hand-transcribed.
"""

from __future__ import annotations

import os
import socket
import sys
import time as time_mod
import types

import pytest
from pyspark.sql import functions as F

from logdata_anomaly_miner_spark.operators.base import format_event_lines
from logdata_anomaly_miner_spark.plans.sinks import (
    LOG_INFO,
    MailAlertCollector,
    collect_mail_alerts,
    emit_syslog,
    syslog_chunks,
)
from logdata_anomaly_miner_spark.sources.readers import (
    UnixSocketResource,
    read_text_lines,
    spool_unix_socket,
)

REFERENCE_LIB = "/root/reference/source/root/usr/lib/logdata-anomaly-miner"
FROZEN = 1710504060.0

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_LIB), reason="reference tree not present"
)


def _ref_import():
    if REFERENCE_LIB not in sys.path:
        sys.path.insert(0, REFERENCE_LIB)


class _Ctx:
    """Duck-typed AnalysisContext carrying exactly what the event handlers
    read: component naming, suppression list, config properties (the
    reference's own TestBase builds the same minimal surface)."""

    def __init__(self, props=None):
        self.suppress_detector_list = []
        self.aminer_config = types.SimpleNamespace(config_properties=props or {})

    def get_name_by_component(self, component):
        return "ParityComponent"


class ParitySource:
    """Stub detector; its class name appears in the rendered event."""


def _ref_events():
    """Three reference-native events: multi-line, overlong (>800 chars,
    forcing chunk continuations), and single-line."""
    _ref_import()
    from aminer.input.LogAtom import LogAtom
    from aminer.parsing.FixedDataModelElement import FixedDataModelElement
    from aminer.parsing.MatchContext import MatchContext
    from aminer.parsing.ParserMatch import ParserMatch

    def atom(data: bytes):
        dme = FixedDataModelElement("s1", data)
        match = dme.get_match_element("match", MatchContext(data))
        return LogAtom(data, ParserMatch(match), FROZEN, None)

    long_line = b"x" * 1900
    return [
        (
            "Analysis.ParitySource",
            "New value(s) detected",
            [b" pid=42", b" pid=43"],
            atom(b" pid=42"),
        ),
        (
            "Analysis.ParitySource",
            "Overlong value detected",
            [long_line],
            atom(long_line),
        ),
        (
            "Analysis.ParitySource",
            "Plain event",
            [b"short line"],
            atom(b"short line"),
        ),
        (
            # EventData counts ALL loglines in the header but skips empty
            # ones in the body (EventData.py:60-68) — header says 2 lines,
            # body renders 1
            "Analysis.ParitySource",
            "Empty-logline event",
            [b"kept line", b""],
            atom(b"kept line"),
        ),
    ]


def test_syslog_writer_byte_parity(spark, monkeypatch):
    """Reference SyslogWriterEventHandler (patched syslog) vs Spark
    format_event_lines -> emit_syslog: identical (priority, record) streams,
    including the init record, [id]/[id-serial] numbering and 800-char
    chunking across a 1900-char line."""
    _ref_import()
    import syslog

    captured_ref: list[tuple[int, str]] = []
    monkeypatch.setattr(syslog, "openlog", lambda *a, **k: None)
    monkeypatch.setattr(
        syslog, "syslog", lambda pri, msg: captured_ref.append((pri, msg))
    )
    from aminer.events.SyslogWriterEventHandler import SyslogWriterEventHandler

    ctx = _Ctx()
    handler = SyslogWriterEventHandler(ctx, "aminer")
    source = ParitySource()
    events = _ref_events()
    for event_type, message, loglines, log_atom in events:
        handler.receive_event(event_type, message, loglines, None, log_atom, source)

    # Spark side: same events as a violations frame, rendered + chunked
    rows = [
        (i, "ParitySource", message, FROZEN, [l.decode() for l in loglines])
        for i, (event_type, message, loglines, _atom) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "eid int, detector string, message string, ts double, loglines array<string>"
    )
    rendered = format_event_lines(df, "ParityComponent").orderBy("eid")
    captured_spark: list[tuple[int, str]] = []
    next_id = emit_syslog(rendered, lambda pri, msg: captured_spark.append((pri, msg)))

    assert captured_ref[0] == (LOG_INFO, "Syslog logger initialized")
    assert captured_spark == captured_ref
    assert next_id == len(events)
    # the overlong event produced >2 chunks and continuation tags
    assert any("-2]" in msg for _, msg in captured_spark)
    # the empty-logline event (eid 3): header counts both lines, body
    # renders only the non-empty one
    msgs = [m for _, m in captured_spark]
    assert '[3-1] ParitySource: "ParityComponent" (2 lines)' in msgs
    assert "[3-2]   kept line" in msgs
    assert not any(m.startswith("[3-3]") for m in msgs)

    # continuation call: ids continue, no second init record
    more = emit_syslog(
        rendered.limit(1), lambda pri, msg: captured_spark.append((pri, msg)),
        start_event_id=next_id,
    )
    assert more == next_id + 1
    assert captured_spark.count((LOG_INFO, "Syslog logger initialized")) == 1
    assert any(msg.startswith(f"[{next_id}] ") for _, msg in captured_spark)


def test_format_event_lines_null_safe(spark):
    """Null loglines/message/detector must not yield NULL event_text (which
    would crash the driver-side sinks mid-stream)."""
    df = spark.createDataFrame(
        [(0, None, None, FROZEN, None)],
        "eid int, detector string, message string, ts double, loglines array<string>",
    )
    out = format_event_lines(df, "C").collect()[0]["event_text"]
    assert out is not None and "(0 lines)" in out
    sent = []
    emit_syslog(format_event_lines(df, "C"), lambda p, m: sent.append(m))
    assert len(sent) >= 2  # init + at least one chunk


def test_syslog_chunks_unit():
    text = "a" * 1650 + "\nb\n"
    got = syslog_chunks(text, 7)
    assert got[0] == "[7] " + "a" * 800
    assert got[1] == "[7-1] " + "a" * 800
    assert got[2] == "[7-2] " + "a" * 50
    assert got[3] == "[7-3] b"


def _drive_mail_scenario(receive, do_timer, clock):
    """One scripted alert scenario, used verbatim on both sides: collect +
    flush, gap escalation (600*1.5 capped at 600), quiet-gap reset."""
    clock[0] = FROZEN
    receive(0)
    clock[0] = FROZEN + 2
    receive(1)
    clock[0] = FROZEN + 11
    do_timer(FROZEN + 11)  # flush #1
    clock[0] = FROZEN + 12
    receive(2)  # inside the alert gap -> waits until last_alert + 600
    clock[0] = FROZEN + 611
    do_timer(FROZEN + 611)  # flush #2 ("in the last 600.0 seconds")
    clock[0] = FROZEN + 1500
    receive(0)  # a full gap passed quietly -> gap resets, collect window
    clock[0] = FROZEN + 1511
    do_timer(FROZEN + 1511)  # flush #3 (plain subject again)


def test_mail_notification_byte_parity(monkeypatch):
    """Reference DefaultMailNotificationEventHandler (patched SMTP + frozen
    clock) vs MailAlertCollector on the same event/clock script: identical
    (from, to, message) triples across collect, gap escalation and reset."""
    _ref_import()
    import aminer.events.DefaultMailNotificationEventHandler as M

    captured_ref: list[tuple[str, str, str]] = []

    class FakeSMTP:
        def __init__(self, host, port=25, timeout=None):
            pass

        def sendmail(self, from_addr, to_addr, message):
            captured_ref.append((from_addr, to_addr, message))

        def quit(self):
            pass

    monkeypatch.setattr(M, "SMTP", FakeSMTP)
    clock = [FROZEN]
    monkeypatch.setattr(time_mod, "time", lambda: clock[0])

    ctx = _Ctx(
        {
            "MailAlerting.TargetAddress": "root@localhost",
            "MailAlerting.FromAddress": "aminer@localhost",
        }
    )
    handler = M.DefaultMailNotificationEventHandler(ctx)
    source = ParitySource()
    events = _ref_events()

    from aminer.events.EventData import EventData

    event_strings = [
        EventData(et, msg, lines, None, atom, source, ctx).receive_event_string()
        for et, msg, lines, atom in events
    ]

    def ref_receive(i):
        et, msg, lines, atom = events[i]
        handler.receive_event(et, msg, lines, None, atom, source)

    _drive_mail_scenario(ref_receive, handler.do_timer, clock)
    assert len(captured_ref) == 3

    # Spark-side collector, same clock script, same rendered event strings
    captured_eng: list[tuple[str, str, str]] = []
    coll = MailAlertCollector(
        sender=lambda f, t, m: captured_eng.append((f, t, m)),
        from_address="aminer@localhost",
        target_address="root@localhost",
        clock=lambda: clock[0],
    )
    _drive_mail_scenario(
        lambda i: coll.receive_event(event_strings[i]), coll.do_timer, clock
    )
    assert captured_eng == captured_ref
    assert "in the last 600.0 seconds" in captured_eng[1][2]


def test_mail_collector_spark_glue(spark):
    """collect_mail_alerts feeds StreamPrinter-form event_texts (trailing
    blank line) into the collector as EventData-form strings (single
    trailing newline)."""
    clock = [FROZEN]
    captured: list[tuple[str, str, str]] = []
    coll = MailAlertCollector(
        sender=lambda f, t, m: captured.append((f, t, m)),
        from_address="aminer@localhost",
        target_address="root@localhost",
        clock=lambda: clock[0],
    )
    df = spark.createDataFrame(
        [(0, "D", "m1", FROZEN, ["l1"]), (1, "D", "m2", FROZEN, ["l2"])],
        "eid int, detector string, message string, ts double, loglines array<string>",
    )
    collect_mail_alerts(format_event_lines(df, "C").orderBy("eid"), coll)
    clock[0] = FROZEN + 11
    coll.do_timer(clock[0])
    assert len(captured) == 1
    body = captured[0][2].split("\n\n", 1)[1]
    assert body.count("(1 lines)") == 2 and "\n\n" not in body.rstrip("\n")


def test_emit_syslog_stream_continues_ids(spark, tmp_path):
    """Streaming syslog sink: event ids continue across micro-batches and
    the init record is emitted exactly once (first batch)."""

    from logdata_anomaly_miner_spark.plans.sinks import emit_syslog_stream

    schema = "eid int, detector string, message string, ts double, loglines array<string>"
    d = str(tmp_path)
    spark.createDataFrame(
        [(0, "D", "m0", FROZEN, ["a"]), (1, "D", "m1", FROZEN, ["b"])], schema
    ).coalesce(1).write.parquet(f"{d}/in/f1")
    time.sleep(1.1)  # distinct mod times -> deterministic batch order
    spark.createDataFrame([(2, "D", "m2", FROZEN, ["c"])], schema).coalesce(
        1
    ).write.parquet(f"{d}/in/f2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/in/*")
    )
    rendered = format_event_lines(stream, "C").withColumn(
        "ingest_order", F.col("eid")
    )
    sent: list[tuple[int, str]] = []
    q = emit_syslog_stream(rendered, lambda pri, msg: sent.append((pri, msg)))
    q.processAllAvailable()
    q.stop()

    msgs = [m for _, m in sent]
    assert msgs.count("Syslog logger initialized") == 1
    first_tags = [m.split(" ")[0] for m in msgs if m.startswith("[") and "-" not in m.split(" ")[0]]
    assert first_tags == ["[0]", "[1]", "[2]"]


def test_syslog_emitter_empty_first_batch_and_replay(spark):
    """The foreachBatch discipline, driven directly: the init record fires
    exactly once even when the first micro-batch is empty, and a replayed
    batch_id (at-least-once delivery) is skipped instead of double-emitted
    with skewed ids."""
    from logdata_anomaly_miner_spark.plans.sinks import syslog_batch_emitter

    schema = "event_text string, ingest_order int"
    empty = spark.createDataFrame([], schema)
    b1 = spark.createDataFrame([("e0", 0), ("e1", 1)], schema)
    b2 = spark.createDataFrame([("e2", 2)], schema)

    sent: list[tuple[int, str]] = []
    emit = syslog_batch_emitter(lambda pri, msg: sent.append((pri, msg)))

    emit(empty, 0)      # empty leading batch: announce, no events
    emit(b1, 1)
    emit(b1, 1)         # replay of batch 1: must be a no-op
    emit(b2, 2)

    msgs = [m for _, m in sent]
    assert msgs.count("Syslog logger initialized") == 1
    first_tags = [
        m.split(" ")[0]
        for m in msgs
        if m.startswith("[") and "-" not in m.split(" ")[0]
    ]
    assert first_tags == ["[0]", "[1]", "[2]"]


def test_mail_batch_collector_replay_skipped(spark):
    """A replayed micro-batch must not double-pool its events into the next
    mail flush."""
    from logdata_anomaly_miner_spark.plans.sinks import mail_batch_collector

    now = [1000.0]
    mails: list[tuple[str, str, str]] = []
    collector = MailAlertCollector(
        lambda f, t, m: mails.append((f, t, m)),
        "root@localhost",
        "root@localhost",
        event_collect_time=5,
        clock=lambda: now[0],
    )
    batch = spark.createDataFrame([("evt line\n\n", 0)], "event_text string, ingest_order int")

    collect = mail_batch_collector(collector)
    collect(batch, 0)
    collect(batch, 0)  # replay: without the guard this double-pools the event
    now[0] = 1006.0
    collector.do_timer(now[0])  # collect window elapsed -> flush
    assert len(mails) == 1
    assert mails[0][2].count("evt line") == 1


def test_mail_collector_rejects_bad_address():
    with pytest.raises(ValueError):
        MailAlertCollector(lambda *a: None, "not-an-email", "root@localhost")


@pytest.fixture()
def unix_server(tmp_path):
    path = str(tmp_path / "parity.sock")
    srv = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
    srv.bind(path)
    srv.listen(2)
    yield path, srv
    srv.close()


PAYLOAD = b"alpha 1\nbeta 2\ngamma 3\n" + b"z" * 300 + b"\npartial-tail"


def _serve_once(srv, payload=PAYLOAD):
    conn, _ = srv.accept()
    conn.sendall(payload)
    conn.close()


def test_unix_socket_resource_parity(unix_server):
    """Reference UnixSocketLogDataResource vs UnixSocketResource on the same
    AF_UNIX server: identical open/reopen semantics, byte-identical buffers,
    identical consumed-length accounting, None repositioning data."""
    _ref_import()
    from aminer.input.LogStream import UnixSocketLogDataResource

    path, srv = unix_server
    name = b"unix://" + path.encode()

    # constructor guards
    with pytest.raises(Exception):
        UnixSocketLogDataResource(b"file://" + path.encode(), -1)
    with pytest.raises(ValueError):
        UnixSocketResource(b"file://" + path.encode())

    # absent endpoint -> retryable False. The reference INTENDS False here
    # (LogStream.py:225 returns False on ENOENT/ECONNREFUSED) but its
    # error-logging call reads `socketError.msg`, an attribute OSError does
    # not have, so this version raises AttributeError before reaching the
    # return — we implement the documented contract, not the crash
    ghost = b"unix://" + path.encode() + b".ghost"
    with pytest.raises(AttributeError):
        UnixSocketLogDataResource(ghost, -1).open()
    assert UnixSocketResource(ghost).open() is False

    def drain(res):
        assert res.open() is True
        # still-open reopen: False; non-reopen open: raises
        assert res.open(reopen_flag=True) is False
        with pytest.raises(Exception):
            res.open()
        _serve_once(srv)
        buf = b""
        while True:
            n = res.fill_buffer()
            if n == 0:
                break
        buf = bytes(res.buffer)
        res.update_position(10)
        consumed = res.total_consumed_length
        rest = bytes(res.buffer)
        assert res.get_repositioning_data() is None
        res.close()
        assert res.get_file_descriptor() == -1
        return buf, consumed, rest

    got_ref = drain(UnixSocketLogDataResource(name, -1))
    got_eng = drain(UnixSocketResource(name))
    assert got_eng == got_ref
    assert got_ref[0] == PAYLOAD


def test_unix_socket_spool_to_spark(spark, unix_server, tmp_path):
    """End-to-end engine path: socket -> spool files -> atom frame. Complete
    lines spool as-is; the trailing incomplete line becomes the final atom
    (ByteStreamLineAtomizer end-of-stream semantics)."""
    path, srv = unix_server
    res = UnixSocketResource(b"unix://" + path.encode())
    assert res.open() is True
    _serve_once(srv)
    spool = str(tmp_path / "spool")
    # under the 1 MiB roll size -> one spool file, so batch ingest_order is line
    # order (across many spool files, order is per-file — the streaming
    # reader sequences files by arrival instead)
    n = spool_unix_socket(res, spool)
    assert n == len(PAYLOAD) + 1  # +1: newline appended to the final atom
    assert res.get_file_descriptor() == -1  # EOF closed it
    df = read_text_lines(spark, spool, max_line_length=100, source_tag="unix://x")
    rows = df.orderBy("ingest_order").collect()
    want = PAYLOAD.decode().split("\n")
    assert [r["raw"] for r in rows] == want
    assert [r["overlong"] for r in rows] == [False, False, False, True, False]


def test_spool_seq_survives_gaps(tmp_path):
    """Spool numbering is max+1, so consumed/archived files (gaps) never
    cause an overwrite of surviving spool files."""

    class FakeResource:
        buffer = b""
        fills = iter([b"new data\n", b""])

        def fill_buffer(self):
            data = next(self.fills)
            self.buffer += data
            return len(data)

        def update_position(self, n):
            self.buffer = self.buffer[n:]

        def close(self):
            pass

    spool = tmp_path / "spool"
    spool.mkdir()
    (spool / "spool-00000000.log").write_bytes(b"old0\n")
    (spool / "spool-00000002.log").write_bytes(b"old2\n")
    spool_unix_socket(FakeResource(), str(spool))
    assert (spool / "spool-00000002.log").read_bytes() == b"old2\n"
    assert (spool / "spool-00000003.log").read_bytes() == b"new data\n"
