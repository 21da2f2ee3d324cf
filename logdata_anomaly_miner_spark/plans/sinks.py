"""Event sinks.

Re-expresses the reference event-handler layer (semantics only):
- StreamPrinterEventHandler (aminer/events/StreamPrinterEventHandler.py:21-61)
  → operators/base.py format_event (golden text format).
- VolatileLogarithmicBackoffEventHistory (aminer/events/Utils.py:19-48) →
  the violations table itself is the (unbounded, queryable) history.
- SyslogWriterEventHandler (aminer/events/SyslogWriterEventHandler.py:
  24-81) → ``syslog_chunks`` + ``emit_syslog``: the rendered event stream
  chunked into ``[id]`` / ``[id-serial]`` 800-char syslog records through
  an injected ``send(priority, message)`` transport.
- DefaultMailNotificationEventHandler (aminer/events/
  DefaultMailNotificationEventHandler.py:37-181) → ``MailAlertCollector``:
  the collect/grace/alert-gap state machine with injected clock + SMTP
  sender, fed the rendered event strings.

The JSON, Kafka/ZMQ, CSV-projection and scoring handlers are not
implemented.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

LOG_INFO = 6  # syslog.LOG_INFO — numeric so no syslog import is needed


def syslog_chunks(event_text: str, event_id: int) -> list[str]:
    """Chunk one rendered event into syslog records.

    Mirrors SyslogWriterEventHandler.receive_event's line breaker
    (aminer/events/SyslogWriterEventHandler.py:63-81): the rendered event is
    stripped, split into lines, and every line is emitted in 800-byte
    pieces tagged ``[event_id]`` for the first record and
    ``[event_id-serial]`` for continuations — serial counts records across
    the whole event, not per line."""
    out: list[str] = []
    serial = 0
    for data_line in event_text.strip().split("\n"):
        while data_line:
            if serial == 0:
                out.append(f"[{event_id}] {data_line[:800]}")
            else:
                out.append(f"[{event_id}-{serial}] {data_line[:800]}")
            data_line = data_line[800:]
            serial += 1
    return out


def emit_syslog(
    df: DataFrame,
    send,
    start_event_id: int = 0,
    announce: bool | None = None,
) -> int:
    """SyslogWriterEventHandler analog over the rendered ``event_text``
    column, with the transport injected: ``send(priority, message)`` is ``syslog.syslog`` in production, a test
    double for byte-parity. Emits the reference's one-time init record
    (handler construction) then each event's chunk records with sequential
    event ids. The loop is driver-side single-threaded — exactly the
    reference handler shape — and the volume is violations, not the corpus.
    Returns the next event id; continuation calls pass it as
    ``start_event_id`` and by default skip the init record (``announce``
    defaults to ``start_event_id == 0``).

    ORDER-SENSITIVE: event ids are assigned in iteration order, so pass a
    sorted frame (``orderBy(...)``) — a multi-partition frame without a
    sort iterates in nondeterministic partition order."""
    if announce is None:
        announce = start_event_id == 0
    if announce:
        send(LOG_INFO, "Syslog logger initialized")
    event_id = start_event_id
    for r in df.select("event_text").toLocalIterator():
        for message in syslog_chunks(r["event_text"], event_id):
            send(LOG_INFO, message)
        event_id += 1
    return event_id


def syslog_batch_emitter(send):
    """The stateful foreachBatch callback behind :func:`emit_syslog_stream`,
    exposed so the replay/announce discipline is directly testable:
    ids continue across batches, the init record fires exactly once (with
    the first batch, empty leading batches included), and a replayed
    ``batch_id`` (foreachBatch is at-least-once) is skipped rather than
    double-emitted. State is driver-memory only: on driver restart from
    checkpoint ids restart at 0 — checkpointing ``next_id`` durably is
    deployment-specific (e.g. a commit-log table keyed by batch_id)."""
    state = {"next_id": 0, "last_batch": -1}

    def _emit(batch: DataFrame, batch_id: int) -> None:
        if batch_id <= state["last_batch"]:
            return
        state["next_id"] = emit_syslog(
            batch.orderBy("ingest_order"),
            send,
            start_event_id=state["next_id"],
            # announce iff no batch has been processed yet (ids may still
            # be 0 after empty leading batches, hence not next_id == 0)
            announce=state["last_batch"] == -1,
        )
        state["last_batch"] = batch_id

    return _emit


def emit_syslog_stream(rendered_df: DataFrame, send):
    """Streaming emit_syslog: one foreachBatch emitter per micro-batch with
    the :func:`syslog_batch_emitter` id/announce/replay discipline. Each
    micro-batch is sorted by ``ingest_order`` so the id assignment is
    deterministic. ``rendered_df`` carries the rendered ``event_text``
    column that :func:`emit_syslog` consumes. Returns the started query."""
    return (
        rendered_df.writeStream.foreachBatch(syslog_batch_emitter(send))
        .start()
    )


_MAIL_TEMPLATE = "From: %s\nTo: %s\nSubject: %s\n\n%s\n"


class MailAlertCollector:
    """DefaultMailNotificationEventHandler's pooling state machine
    (aminer/events/DefaultMailNotificationEventHandler.py:96-181) with the
    clock and SMTP transport injected.

    Events are collected (up to ``max_events_per_message``) and flushed as
    one message once ``event_collect_time`` elapses; after a flush the next
    alert must wait ``current_alert_gap`` seconds, a gap that escalates
    ×1.5 toward ``max_alert_gap`` while alerts keep arriving inside it and
    resets to ``min_alert_gap`` once one full gap passes quietly.
    ``sender(from_addr, to_addr, message)`` replaces
    ``SMTP('127.0.0.1').sendmail``; ``clock()`` replaces ``time.time``."""

    def __init__(
        self,
        sender,
        from_address: str,
        target_address: str,
        subject_prefix: str = "aminer Alerts:",
        alert_grace_time: float = 0,
        event_collect_time: float = 10,
        min_alert_gap: float = 600,
        max_alert_gap: float = 600,
        max_events_per_message: int = 1000,
        clock=None,
    ):
        import re
        import shlex
        import time as _time

        # the reference shell-quotes addresses and prefix at init (a
        # sendmail-era artifact: 'aminer Alerts:' renders WITH the quotes
        # in the subject) — mirrored for byte parity
        from_address = shlex.quote(from_address)
        target_address = shlex.quote(target_address)
        is_email = re.compile(
            r"(^[a-zA-Z0-9_.+-]+@[a-zA-Z0-9-]+\.[a-zA-Z0-9-]+$)|^[a-zA-Z0-9]+@localhost$"
        )
        if not is_email.match(target_address) or not is_email.match(from_address):
            raise ValueError("from/target must be email addresses")
        self.sender = sender
        self.from_address = from_address
        self.target_address = target_address
        self.subject_prefix = shlex.quote(subject_prefix)
        self.clock = clock if clock is not None else _time.time
        self.event_collect_time = event_collect_time
        self.min_alert_gap = min_alert_gap
        self.max_alert_gap = max_alert_gap
        self.max_events_per_message = max_events_per_message
        self.alert_grace_time_end = (
            self.clock() + alert_grace_time if alert_grace_time > 0 else 0
        )
        self.events_collected = 0
        self.event_collection_start_time = 0.0
        self.last_alert_time = 0.0
        self.next_alert_time = 0.0
        self.current_alert_gap = min_alert_gap
        self.current_message = ""

    def receive_event(self, event_string: str) -> None:
        """Collect one rendered event string (EventData.receive_event_string
        form — every line newline-terminated, no trailing blank line)."""
        if self.alert_grace_time_end != 0:
            if self.alert_grace_time_end >= self.clock():
                return
            self.alert_grace_time_end = 0
        current_time = self.clock()
        if self.events_collected < self.max_events_per_message:
            if self.events_collected == 0:
                self.event_collection_start_time = current_time
            self.events_collected += 1
            self.current_message += event_string
        if self.next_alert_time == 0:
            if self.last_alert_time != 0:
                # first event after a sent notification: enforce the gap,
                # escalating it while alerts keep arriving inside it
                self.next_alert_time = self.last_alert_time + self.current_alert_gap
                if self.next_alert_time < current_time:
                    self.current_alert_gap = self.min_alert_gap
                    self.last_alert_time = 0
                    self.next_alert_time = current_time + self.event_collect_time
                else:
                    self.current_alert_gap = min(
                        self.current_alert_gap * 1.5, self.max_alert_gap
                    )
            else:
                self.next_alert_time = current_time + self.event_collect_time
        if self.next_alert_time != 0 and current_time >= self.next_alert_time:
            self.send_notification(current_time)

    def do_timer(self, trigger_time: float) -> float:
        """Timer hook: flush if the collect window elapsed; 10 s period."""
        if self.next_alert_time != 0 and trigger_time >= self.next_alert_time:
            self.send_notification(trigger_time)
        return 10

    def send_notification(self, trigger_time: float) -> None:
        """Flush the pooled events as one mail through the injected sender."""
        if self.events_collected == 0:
            return
        subject_text = f"{self.subject_prefix} Collected Events"
        if self.last_alert_time != 0:
            subject_text += f" in the last {trigger_time - self.last_alert_time} seconds"
        message = _MAIL_TEMPLATE % (
            self.from_address,
            self.target_address,
            subject_text,
            self.current_message,
        )
        self.sender(self.from_address, self.target_address, message)
        self.last_alert_time = trigger_time
        self.events_collected = 0
        self.current_message = ""
        self.next_alert_time = 0


def collect_mail_alerts(df: DataFrame, collector: MailAlertCollector) -> None:
    """Feed rendered events (``event_text`` in StreamPrinter form, trailing
    blank line) into a MailAlertCollector — the Spark-side glue for the mail sink. Driver-side
    by design: a mail alerter is a single egress point, and the volume is
    violations, not the corpus.

    ORDER-SENSITIVE: the pooled message concatenates in iteration order, so
    pass a sorted frame — a multi-partition frame without a sort iterates
    in nondeterministic partition order."""
    for r in df.select("event_text").toLocalIterator():
        # StreamPrinter events end with a blank line; EventData strings
        # end each line with exactly one newline
        collector.receive_event(r["event_text"].rstrip("\n") + "\n")


def mail_batch_collector(collector: MailAlertCollector):
    """foreachBatch callback that feeds each micro-batch, in
    ``ingest_order`` order, into the (stateful) collector, with a replay guard: an
    at-least-once re-invocation of the same ``batch_id`` would double-pool
    every event in the batch into one mail, so replays are skipped.
    Collector state is driver-memory only — a driver restart re-pools from
    scratch."""
    state = {"last_batch": -1}

    def _collect(batch: DataFrame, batch_id: int) -> None:
        if batch_id <= state["last_batch"]:
            return
        collect_mail_alerts(batch.orderBy("ingest_order"), collector)
        state["last_batch"] = batch_id

    return _collect

