"""Allowlist / blocklist event mutation — batch analog.

The reference's remote-control surface lets an operator mutate a LIVE
detector: NewMatchPathValueDetector.allowlist_event adds a value to
known_values_set so it stops alarming (NewMatchPathValueDetector.py:156-175);
EntropyDetector.allowlist_event / blocklist_event append a path to
constraint_list / ignore_list (EntropyDetector.py:238-272). In the batch
engine detector state IS a baseline table and screening lists ARE plain
config, so the analog is programmatic edits to those, applied before the
next run (the reference's mutation also only affects future atoms):

- a value allowlist / blocklist is a plain edit of the baseline DataFrame
  (``unionByName`` + ``dropDuplicates`` / ``left_anti`` join) — rerunning
  the check with the edited baseline reproduces exactly the reference's
  post-mutation behavior.
- ``allowlist_path`` / ``blocklist_path`` append to the constraint / ignore
  column lists (an atom is screened out when an ignore column is non-null
  or a constraint column is null), returning the reference's confirmation
  message alongside the new tuple.
"""

from __future__ import annotations

from collections.abc import Sequence


def allowlist_path(constraint_cols: Sequence[str], path: str) -> tuple[tuple[str, ...], str]:
    """EntropyDetector.allowlist_event (:238-254): append a path to the
    constraint list; atoms missing it are skipped from then on."""
    cols = tuple(constraint_cols)
    if path not in cols:
        cols = (*cols, path)
    return cols, f"Allowlisted path {path} in Analysis.EntropyDetector."


def blocklist_path(ignore_cols: Sequence[str], path: str) -> tuple[tuple[str, ...], str]:
    """EntropyDetector.blocklist_event (:256-272): append a path to the
    ignore list; atoms containing it are skipped from then on."""
    cols = tuple(ignore_cols)
    if path not in cols:
        cols = (*cols, path)
    return cols, f"Blocklisted path {path} in Analysis.EntropyDetector."


def allowlist_event(
    event_type: str,
    event_data: str,
    allowlisting_data,
    constraint_cols: Sequence[str],
) -> tuple[tuple[str, ...], str]:
    """Full reference surface of EntropyDetector.allowlist_event
    (:238-254): rejects events from another source and any allowlisting
    payload, then appends the path to the constraint list (idempotent) and
    returns the confirmation message."""
    if event_type != "Analysis.EntropyDetector":
        raise Exception("Event not from this source")
    if allowlisting_data is not None:
        raise Exception("Allowlisting data not understood by this detector")
    cols, _ = allowlist_path(constraint_cols, event_data)
    return cols, f"Allowlisted path {event_data} in {event_type}."


def blocklist_event(
    event_type: str,
    event_data: str,
    blocklisting_data,
    ignore_cols: Sequence[str],
) -> tuple[tuple[str, ...], str]:
    """Full reference surface of EntropyDetector.blocklist_event
    (:256-272), mirroring its error semantics and message."""
    if event_type != "Analysis.EntropyDetector":
        raise Exception("Event not from this source")
    if blocklisting_data is not None:
        raise Exception("Blocklisting data not understood by this detector")
    cols, _ = blocklist_path(ignore_cols, event_data)
    return cols, f"Blocklisted path {event_data} in {event_type}."
