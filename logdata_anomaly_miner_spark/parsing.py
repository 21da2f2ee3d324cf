"""Columnar parsing-model layer.

Re-expresses the reference's ModelElement grammar (aminer/parsing/*.py —
see SURVEY.md §2.2) Spark-first: instead of a byte-cursor PEG interpreter
walking each line (MatchContext + get_match_element recursion), the model
DAG **compiles to one anchored Java regex with named groups** plus a typed
extraction per group. Parsing a table of raw lines is then a single
whole-stage-codegen'd projection — no per-row Python, no cursor.

Element → reference → here:
  fixed(s)              FixedDataModelElement:19        literal (escaped)
  wordlist([...])       FixedWordlistDataModelElement   (w1|w2|...)
  any_bytes             AnyByteDataModelElement:18      (.+)
  delimited(d)          DelimitedDataModelElement:20    ([^d]*) + delim
  variable_bytes(al)    VariableByteDataModelElement    ([al]+)
  whitespace_limited    WhiteSpaceLimitedDataModelElement ([^ \\t]+)
  hex_string            HexStringModelElement:19        ([0-9a-f]+)
  base64_string         Base64StringModelElement:21     group + unbase64
  decimal_integer       DecimalIntegerValueModelElement ([+-]?\\d+) → long
  decimal_float         DecimalFloatValueModelElement   sign/exp form → double
  ip_address            IpAddressDataModelElement:19    dotted quad → packed long
  datetime_el(fmt)      DateTimeModelElement:70         group + to_timestamp
  seq(...)              SequenceModelElement:19         concatenation
  first_match(...)      FirstMatchModelElement:17       (?:alt1|alt2) ordered
  optional(child)       OptionalMatchModelElement:18    (?:...)?
  repeated(child,m,n)   RepeatedElementDataModelElement (?:...){m,n} (value = span)

Value-dependent branching (ElementValueBranchModelElement:22) cannot be one
regex: the reference-config loader relaxes it to a first match over all
branch models and records that as an approximation.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class Element:
    pattern: str                      # regex fragment (group included if named)
    name: str | None = None           # None = anonymous (no capture)
    caster: str | None = None         # long | double | base64 | ip | ts:<fmt>
    children: list = field(default_factory=list)


def _grp(name: str | None, inner: str) -> str:
    if name is None:
        return f"(?:{inner})"
    safe = re.sub(r"[^A-Za-z0-9]", "", name)
    # Java named groups must be non-empty and start with a Latin letter —
    # a digit-leading or symbol-only name would make the whole compiled
    # regex throw PatternSyntaxException at execution time
    if not safe or not safe[0].isalpha():
        safe = "g" + safe
    return f"(?<{safe}>{inner})"


def fixed(text: str) -> Element:
    return Element(re.escape(text))


def wordlist(name: str, words: list[str]) -> Element:
    alts = "|".join(re.escape(w) for w in sorted(words, key=len, reverse=True))
    return Element(_grp(name, alts), name)


def any_bytes(name: str) -> Element:
    return Element(_grp(name, ".+"), name)


def delimited(name: str, delim: str, consume_delimiter: bool = True) -> Element:
    """Value up to (optionally including) ``delim``. Single-char delimiters
    compile to a negated class; multi-char delimiters need the tempered
    dot ((?:(?!delim).)*) — a negated CLASS of the delimiter's characters
    would wrongly forbid each character individually."""
    d = re.escape(delim)
    # [\s\S] not (?s).: an inline DOTALL flag would leak into the rest of
    # the composed model regex
    inner = f"[^{d}]*" if len(delim) == 1 else f"(?:(?!{d})[\\s\\S])*"
    pat = _grp(name, inner) + (d if consume_delimiter else "")
    return Element(pat, name)


def variable_bytes(name: str, alphabet: str) -> Element:
    return Element(_grp(name, f"[{re.escape(alphabet)}]+"), name)


def whitespace_limited(name: str) -> Element:
    return Element(_grp(name, r"[^ \t]+"), name)


def hex_string(name: str, allow_upper: bool = False) -> Element:
    cls = "0-9a-fA-F" if allow_upper else "0-9a-f"
    return Element(_grp(name, f"[{cls}]+"), name)


def base64_string(name: str) -> Element:
    return Element(_grp(name, r"[A-Za-z0-9+/]+={0,2}"), name, caster="base64")


def decimal_integer(name: str, allow_sign: bool = True) -> Element:
    sign = r"[+-]?" if allow_sign else ""
    return Element(_grp(name, sign + r"\d+"), name, caster="long")


def decimal_float(name: str) -> Element:
    return Element(_grp(name, r"[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"), name, caster="double")


def decimal_float_modes(
    name: str,
    sign_type: str = "none",
    pad_type: str = "none",
    exponent_type: str = "none",
) -> Element:
    """DecimalFloatValueModelElement with the reference's full mode surface
    (aminer/parsing/DecimalFloatValueModelElement.py:24-75):

    - sign_type: 'none' (digits only), 'optional' (minus allowed),
      'mandatory' (must start with + or -);
    - pad_type: 'none' (no leading zeros except '0' / '0.x'),
      'zero' (leading zeros allowed), 'blank' (leading spaces allowed);
    - exponent_type: 'none' | 'optional' | 'mandatory'.
    """
    sign = {"none": "", "optional": "-?", "mandatory": "[+-]"}[sign_type]
    strict_int = r"(?:0|[1-9]\d*)"
    intpart = {
        "none": strict_int,
        "zero": r"\d+",
        "blank": " *" + strict_int,
    }[pad_type]
    exp = {
        "none": "",
        "optional": r"(?:[eE][+-]?\d+)?",
        "mandatory": r"[eE][+-]?\d+",
    }[exponent_type]
    return Element(
        _grp(name, sign + intpart + r"(?:\.\d+)?" + exp), name, caster="double"
    )


def ip_address(name: str) -> Element:
    quad = r"\d{1,3}(?:\.\d{1,3}){3}"
    return Element(_grp(name, quad), name, caster="ip")


def ip_address_v6(name: str) -> Element:
    """IPv6 form of IpAddressDataModelElement (reference
    aminer/parsing/IpAddressDataModelElement.py:19-120 with ipv6=True):
    full and ::-compressed textual forms. The typed value is the matched
    string (Spark has no 128-bit integral; the reference's packed-bytes
    match_object ≙ the canonical text here)."""
    h = r"[0-9a-fA-F]{1,4}"
    v4 = r"\d{1,3}(?:\.\d{1,3}){3}"
    # Alternatives ordered so a backtracking engine picks the LONGEST form
    # when the element is embedded unanchored in a log-line regex: forms
    # ending in a hex group / v4 tail come before forms ending in "::"
    # (otherwise "fe80::1" would match only "fe80::"). The mixed forms need
    # no explicit "::" marker: "(?:h:){m}" always consumes its trailing
    # colon, so "(?::h){n}" can only attach at a double colon.
    pat = (
        rf"(?:{h}:){{7}}{h}"                      # full 8 groups
        rf"|(?:{h}:){{6}}{v4}"                    # full with v4 tail
        rf"|::(?:[fF]{{4}}(?::0{{1,4}})?:)?{v4}"  # ::ffff:1.2.3.4 / ::1.2.3.4
        rf"|(?:{h}:){{1,5}}:{v4}"                 # 1::1.2.3.4 etc.
        rf"|{h}:(?::{h}){{1,6}}"
        rf"|(?:{h}:){{1,2}}(?::{h}){{1,5}}"
        rf"|(?:{h}:){{1,3}}(?::{h}){{1,4}}"
        rf"|(?:{h}:){{1,4}}(?::{h}){{1,3}}"
        rf"|(?:{h}:){{1,5}}(?::{h}){{1,2}}"
        rf"|(?:{h}:){{1,6}}:{h}"
        rf"|(?:{h}:){{1,7}}:"
        rf"|:(?::{h}){{1,7}}"
        rf"|::"
    )
    return Element(_grp(name, f"(?:{pat})"), name)


def datetime_el(name: str, fmt: str, pattern: str) -> Element:
    """pattern matches the textual form; fmt is the Spark datetime pattern
    used for the typed value (to_timestamp)."""
    return Element(_grp(name, pattern), name, caster=f"ts:{fmt}")


def debug_el(name: str) -> Element:
    """DebugModelElement (reference aminer/parsing/DebugModelElement.py:
    22-49): matches zero bytes and reports the match context at its
    position. Batch analog: a zero-width lookahead capture of the
    UNCONSUMED remainder at this point in the sequence — the column holds
    exactly what DebugMatchContext (MatchContext.py:47-104) would log. In
    a distributed run trace output belongs in the result table, not
    stderr; pair with df.explain() for plan-level tracing."""
    return Element("(?=" + _grp(name, ".*") + ")", name)


def seq(*children: Element) -> Element:
    e = Element("".join(c.pattern for c in children))
    e.children = list(children)
    return e


def first_match(*children: Element) -> Element:
    e = Element("(?:" + "|".join(c.pattern for c in children) + ")")
    e.children = list(children)
    return e


def optional(child: Element) -> Element:
    e = Element(f"(?:{child.pattern})?")
    e.children = [child]
    return e


def repeated(child: Element, min_n: int = 0, max_n: int | None = None,
             name: str | None = None) -> Element:
    """Whole repeated span captured under `name`; per-item values are
    recovered downstream with regexp_extract_all over that span (Spark has
    no per-iteration capture, same as any single-pass regex engine)."""
    bound = f"{{{min_n},{max_n if max_n is not None else ''}}}"
    inner = f"(?:{child.pattern}){bound}"
    e = Element(_grp(name, inner) if name else inner, name)
    e.children = [child]
    return e


def _collect_typed(e: Element, out: list[tuple[str, str | None]]) -> None:
    if e.name is not None:
        out.append((re.sub(r"[^A-Za-z0-9]", "", e.name), e.caster))
    for c in e.children:
        _collect_typed(c, out)


def _ip_to_long(c: Column) -> Column:
    parts = F.split(c, r"\.")
    return (
        F.element_at(parts, 1).cast("long") * 16777216
        + F.element_at(parts, 2).cast("long") * 65536
        + F.element_at(parts, 3).cast("long") * 256
        + F.element_at(parts, 4).cast("long")
    )


def compile_model(model: Element) -> str:
    """Full-consumption anchored regex (ByteStreamLineAtomizer requires the
    model to consume the whole line, ByteStreamLineAtomizer.py:180-203)."""
    return f"^{model.pattern}$"


def apply_caster(val: Column, caster: str | None) -> Column:
    """Typed conversion for an extracted string value (the Element caster
    vocabulary: long | double | base64 | ip | ts:<fmt>)."""
    if caster == "long":
        return val.try_cast("long")
    if caster == "double":
        return val.try_cast("double")
    if caster == "base64":
        return F.unbase64(val)
    if caster == "ip":
        return _ip_to_long(val)
    if caster and caster.startswith("ts:"):
        # try_: a regex-matching but calendar-invalid value ('2024-99-99')
        # must yield null, not abort the job under ANSI mode — unparsed
        # atoms are first-class
        return F.try_to_timestamp(val, F.lit(caster[3:]))
    return val


def parse(df: DataFrame, raw_col: str, model: Element) -> DataFrame:
    """Apply the compiled model: one regexp pass per named group + _parse_ok.
    Unmatched lines keep null groups and _parse_ok = false (first-class
    unparsed atoms, UnparsedAtomHandlers analog)."""
    rx = compile_model(model)
    groups: list[tuple[str, str | None]] = []
    _collect_typed(model, groups)
    out = df.withColumn("_parse_ok", F.col(raw_col).rlike(rx))
    for gname, caster in groups:
        # Spark regexp_extract takes a group INDEX; map name -> index by
        # scanning the pattern for capture-group openings in order.
        idx = _group_index(rx, gname)
        val = F.when(F.col("_parse_ok"), F.regexp_extract(F.col(raw_col), rx, idx))
        col = apply_caster(val, caster)
        # empty-string groups from non-participating alternations -> null
        col = F.when(F.col("_parse_ok") & (F.length(val) > 0), col)
        out = out.withColumn(gname, col)
    return out


def _group_index(rx: str, name: str) -> int:
    """1-based index of named group `name` among all capturing groups."""
    idx = 0
    i = 0
    while i < len(rx):
        if rx[i] == "\\":
            i += 2
            continue
        if rx[i] == "(":
            if rx.startswith("(?<", i) and not rx.startswith("(?<=", i) and not rx.startswith("(?<!", i):
                idx += 1
                end = rx.index(">", i)
                if rx[i + 3:end] == name:
                    return idx
            elif not rx.startswith("(?", i):
                idx += 1
        i += 1
    raise KeyError(name)


# --------------------------------------------------------------------------
# DateTime year inference (reference DateTimeModelElement.py)
# --------------------------------------------------------------------------

def infer_years(
    df: DataFrame,
    ts_col: str,
    max_time_jump_seconds: float = 86400,
    order_cols: tuple[str, ...] = ("line_no",),
    stream_cols: tuple[str, ...] = (),
    out_col: str | None = None,
) -> DataFrame:
    """Year inference for no-year date formats (reference
    DateTimeModelElement.py:295-345, tested by DateTimeModelElementTest
    test11-test14): ``ts_col`` holds timestamps parsed with a fixed
    ``start_year``; this re-derives the rolling year.

    Sequential reference semantics re-expressed per stream in ingest order:
    - **wraparound** (:310-323): a backward jump > max_time_jump_seconds
      whose NEXT-YEAR reading lands within max_time_jump_seconds ahead of
      the predecessor increments the year for this and all later rows
      (cumulative sum of wrap indicators).
    - **previous-year straggler** (:325-335): a backward jump whose
      PREVIOUS-YEAR reading lands within max_time_jump_seconds behind the
      predecessor maps THIS row to year-1 without touching the rolling
      state.
    - **inconsistency** (:336-345): neither fits -> the current-year
      reading is kept (the reference logs a warning and keeps the value).

    Deviations, documented: the reference folds a single mutable
    last_parsed_seconds through the stream; the batch form evaluates the
    same conditions against the immediate predecessor's straggler-corrected
    reading (exact for isolated corrections — the reference's own tested
    cases — and heuristic for adjacent correction runs, where the reference
    itself is heuristic). Feb-29-into-non-leap-year readings clamp to
    Feb 28 (timestamp_add) instead of raising the reference's ValueError.

    Scale shape: with ``stream_cols`` set, everything is per-stream window
    functions. With NO stream column (one global sequence — the raw-ingest
    case that sees all the data), a naive ``Window.partitionBy()`` would
    funnel every row through one WindowExec partition; instead the same
    two-phase range-bucket prefix scan as operators/timestamps.py:31-120
    runs: range-partition on the order column, compute local lags/cumsums
    per range, and derive each range's carry-in from a tiny broadcast
    summary table. No carry CHAIN exists — straggler detection lags the
    raw reading (data, not computed state) and wraparound lags the
    straggler-corrected reading, which is fully determined once the raw
    carry is joined — so three independent carry joins suffice.

    Kept as a reference replay: tests/test_parsing.py::
    test_infer_years_reference_parity runs DateTimeModelElementTest
    test11/13/14 against it.
    """
    from pyspark.sql import Window

    out_col = out_col or f"{ts_col}_adj"
    jump = float(max_time_jump_seconds)
    s = F.unix_timestamp(F.col(ts_col)).cast("double")
    ny = F.unix_timestamp(F.timestamp_add("YEAR", F.lit(1), F.col(ts_col))).cast("double")
    ly = F.unix_timestamp(F.timestamp_add("YEAR", F.lit(-1), F.col(ts_col))).cast("double")
    d = df.withColumn("_s", s).withColumn("_ny", ny).withColumn("_ly", ly)

    order = [F.col(c) for c in order_cols]
    if stream_cols:
        w = Window.partitionBy(*stream_cols).orderBy(*order)
        prev_raw = F.lag("_s").over(w)
    else:
        from logdata_anomaly_miner_spark.operators.timestamps import (
            _carry_join,
            _with_range_bucket,
        )

        d = _with_range_bucket(d, order_cols, None)
        w = Window.partitionBy("_pid").orderBy(*order)
        d = _carry_join(d, "_s", order_cols, "_carry_s")
        prev_raw = F.coalesce(F.lag("_s").over(w), F.col("_carry_s"))
    cum = w.rowsBetween(Window.unboundedPreceding, 0)

    # Pass 1 — straggler detection (:325-335): |delta| > jump (a late-
    # December line read with the current year is a FORWARD jump in a
    # January stream) and the previous-year reading lands within jump
    # behind the predecessor. The row maps to year-1 without touching the
    # rolling state.
    straggler = (
        prev_raw.isNotNull()
        & (F.abs(prev_raw - F.col("_s")) > F.lit(jump))
        & ((prev_raw - F.col("_ly")) <= F.lit(jump))
    )
    d = d.withColumn("_strag", straggler)
    # effective seconds a successor compares against (reference updates
    # last_parsed_seconds to the corrected value, :332-334)
    d = d.withColumn("_eff", F.when(F.col("_strag"), F.col("_ly")).otherwise(F.col("_s")))

    # Pass 2 — wraparound (:310-323): backward jump > jump vs the
    # predecessor's effective reading, next-year reading within jump ahead.
    if stream_cols:
        prev_eff = F.lag("_eff").over(w)
    else:
        d = _carry_join(d, "_eff", order_cols, "_carry_eff")
        prev_eff = F.coalesce(F.lag("_eff").over(w), F.col("_carry_eff"))
    wrap = (
        ~F.col("_strag")
        & prev_eff.isNotNull()
        & ((prev_eff - F.col("_s")) > F.lit(jump))
        & ((F.col("_ny") - prev_eff) <= F.lit(jump))
    )
    d = d.withColumn("_wrap", wrap.cast("int"))
    if stream_cols:
        d = d.withColumn("_yoff", F.sum("_wrap").over(cum))
        extra = ()
    else:
        # distributed prefix sum: local cumsum + sum of earlier ranges
        wsum = d.groupBy("_pid").agg(F.sum("_wrap").alias("_wsum"))
        carry = (
            wsum.alias("a")
            .join(wsum.alias("b"), F.col("b._pid") < F.col("a._pid"))
            .groupBy(F.col("a._pid").alias("_pid"))
            .agg(F.sum("b._wsum").alias("_carry_w"))
        )
        d = d.join(F.broadcast(carry), "_pid", "left")
        d = d.withColumn(
            "_yoff",
            F.sum("_wrap").over(cum) + F.coalesce(F.col("_carry_w"), F.lit(0)),
        )
        extra = ("_pid", "_carry_s", "_carry_eff", "_carry_w")
    adj = F.timestamp_add(
        "YEAR",
        (F.col("_yoff") - F.when(F.col("_strag"), 1).otherwise(0)).cast("int"),
        F.col(ts_col),
    )
    return d.withColumn(out_col, adj).drop(
        "_s", "_ny", "_ly", "_strag", "_eff", "_wrap", "_yoff", *extra
    )


# --------------------------------------------------------------------------
# JsonStringModelElement: nested MODEL re-parse of embedded JSON strings
# (reference aminer/parsing/JsonStringModelElement.py:104-211)
# --------------------------------------------------------------------------

def json_leaf_paths(col: Column) -> Column:
    """array<string> of dotted leaf paths of a JSON object value, null for
    non-objects/invalid JSON (the reference's JsonAccessObject flattening,
    JsonStringModelElement.py:37-101). Per-row nested traversal is the one
    part Column algebra can't express — Arrow-batched pandas UDF."""
    # pandas must be a MODULE-level import: PEP-563 string annotations are
    # resolved against the function's globals during pandas_udf type-hint
    # inference, so a local import would break it
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _leaves(s: pd.Series) -> pd.Series:
        import json as _json

        def flat(x):
            if x is None:
                return None
            try:
                obj = _json.loads(x)
            except Exception:
                return None
            if not isinstance(obj, dict):
                return None
            out: list[str] = []

            def rec(o, pref):
                for k, v in o.items():
                    p = f"{pref}.{k}" if pref else str(k)
                    if isinstance(v, dict):
                        rec(v, p)
                    else:
                        out.append(p)

            rec(obj, "")
            return out

        return s.map(flat)

    return _leaves(col)


def parse_json_string_models(
    df: DataFrame,
    field_col: str,
    key_models: dict[str, "Element"],
    strict: bool = False,
    ignore_null: bool = True,
) -> DataFrame:
    """JsonStringModelElement with per-key child MODELS (reference
    JsonStringModelElement.py:104-211, replayed against
    aecid-testsuite/unit/parsing/JsonStringModelElementTest.py scenarios):
    a JSON document embedded as a string is taken apart key by key and each
    key's value is parsed by its own parsing-model Element — not merely
    re-schema'd. ``key_models`` maps dotted leaf paths ('host.server') to
    Elements (the reference nests dicts; dotted paths are the flattened
    equivalent of its JsonAccessObject collection).

    Semantics mirrored: a row parses iff the JSON is an object and every
    configured key's model matches its stringified value; null values are
    skipped when ``ignore_null`` (reference :168-172), else parsed as the
    empty string (reference parse_line = b''); ``strict`` additionally
    requires the data's leaf-path set to equal the configured key set
    (reference :154-177 — leaf-count equality + per-key presence).
    Documented deviation: values are stringified by the JSON grammar
    (true/false, raw numbers) rather than Python str().

    A row parses only if the JSON is an OBJECT (arrays/scalars/invalid are
    unparsed — json_leaf_paths yields null for them) and every configured
    key is PRESENT (reference :185-204: a missing key fails the match;
    ignore_null skips only keys present with a null VALUE). Keys containing
    an array index ('menuitem[0].value') fall back to value-null semantics
    — get_json_object cannot distinguish absent from null there.

    Adds each model's named group columns plus ``_parse_ok``."""
    if strict and any("[" in k for k in key_models):
        # json_leaf_paths records an array itself as the leaf ('menuitem'),
        # never an indexed element ('menuitem[0].value') — the strict
        # set-equality could then never hold; fail loudly, not all-false
        raise ValueError(
            "strict mode cannot be combined with array-indexed keys: "
            + ", ".join(k for k in key_models if "[" in k)
        )
    leaves_col = "_jsm_leaves"
    out = df.withColumn(leaves_col, json_leaf_paths(F.col(field_col)))
    ok_cols: list[str] = []
    tmp_cols: list[str] = []
    for i, (key, model) in enumerate(key_models.items()):
        path = "$." + key
        val = F.get_json_object(F.col(field_col), path)
        if not ignore_null:
            val = F.coalesce(val, F.lit(""))
        tmp = f"_jsm_val_{i}"
        out = out.withColumn(tmp, val)
        out = parse(out, tmp, model)
        kok = F.coalesce(F.col("_parse_ok"), F.lit(False))
        if ignore_null:
            kok = F.col(tmp).isNull() | kok
        if "[" not in key:
            present = F.coalesce(
                F.array_contains(F.col(leaves_col), key), F.lit(False)
            )
            kok = present & kok
        out = out.withColumn(f"_jsm_ok_{i}", kok).drop("_parse_ok")
        ok_cols.append(f"_jsm_ok_{i}")
        tmp_cols.append(tmp)
    all_ok = F.col(leaves_col).isNotNull()  # object-ness, not mere validity
    for c in ok_cols:
        all_ok = all_ok & F.col(c)
    if strict:
        expected = F.array(*[F.lit(k) for k in key_models])
        all_ok = all_ok & (
            F.sort_array(F.col(leaves_col)) == F.sort_array(expected)
        )
    return out.withColumn("_parse_ok", all_ok).drop(
        *ok_cols, *tmp_cols, leaves_col
    )
