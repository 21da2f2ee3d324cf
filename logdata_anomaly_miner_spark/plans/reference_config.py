"""Load a reference-format aminer ``config.yml`` and compile it onto this
engine.

The reference configures everything through one YAML file validated by
YamlConfig (aminer/YamlConfig.py:28-96; examples in
aecid-testsuite/demo/*.yml): a ``Parser`` section of id-referenced model
elements composing a model DAG, an ``Input`` section (timestamp paths), an
``Analysis`` section of match rules and detectors, and event handlers.
This loader maps that exact schema onto the engine's native pieces —
``Parser`` entries to parsing.py Elements, rule entries to operators/rules
Column combinators, detector entries to builders over the operator
library — so a reference deployment's config drives this engine for the
supported component set.

Semantics notes:

- **Paths → columns.** Reference parser paths (``/model/DailyCron/UName``)
  address the match tree; the engine's ``parse()`` emits one column per
  NAMED element (sanitized name). The loader maps a path to the sanitized
  last segment, which is unique whenever the reference model would be
  (AMiner, too, keys match_dict entries by full path but detectors
  configure leaf values).
- **Lenient vs strict.** ``strict=True`` raises on any unsupported
  component type; the default collects them in ``skipped`` (id, reason)
  and builds everything else — a real config loads partially rather than
  not at all, and the skip list says exactly what to port by hand.
- **Detectors become builders.** Each supported Analysis entry compiles to
  a callable ``(DataFrame) -> DataFrame`` producing that detector's
  violation rows over a parsed batch; learn-mode state is the engine's
  baseline-table convention (operators/*, plans/persistence.py), not
  hidden in the callable.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logdata_anomaly_miner_spark import parsing as P
from logdata_anomaly_miner_spark.operators import rules as R
from logdata_anomaly_miner_spark.plans.parser_modules import MODULE_REGISTRY


class ReferenceConfigError(ValueError):
    pass


def _sanitize(name: str) -> str:
    return re.sub(r"[^A-Za-z0-9]", "", name)


def path_col(path: str) -> str:
    """Reference parser path -> engine column (sanitized last segment)."""
    return _sanitize(path.rstrip("/").rsplit("/", 1)[-1])


# ---------------------------------------------------------------------------
# strptime -> (spark datetime format, regex) for DateTimeModelElement
# ---------------------------------------------------------------------------

_STRPTIME = {
    "%Y": ("yyyy", r"\d{4}"),
    "%y": ("yy", r"\d{2}"),
    "%m": ("MM", r"\d{2}"),
    "%d": ("dd", r"\d{2}"),
    "%H": ("HH", r"\d{2}"),
    "%M": ("mm", r"\d{2}"),
    "%S": ("ss", r"\d{2}"),
    "%b": ("MMM", r"[A-Za-z]{3}"),
    "%f": ("SSSSSS", r"\d{1,6}"),
    "%z": ("XX", r"[+-]\d{4}"),
    "%%": (None, "%"),
}


def strptime_to_spark(fmt: str) -> tuple[str, str]:
    """Translate a reference strptime date_format into (Spark format,
    matching regex). Literal letters are quoted for Spark; ADJACENT
    literal letters share one quoted run ('at', not 'a''t' — Java's
    DateTimeFormatter reads '' inside quotes as a literal quote)."""
    out_fmt: list[str] = []
    out_rx: list[str] = []
    lit_run: list[str] = []

    def flush_run() -> None:
        if lit_run:
            out_fmt.append("'" + "".join(lit_run) + "'")
            lit_run.clear()

    i = 0
    while i < len(fmt):
        if fmt[i] == "%":
            flush_run()
            d = fmt[i : i + 2]
            if d not in _STRPTIME:
                raise ReferenceConfigError(f"unsupported strptime directive {d!r}")
            sf, rx = _STRPTIME[d]
            if sf is None:  # literal percent
                out_fmt.append("%")
                out_rx.append(re.escape(rx))
            else:
                out_fmt.append(sf)
                out_rx.append(rx)
            i += 2
        else:
            ch = fmt[i]
            if ch.isalpha():
                lit_run.append(ch)
            else:
                flush_run()
                out_fmt.append(ch)
            out_rx.append(re.escape(ch))
            i += 1
    flush_run()
    return "".join(out_fmt), "".join(out_rx)


# ---------------------------------------------------------------------------
# Parser section -> Elements
# ---------------------------------------------------------------------------

@dataclass
class JsonModel:
    """A JsonModelElement root: dotted leaf path -> value-parsing Element
    (compiled by parsing.parse_json_string_models instead of one regex)."""

    models: dict[str, P.Element]
    name: str | None = None


@dataclass
class XmlModel:
    """An XmlModelElement root: a from_xml schema plus per-leaf value
    Elements. ``leaves`` entries are (out_col, access tokens — a trailing
    '#0' token indexes a repeated element's first occurrence —, Element,
    optional?)."""

    schema: object  # T.StructType
    leaves: list[tuple[str, list[str], P.Element | None, bool]]
    name: str | None = None


def _clone_suffixed(e: P.Element, idx: int) -> P.Element:
    """Deep copy of an element subtree with every named group suffixed —
    reference models reuse one component in several branches, but a single
    compiled regex cannot define a group name twice."""
    pat = re.sub(r"\(\?<(\w+)>", lambda m: f"(?<{m.group(1)}v{idx}>", e.pattern)
    return P.Element(
        pat,
        f"{e.name}v{idx}" if e.name else None,
        e.caster,
        [_clone_suffixed(c, idx) for c in e.children],
    )


def _build_element(
    entry: dict,
    elements: dict[str, P.Element],
    approximations: list[tuple[str, str]] | None = None,
    ref_counts: dict[str, int] | None = None,
) -> P.Element:
    t = entry["type"]
    name = entry.get("name")
    args = entry.get("args")

    def ref(eid) -> P.Element:
        if not isinstance(eid, str) or eid not in elements:
            raise ReferenceConfigError(
                f"element {entry.get('id')!r} references unknown id {eid!r}"
            )
        e = elements[eid]
        if not isinstance(e, P.Element):
            raise ReferenceConfigError(
                f"{eid!r} is a JSON model; it cannot nest inside a regex composite"
            )
        if ref_counts is not None:
            n = ref_counts.get(eid, 0) + 1
            ref_counts[eid] = n
            if n > 1:  # re-referenced subtree: clone with fresh group names
                return _clone_suffixed(e, n)
        return e

    if t == "FixedDataModelElement":
        return P.fixed(str(args))
    if t == "FixedWordlistDataModelElement":
        return P.wordlist(name, [str(a) for a in args])
    if t == "AnyByteDataModelElement":
        return P.any_bytes(name)
    if t == "DelimitedDataModelElement":
        # the reference leaves the delimiter UNCONSUMED unless
        # consume_delimiter: True (DelimitedDataModelElement.py default)
        return P.delimited(
            name,
            str(entry.get("delimiter", args)),
            consume_delimiter=bool(entry.get("consume_delimiter", False)),
        )
    if t == "VariableByteDataModelElement":
        return P.variable_bytes(name, str(args))
    if t == "WhiteSpaceLimitedDataModelElement":
        return P.whitespace_limited(name)
    if t == "HexStringModelElement":
        return P.hex_string(name, allow_upper=bool(entry.get("upper_case", False)))
    if t == "Base64StringModelElement":
        return P.base64_string(name)
    if t == "DecimalIntegerValueModelElement":
        # reference default value_sign_type 'none'
        return P.decimal_integer(name, allow_sign=entry.get("value_sign_type", "none") != "none")
    if t == "DecimalFloatValueModelElement":
        # full reference mode surface (sign/pad/exponent, defaults 'none')
        # — the permissive decimal_float() would accept signs/exponents
        # the reference rejects, silently flipping parsed/unparsed
        return P.decimal_float_modes(
            name,
            sign_type=entry.get("value_sign_type", "none"),
            pad_type=entry.get("value_pad_type", "none"),
            exponent_type=entry.get("exponent_type", "none"),
        )
    if t == "IpAddressDataModelElement":
        return P.ip_address_v6(name) if entry.get("ipv6", False) else P.ip_address(name)
    if t == "DateTimeModelElement":
        fmt = entry["date_format"]
        if fmt.replace("%s", "").replace(".%f", "") == "":
            # epoch-seconds format ('%s' / '%s.%f'): not a to_timestamp
            # pattern — capture the number, typed as double epoch seconds
            return P.Element(P._grp(name, r"\d+(?:\.\d+)?"), name, "double")
        spark_fmt, rx = strptime_to_spark(fmt)
        return P.datetime_el(name, spark_fmt, rx)
    if t == "DebugModelElement":
        # fall back to the (unique) entry id so two nameless debug
        # elements never compile to a duplicate regex group name
        return P.debug_el(name or _sanitize(str(entry.get("id", "debug"))))
    if t == "SequenceModelElement":
        return P.seq(*[ref(a) for a in args])
    if t == "FirstMatchModelElement":
        return P.first_match(*[ref(a) for a in args])
    if t == "OptionalMatchModelElement":
        return P.optional(ref(args if isinstance(args, str) else args[0]))
    if t == "RepeatedElementDataModelElement":
        child = ref(args if isinstance(args, str) else args[0])
        return P.repeated(
            child,
            min_n=int(entry.get("min_repeats", 0)),
            max_n=entry.get("max_repeats"),
            name=name,
        )
    if t == "MultiLocaleDateTimeModelElement":
        # match side: first-match union of the format regexes, value
        # captured as TEXT ('%b' widened to any-letter for localized month
        # names). No typed conversion follows: the loader keeps the
        # MODEL's accept/reject behavior in the regex and records the
        # text value as an approximation.
        rxs = []
        for df_entry in entry.get("date_formats", []):
            f = df_entry.get("format") if isinstance(df_entry, dict) else df_entry
            fmt = f[0] if isinstance(f, (list, tuple)) else f
            if fmt is None:
                continue
            try:
                _, rx = strptime_to_spark(fmt)
            except ReferenceConfigError:
                continue
            rxs.append(rx.replace("[A-Za-z]{3}", r"\p{L}{3}\.?"))
        if not rxs:
            raise ReferenceConfigError("no translatable date_formats")
        if approximations is not None:
            approximations.append(
                (entry.get("id", t), "value captured as text, not converted to a timestamp")
            )
        return P.Element(P._grp(name, "|".join(f"(?:{r})" for r in rxs)), name)
    if t == "ElementValueBranchModelElement":
        # regex approximation: value model followed by first-match over
        # ALL branch models — accepts (value_x, branch_of_y) combos the
        # reference would reject. Recorded as an approximation so the
        # caller can tighten downstream.
        vm = ref(args[0] if isinstance(args, list) else args)
        branches = [ref(b["model"]) for b in entry.get("branch_model_dict", [])]
        if not branches:
            raise ReferenceConfigError("empty branch_model_dict")
        if approximations is not None:
            approximations.append(
                (entry.get("id", t), "value->branch coupling relaxed to first_match")
            )
        return P.seq(vm, P.first_match(*branches))
    if t == "JsonModelElement":
        # compiled by parse_json_string_models (per-key value models over
        # dotted leaf paths) instead of one regex; arrays of objects are
        # parsed at index 0 (recorded approximation)
        models: dict[str, P.Element] = {}

        def walk(d: dict, prefix: str) -> None:
            for k, v in d.items():
                if isinstance(v, dict):
                    walk(v, f"{prefix}{k}.")
                elif isinstance(v, list):
                    if v and isinstance(v[0], dict):
                        if approximations is not None:
                            approximations.append(
                                (entry.get("id", t), f"array '{prefix}{k}' parsed at index 0 only")
                            )
                        walk(v[0], f"{prefix}{k}[0].")
                elif isinstance(v, str):
                    # JsonModelElement special tokens (reference
                    # JsonModelElement.py:62-90): shape-only constraints,
                    # not value parsers — no per-key model needed
                    if v in (
                        "ALLOW_ALL",
                        "ALLOW_ALL_KEYS",
                        "EMPTY_ARRAY",
                        "EMPTY_OBJECT",
                        "EMPTY_STRING",
                        "NULL_OBJECT",
                    ):
                        continue
                    models[f"{prefix}{k}"] = ref(v)

        walk(entry.get("key_parser_dict") or {}, "")
        if not models:
            raise ReferenceConfigError("empty key_parser_dict")
        return JsonModel(models, name)
    if t == "XmlModelElement":
        # reference key prefixes (XmlModelElement.py:48-63): '+' attribute,
        # '_+' / '+_' optional attribute, '?' empty-allowed element; a LIST
        # value is a repeated child element (ArrayType; leaf models applied
        # to occurrence 0, recorded as an approximation); the JSON special
        # tokens (ALLOW_ALL etc.) are shape-only — captured unvalidated
        from pyspark.sql import types as T

        _SPECIAL = {
            "ALLOW_ALL", "ALLOW_ALL_KEYS", "EMPTY_ARRAY",
            "EMPTY_OBJECT", "EMPTY_STRING", "NULL_OBJECT",
        }
        leaves: list[tuple[str, list[str], P.Element | None, bool]] = []
        disp_used: dict[str, int] = {}

        def xml_key(k: str) -> tuple[str, str, bool]:
            """config key -> (schema field, display base, optional)."""
            if k.startswith(("_+", "+_")):
                return "_" + k[2:], k[2:], True
            if k.startswith("+"):
                return "_" + k[1:], k[1:], False
            if k.startswith("?"):
                return k[1:], k[1:], True
            return k, k, False

        def add_leaf(disp_base: str, toks: list[str], el, optional: bool) -> None:
            # the element's capture name wins; collisions (e.g. two
            # unnamed Fixed leaves under the same key at different
            # paths) get a numeric suffix instead of overwriting
            disp = (el.name if el is not None and el.name else disp_base) or "leaf"
            n = disp_used.get(disp, 0) + 1
            disp_used[disp] = n
            if n > 1:
                disp = f"{disp}{n}"
            leaves.append((disp, toks, el, optional))

        def xml_struct(d: dict, path: list[str], opt_parent: bool) -> "T.StructType":
            fields = []
            for k, v in d.items():
                fk, base, k_opt = xml_key(k)
                optional = opt_parent or k_opt
                if isinstance(v, dict):
                    fields.append(
                        T.StructField(fk, xml_struct(v, path + [fk], optional), True)
                    )
                elif isinstance(v, list):
                    merged: dict = {}
                    for item in v:
                        if isinstance(item, dict):
                            merged.update(item)
                        elif approximations is not None:
                            approximations.append(
                                (entry.get("id", t), f"unsupported list item under '{k}' skipped")
                            )
                    sub = []
                    for ck, cv in merged.items():
                        cfk, cbase, c_opt = xml_key(ck)
                        c_optional = optional or c_opt
                        if approximations is not None:
                            approximations.append(
                                (entry.get("id", t), f"repeated element '{cbase}' parsed at occurrence 0 only")
                            )
                        if isinstance(cv, dict):
                            sub.append(
                                T.StructField(
                                    cfk,
                                    T.ArrayType(
                                        xml_struct(cv, path + [fk, f"{cfk}#0"], c_optional)
                                    ),
                                    True,
                                )
                            )
                        elif isinstance(cv, str):
                            # repeated LEAF element: array of strings
                            cel = None if cv in _SPECIAL else ref(cv)
                            add_leaf(cbase, path + [fk, f"{cfk}#0"], cel, c_optional)
                            sub.append(
                                T.StructField(cfk, T.ArrayType(T.StringType()), True)
                            )
                    fields.append(T.StructField(fk, T.StructType(sub), True))
                elif isinstance(v, str):
                    el = None if v in _SPECIAL else ref(v)
                    add_leaf(base, path + [fk], el, optional or v in _SPECIAL)
                    fields.append(T.StructField(fk, T.StringType(), True))
            return T.StructType(fields)

        schema = xml_struct(entry.get("key_parser_dict") or {}, [], False)
        if not leaves:
            raise ReferenceConfigError("empty key_parser_dict")
        # from_xml's schema describes the ROOT element's children; a single
        # top-level key IS the document root tag — unwrap it
        if len(schema.fields) == 1 and isinstance(
            schema.fields[0].dataType, T.StructType
        ):
            schema = schema.fields[0].dataType
            leaves = [(oc, toks[1:], el, opt) for (oc, toks, el, opt) in leaves]
        return XmlModel(schema, leaves, name)
    raise ReferenceConfigError(f"unsupported parser element type {t!r}")


# ---------------------------------------------------------------------------
# Analysis section: match rules
# ---------------------------------------------------------------------------

_RULE_TYPES = {
    "PathExistsMatchRule",
    "ValueMatchRule",
    "ValueListMatchRule",
    "ValueRangeMatchRule",
    "StringRegexMatchRule",
    "NegationMatchRule",
    "AndMatchRule",
    "OrMatchRule",
    "ParallelMatchRule",
    "DebugMatchRule",
    "DebugHistoryMatchRule",
    "ModuloTimeMatchRule",
    "IPv4InRFC1918MatchRule",
    "ValueDependentDelegatedMatchRule",
    "ValueDependentModuloTimeMatchRule",
}


def _tuple_key(k) -> str:
    """Reference rule_lookup_dict keys are stringified byte tuples like
    ``(b"g",)``; extract the first literal."""
    m = re.search(r"""b?["']([^"']*)["']""", str(k))
    return m.group(1) if m else str(k)


def _build_rule(entry: dict, rules: dict[str, Column]) -> Column:
    t = entry["type"]

    def sub(rid: str) -> Column:
        if rid not in rules:
            raise ReferenceConfigError(
                f"rule {entry.get('id')!r} references unknown rule {rid!r}"
            )
        return rules[rid]

    if t == "PathExistsMatchRule":
        return R.path_exists(path_col(entry["path"]))
    if t == "ValueMatchRule":
        return R.value_match(path_col(entry["path"]), entry["value"])
    if t == "ValueListMatchRule":
        return R.value_in(path_col(entry["path"]), entry["value_list"])
    if t == "ValueRangeMatchRule":
        return R.value_range(
            path_col(entry["path"]), entry["lower_limit"], entry["upper_limit"]
        )
    if t == "StringRegexMatchRule":
        return R.string_regex(path_col(entry["path"]), entry["regex"])
    if t == "NegationMatchRule":
        return R.not_(sub(entry["sub_rule"]))
    if t == "AndMatchRule":
        return R.and_(*[sub(r) for r in entry["sub_rules"]])
    if t in ("OrMatchRule", "ParallelMatchRule"):
        # ParallelMatchRule is Or that evaluates every branch (for the
        # branches' match actions); Column OR never short-circuits anyway
        return R.or_(*[sub(r) for r in entry["sub_rules"]])
    if t in ("DebugMatchRule", "DebugHistoryMatchRule"):
        # the reference debug rules match everything and log; logging is
        # a side effect batch plans don't have — identity rule
        return F.lit(True)
    if t == "ModuloTimeMatchRule":
        return R.modulo_time(
            path_col(entry["path"]),
            entry["lower_limit"],
            entry["upper_limit"],
            modulo=float(entry["seconds_modulo"]),
        )
    if t == "IPv4InRFC1918MatchRule":
        return R.ipv4_in_rfc1918(path_col(entry["path"]))
    if t == "ValueDependentDelegatedMatchRule":
        key = path_col(entry["paths"][0])
        lookup = {
            _tuple_key(k): sub(rid)
            for k, rid in (entry.get("rule_lookup_dict") or {}).items()
        }
        default = sub(entry["default_rule"]) if entry.get("default_rule") else None
        return R.delegated(key, lookup, default)
    if t == "ValueDependentModuloTimeMatchRule":
        key = path_col(entry["paths"][0])
        ts_path = path_col(entry["path"])
        modulo = int(entry["seconds_modulo"])
        lookup = {
            _tuple_key(k): R.modulo_time(ts_path, lims[0], lims[1], modulo=modulo)
            for k, lims in (entry.get("limit_lookup_dict") or {}).items()
        }
        dl = entry.get("default_limit")
        default = (
            R.modulo_time(ts_path, dl[0], dl[1], modulo=modulo) if dl else None
        )
        return R.delegated(key, lookup, default)
    raise ReferenceConfigError(f"unsupported rule type {t!r}")


# ---------------------------------------------------------------------------
# Analysis section: detectors
# ---------------------------------------------------------------------------

Builder = Callable[[DataFrame], DataFrame]


def _detector_builder(
    entry: dict,
    rules: dict[str, Column],
    ts_col: str | None,
    order_col: str,
    bin_defs: dict[str, dict] | None = None,
) -> Builder:
    t = entry["type"]
    cols = [path_col(p) for p in entry.get("paths", [])]
    ignore = {path_col(p) for p in entry.get("ignore_list", [])}

    def _default_cols(df: DataFrame) -> list[str]:
        """All parsed model columns (named groups), minus internals and
        ignore_list — the reference's 'all paths' default."""
        return [
            c
            for c in df.columns
            if not c.startswith("_")
            and c not in (order_col, "raw")
            and c not in ignore
        ]

    if t == "TimestampsUnsortedDetector":
        if ts_col is None:
            raise ReferenceConfigError("needs Input.timestamp_paths for ts column")
        from logdata_anomaly_miner_spark.operators.timestamps import unsorted_timestamps

        def b(df: DataFrame) -> DataFrame:
            us = (F.col(ts_col).cast("double") * 1_000_000).cast("long")
            return unsorted_timestamps(
                df.withColumn("_us", us), ts_col="_us", order_cols=[order_col]
            )

        return b

    if t == "AllowlistViolationDetector":
        allow = [rules[r] for r in entry["allowlist_rules"] if r in rules]
        missing = [r for r in entry["allowlist_rules"] if r not in rules]
        if missing:
            raise ReferenceConfigError(f"unknown allowlist rules {missing}")
        return lambda df: R.allowlist_violations(df, allow)

    if t == "MatchFilter":
        vals = entry.get("value_list")
        if not cols:
            raise ReferenceConfigError("MatchFilter needs a non-empty paths list")
        conds = [
            R.value_in(c, vals) if vals is not None else R.path_exists(c) for c in cols
        ]
        return lambda df: R.match_filter(df, R.or_(*conds))

    if t in ("NewMatchPathValueDetector", "NewMatchPathValueComboDetector"):
        from logdata_anomaly_miner_spark.operators.new_value import check_new_values

        # the reference skips atoms that do not carry the target paths
        # (NewMatchPathValueDetector.py:91; the combo detector requires ALL
        # paths unless allow_missing_values_flag) — a null target column
        # must not surface as a learned "value"
        def b(df: DataFrame) -> DataFrame:
            present = df
            for c in cols:
                present = present.filter(F.col(c).isNotNull())
            return check_new_values(present, cols, None, order_cols=[order_col])

        return b

    if t == "EnhancedNewMatchPathValueComboDetector":
        from logdata_anomaly_miner_spark.operators.new_value import (
            check_new_combos_enhanced,
        )

        if ts_col is None:
            raise ReferenceConfigError("needs Input.timestamp_paths for ts column")
        return lambda df: check_new_combos_enhanced(df, cols, None, ts_col=ts_col)[0]

    if t == "MissingMatchPathValueDetector":
        from logdata_anomaly_miner_spark.operators.missing import check_missing_values

        if ts_col is None:
            raise ReferenceConfigError("needs Input.timestamp_paths for ts column")
        interval = float(entry.get("check_interval", 3600))

        def b(df: DataFrame) -> DataFrame:
            us = (F.col(ts_col).cast("double") * 1_000_000).cast("long")
            return check_missing_values(
                df.withColumn("_us", us), cols, interval, "_us"
            )

        return b

    if t == "ValueRangeDetector":
        from logdata_anomaly_miner_spark.operators.value_range import (
            check_value_range_sequential,
        )

        # reference ValueRangeDetector.py:32-41: id_path_list = group
        # identifiers, paths (target_path_list) = the value path
        if not cols:
            raise ReferenceConfigError("needs paths (target value path)")
        vr_ids = [path_col(p) for p in entry.get("id_path_list", [])]
        return lambda df: check_value_range_sequential(
            df, id_cols=vr_ids, value_col=cols[0], order_cols=[order_col]
        )[0]

    if t == "EntropyDetector":
        from logdata_anomaly_miner_spark.operators.entropy import (
            check_entropy,
            learn_bigram_freq,
            score_entropy_pandas,
        )

        thresh = float(entry.get("prob_thresh", 0.05))
        col = cols[0]

        def b(df: DataFrame) -> DataFrame:
            src = df.filter(F.col(col).isNotNull())
            freq, _ = learn_bigram_freq(src, col)
            scored = score_entropy_pandas(df.sparkSession, src, col, freq)
            return check_entropy(scored, thresh)

        return b

    if t == "CharsetDetector":
        from logdata_anomaly_miner_spark.operators.charset import (
            check_charset,
            learn_charsets,
        )

        col = cols[0]
        return lambda df: check_charset(df, col, learn_charsets(df, col, []), [])

    if t == "EventSequenceDetector":
        from logdata_anomaly_miner_spark.operators.sequence import check_new_sequences

        ids = [path_col(p) for p in entry.get("id_path_list", [])]
        length = int(entry.get("seq_len", 3))
        # reference EventSequenceDetector.py:96-135: sequences ALWAYS
        # partition by id_path_list; the symbol is target paths when
        # given, else the event type
        value_col = cols[0] if cols else "_event_type"
        return lambda df: check_new_sequences(
            df, value_col, None, n=length, id_cols=ids, order_cols=[order_col]
        )

    if t == "EventFrequencyDetector":
        from logdata_anomaly_miner_spark.operators.event_frequency import (
            check_event_frequency,
        )

        if ts_col is None:
            raise ReferenceConfigError("needs Input.timestamp_paths for ts column")
        keys = cols or ["_event_type"]
        wsz = float(entry.get("window_size", 600))
        nw = int(entry.get("num_windows", 50))
        cf = float(entry.get("confidence_factor", 0.33))

        return lambda df: check_event_frequency(
            df, keys, wsz, num_windows=nw, confidence_factor=cf, ts_col=ts_col
        )

    if t == "ParserCount":
        from logdata_anomaly_miner_spark.operators.histogram import parser_counts

        return lambda df: parser_counts(df, cols[0] if cols else "_event_type")

    if t in ("SimpleUnparsedAtomHandler", "VerboseUnparsedAtomHandler"):
        return lambda df: df.filter(~F.coalesce(F.col("_parse_ok"), F.lit(False)))

    if t == "EventTypeDetector":
        from logdata_anomaly_miner_spark.constraints.column_stats import column_stats

        return lambda df: column_stats(df, cols or _default_cols(df))

    if t == "VariableTypeDetector":
        from logdata_anomaly_miner_spark.operators.variable_type import (
            infer_variable_types,
        )

        def b(df: DataFrame) -> DataFrame:
            sel = cols or _default_cols(df)
            melted = df.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(c).alias("var"),
                                F.col(c).cast("string").alias("val"),
                            )
                            for c in sel
                        ]
                    )
                ).alias("p")
            ).select("p.var", "p.val")
            return infer_variable_types(melted, "var", "val")

        return b

    if t == "VariableCorrelationDetector":
        from logdata_anomaly_miner_spark.operators.correlation import chi_square_pairs

        return lambda df: chi_square_pairs(df, cols or _default_cols(df))

    if t == "TimeCorrelationDetector":
        from logdata_anomaly_miner_spark.operators.correlation import (
            mine_time_correlations,
        )

        if ts_col is None:
            raise ReferenceConfigError("needs Input.timestamp_paths for ts column")
        return lambda df: mine_time_correlations(
            df, cols or _default_cols(df), ts_col=ts_col, order_col=order_col
        )

    if t == "EventCorrelationDetector":
        from logdata_anomaly_miner_spark.operators.correlation import (
            mine_implication_rules,
        )

        if ts_col is None:
            raise ReferenceConfigError("needs Input.timestamp_paths for ts column")
        tcol = cols[0] if cols else "_event_type"
        return lambda df: mine_implication_rules(
            df,
            tcol,
            ts_col=ts_col,
            order_cols=(order_col,),
            max_delta=float(entry.get("hypothesis_max_delta_time", 5.0)),
        )

    if t == "TSAArimaDetector":
        from logdata_anomaly_miner_spark.operators.event_frequency import (
            anchored_window_counts,
        )
        from logdata_anomaly_miner_spark.operators.tsa import ar1_forecast_bands

        if ts_col is None:
            raise ReferenceConfigError("needs Input.timestamp_paths for ts column")
        keys = cols or ["_event_type"]
        wsz = float(entry.get("window_size", 600))
        return lambda df: ar1_forecast_bands(
            anchored_window_counts(df, keys, wsz, ts_col=ts_col), keys
        )

    if t == "MatchValueAverageChangeDetector":
        from logdata_anomaly_miner_spark.operators.histogram import average_change

        if ts_col is None:
            raise ReferenceConfigError("needs Input.timestamp_paths for ts column")
        return lambda df: average_change(
            df,
            cols[0],
            ts_col,
            float(entry.get("min_bin_time", 10)),
            min_bin_elements=int(entry.get("min_bin_elements", 1)),
        )

    if t == "MatchValueStreamWriter":
        sep = str(entry.get("separator", ";"))
        missing = str(entry.get("missing_value_string", ""))
        return lambda df: df.select(
            F.concat_ws(
                sep, *[F.coalesce(F.col(c).cast("string"), F.lit(missing)) for c in cols]
            ).alias("line")
        )

    if t == "NewMatchIdValueComboDetector":
        from logdata_anomaly_miner_spark.operators.new_value import check_new_id_combos

        ids = [path_col(p) for p in entry.get("id_path_list", [])]
        if ts_col is None or not ids:
            raise ReferenceConfigError(
                "needs Input.timestamp_paths and id_path_list"
            )
        return lambda df: check_new_id_combos(
            df,
            ids[0],
            cols,
            None,
            ts_col=ts_col,
            order_cols=[order_col],
        )

    if t in ("HistogramAnalysis", "PathDependentHistogramAnalysis"):
        from logdata_anomaly_miner_spark.operators.histogram import (
            linear_histogram,
            modulo_time_histogram,
        )

        bd_reg = bin_defs or {}

        def hist_for(col: str | None, bd: dict):
            if bd["type"] == "LinearNumericBinDefinition":
                lo = float(bd["lower_limit"])
                size = float(bd["bin_size"])
                return lambda df: linear_histogram(df, col, lo, size)
            if bd["type"] == "ModuloTimeBinDefinition":
                modulo = float(bd["modulo_value"])
                div = float(bd["time_unit"])
                src = col if col is not None else ts_col
                if src is None:
                    raise ReferenceConfigError("modulo bins need a ts column")
                return lambda df: modulo_time_histogram(
                    df, ts_col=src, modulo=modulo, divisor=div
                )
            raise ReferenceConfigError(f"unsupported bin definition {bd['type']!r}")

        if t == "HistogramAnalysis":
            parts = []
            for path, bid in entry["histogram_defs"]:
                if bid not in bd_reg:
                    raise ReferenceConfigError(f"unknown bin definition {bid!r}")
                parts.append((path_col(path), hist_for(path_col(path), bd_reg[bid])))

            def b(df: DataFrame) -> DataFrame:
                outs = [
                    h(df).select(F.lit(c).alias("path"), "bin", "cnt") for c, h in parts
                ]
                out = outs[0]
                for o in outs[1:]:
                    out = out.unionByName(o)
                return out

            return b

        bid = entry["bin_definition"]
        if bid not in bd_reg:
            raise ReferenceConfigError(f"unknown bin definition {bid!r}")
        gate = path_col(entry["path"])
        # linear bins histogram the PATH's value; modulo-time bins
        # histogram the atom time (col=None -> ts_col inside hist_for)
        val_col = (
            gate if bd_reg[bid]["type"] == "LinearNumericBinDefinition" else None
        )
        h = hist_for(val_col, bd_reg[bid])
        return lambda df: h(df.filter(F.col(gate).isNotNull()) if gate in df.columns else df)

    raise ReferenceConfigError(f"unsupported detector type {t!r}")


# ---------------------------------------------------------------------------
# Top level
# ---------------------------------------------------------------------------

@dataclass
class ReferenceConfig:
    model: P.Element | JsonModel | XmlModel
    elements: dict[str, P.Element]
    rules: dict[str, Column]
    detectors: dict[str, Builder]
    skipped: list[tuple[str, str]] = field(default_factory=list)
    approximations: list[tuple[str, str]] = field(default_factory=list)
    referenced_cols: set[str] = field(default_factory=set)
    timestamp_col: str | None = None
    order_col: str = "line_no"
    learn_mode: bool | None = None

    def parse(self, df: DataFrame, raw_col: str) -> DataFrame:
        """parse() plus the derived ``_event_type`` column: the comma-joined
        set of named paths present in the row — exactly how the reference's
        EventTypeDetector keys event types (the set of parsed paths).
        Detectors configured without explicit paths (EventFrequency /
        EventCorrelation / TSAArima) key on it."""
        if isinstance(self.model, JsonModel):
            out = P.parse_json_string_models(df, raw_col, self.model.models)
        elif isinstance(self.model, XmlModel):
            from logdata_anomaly_miner_spark.sources.readers import parse_xml_atoms

            out = parse_xml_atoms(df, self.model.schema, raw_col)
            ok = F.col("_parse_ok")
            # one select builds every leaf (no per-leaf withColumn chain);
            # each leaf is regex-validated as a string, then typed via its
            # Element caster (ts:/long/double/... — same as the regex path)
            aliases = []
            for out_col, toks, el, optional in self.model.leaves:
                c = F.col("parsed")
                for tok in toks:
                    if tok.endswith("#0"):
                        c = c.getField(tok[:-2]).getItem(0)
                    else:
                        c = c.getField(tok)
                c = c.cast("string")
                leaf_ok = (
                    c.rlike(f"^(?:{el.pattern})$") if el is not None else F.lit(True)
                )
                ok = ok & (
                    (c.isNull() | leaf_ok)
                    if optional
                    else (c.isNotNull() & leaf_ok)
                )
                typed = P.apply_caster(c, el.caster if el is not None else None)
                aliases.append(typed.alias(out_col))
            out = out.select(
                *[
                    F.col(c)
                    for c in out.columns
                    if c not in ("parsed", "_parse_ok")
                ],
                ok.alias("_parse_ok"),
                *aliases,
            )
        else:
            out = P.parse(df, raw_col, self.model)
        named = [c for c in out.columns if c not in df.columns and c != "_parse_ok"]
        out = out.withColumn(
            "_event_type",
            F.concat_ws(
                ",", *[F.when(F.col(c).isNotNull(), F.lit(c)) for c in named]
            ),
        )
        # the reference's match_dict lookup of an absent path yields None
        # (rule never matches); emulate for Analysis paths the parser model
        # never produces, so every configured rule/detector is runnable
        for c in sorted(self.referenced_cols):
            if c not in out.columns:
                out = out.withColumn(c, F.lit(None).cast("string"))
        return out

    def run_detectors(self, parsed: DataFrame) -> dict[str, DataFrame]:
        return {did: b(parsed) for did, b in self.detectors.items()}


def load_reference_config(
    src: str | dict,
    *,
    strict: bool = False,
) -> ReferenceConfig:
    """``src``: path to a reference config.yml, a YAML string, or the
    already-parsed mapping. The raw DataFrame's ingest-order column (the
    atom sequence number) is ``line_no``; the root parser is the first log
    resource's ``parser_id``, else the last Parser entry.

    EXTERNAL parsing-model type names (reference YamlConfig.py:147-180
    imports them as Python modules from /etc/aminer/conf-available) resolve
    through plans/parser_modules.MODULE_REGISTRY to builders ``(name, mk)
    -> Element``. Entries resolved this way are recorded in
    ``approximations``."""
    if isinstance(src, dict):
        data = src
    else:
        import yaml

        text = src
        if "\n" not in src and not src.lstrip().startswith(("{", "Parser")):
            with open(src) as f:
                text = f.read()
        data = yaml.safe_load(text)
    if not isinstance(data, dict) or "Parser" not in data:
        raise ReferenceConfigError("not a reference config: no Parser section")

    elements: dict[str, P.Element] = {}
    skipped: list[tuple[str, str]] = []
    approximations: list[tuple[str, str]] = []
    used_names: dict[str, int] = {}
    ref_counts: dict[str, int] = {}
    for entry in data["Parser"]:
        # Reference models freely reuse element NAMES across branches (the
        # match tree keys by full path); one compiled regex cannot repeat a
        # group name, so reused names get a numeric suffix (User, User2 …).
        nm = entry.get("name")
        if nm is not None and entry.get("type") != "FixedDataModelElement":
            base = _sanitize(str(nm))
            k = used_names.get(base, 0) + 1
            used_names[base] = k
            if k > 1 or base != str(nm):
                # dedup key and emitted name are BOTH the sanitized base, so
                # two raw names that sanitize identically cannot collide in
                # the compiled regex's group namespace
                entry = {**entry, "name": base if k == 1 else f"{base}{k}"}
        t = entry.get("type")
        if t in MODULE_REGISTRY:
            # external parsing-model module (YamlConfig.py:147-180) resolved
            # through the registry shim; leaf names dedup through the same
            # used_names table as YAML-defined names so shared leaves
            # (e.g. `time` across modules) never collide in the one regex
            def mk(leaf: str, _used=used_names) -> str:
                # key AND return the sanitized base (identical for already-
                # valid leaves): returning the raw leaf for the first
                # occurrence could emit an invalid regex group name, or
                # collide with a later leaf that sanitizes to the same base
                b = _sanitize(str(leaf))
                j = _used.get(b, 0) + 1
                _used[b] = j
                return b if j == 1 else f"{b}{j}"

            try:
                elements[entry["id"]] = MODULE_REGISTRY[t](
                    str(entry.get("name") or entry["id"]), mk
                )
                approximations.append(
                    (entry["id"], f"external parser module {t} via registry shim")
                )
            except ReferenceConfigError as e:
                if strict:
                    raise
                skipped.append((entry.get("id", t), str(e)))
            continue
        try:
            elements[entry["id"]] = _build_element(
                entry, elements, approximations, ref_counts
            )
        except ReferenceConfigError as e:
            if strict:
                raise
            skipped.append((entry.get("id", entry.get("type", "?")), str(e)))

    root = None
    res = data.get("LogResourceList") or []
    if res and isinstance(res[0], dict):
        root = res[0].get("parser_id")
    if root is None and data["Parser"]:
        root = data["Parser"][-1]["id"]
    if root not in elements:
        raise ReferenceConfigError(
            f"root parser id {root!r} not found/built; skipped elements: {skipped}"
        )

    inp = data.get("Input") or {}
    ts_paths = inp.get("timestamp_paths")
    if isinstance(ts_paths, str):  # some configs write the literal 'None'
        ts_paths = [] if ts_paths == "None" else [ts_paths]
    ts_col = path_col(ts_paths[0]) if ts_paths else None

    analysis = data.get("Analysis") or []
    bin_defs = {
        e.get("id", "?"): e for e in analysis if str(e.get("type", "")).endswith("BinDefinition")
    }
    # registry types consumed by a post-pass rather than built directly:
    # match actions fire when their owning rule matches; correlation rules
    # + class selectors describe the A→B check TimeCorrelationViolation-
    # Detector runs (the engine's implication_within operator).
    _REGISTRY_TYPES = {
        "EventGenerationMatchAction",
        "CorrelationRule",
        "EventClassSelector",
        "TimeCorrelationViolationDetector",
    }
    rules: dict[str, Column] = {}
    detectors: dict[str, Builder] = {}
    rule_actions: dict[str, list[str]] = {}  # action id -> owning rule ids
    for entry in analysis:
        t = entry.get("type", "?")
        eid = entry.get("id", t)
        if str(t).endswith("BinDefinition") or t in _REGISTRY_TYPES:
            continue
        try:
            if t in _RULE_TYPES:
                rules[eid] = _build_rule(entry, rules)
                if entry.get("match_action"):
                    rule_actions.setdefault(entry["match_action"], []).append(eid)
            else:
                detectors[eid] = _detector_builder(
                    entry, rules, ts_col, "line_no", bin_defs
                )
        except ReferenceConfigError as e:
            if strict:
                raise
            skipped.append((eid, str(e)))

    # post-pass 1: EventGenerationMatchAction — emit a row whenever any
    # owning rule matches (the action's generated event, as violation rows)
    for entry in analysis:
        if entry.get("type") != "EventGenerationMatchAction":
            continue
        eid = entry.get("id", "?")
        owners = [rules[r] for r in rule_actions.get(eid, []) if r in rules]
        if owners:
            detectors[eid] = (
                lambda df, _r=R.or_(*owners), _msg=entry.get("event_message", ""): (
                    R.match_filter(df, _r).withColumn("message", F.lit(_msg))
                )
            )
        elif not strict:
            skipped.append((eid, "no built rule references this match action"))

    # post-pass 2: CorrelationRule + EventClassSelector +
    # TimeCorrelationViolationDetector -> implication_within per rule
    sel_roles: dict[str, list[tuple[str, str]]] = {}  # action id -> (corr rule, role)
    for entry in analysis:
        if entry.get("type") != "EventClassSelector":
            continue
        aid = entry.get("action_id", "?")
        for r in entry.get("artefact_a_rules") or []:
            sel_roles.setdefault(aid, []).append((r, "a"))
        for r in entry.get("artefact_b_rules") or []:
            sel_roles.setdefault(aid, []).append((r, "b"))
    corr_rules = {
        e.get("rule_id", e.get("id", "?")): e
        for e in analysis
        if e.get("type") == "CorrelationRule"
    }
    for entry in analysis:
        if entry.get("type") != "TimeCorrelationViolationDetector":
            continue
        eid = entry.get("id", "?")
        try:
            if ts_col is None:
                raise ReferenceConfigError("needs Input.timestamp_paths for ts column")
            # per correlation rule: A-condition = OR of rules whose match
            # action selects it as artefact A; same for B
            sides: dict[str, dict[str, list[Column]]] = {}
            for aid, owners in rule_actions.items():
                for cid, role in sel_roles.get(aid, []):
                    for rid in owners:
                        if rid in rules:
                            sides.setdefault(cid, {}).setdefault(role, []).append(
                                rules[rid]
                            )
            pairs = [
                (cid, d["a"], d["b"], corr_rules[cid])
                for cid, d in sides.items()
                if "a" in d and "b" in d and cid in corr_rules
            ]
            if not pairs:
                raise ReferenceConfigError(
                    "no correlation rule with both A and B selectors resolved"
                )
            from logdata_anomaly_miner_spark.operators.correlation import (
                implication_within,
            )

            def tcvd(df: DataFrame, _pairs=pairs) -> DataFrame:
                outs = []
                for cid, a_rules, b_rules, ce in _pairs:
                    v = implication_within(
                        df,
                        R.or_(*a_rules),
                        R.or_(*b_rules),
                        float(ce.get("min_time_delta", 0)),
                        float(ce.get("max_time_delta", 60)),
                        ts_col=ts_col,
                    ).withColumn("correlation_rule", F.lit(cid))
                    outs.append(v)
                out = outs[0]
                for o in outs[1:]:
                    out = out.unionByName(o)
                return out

            detectors[eid] = tcvd
        except ReferenceConfigError as e:
            if strict:
                raise
            skipped.append((eid, str(e)))

    referenced: set[str] = set()
    if ts_col:
        referenced.add(ts_col)
    for entry in analysis:
        for key in ("path", "paths", "id_path_list", "ignore_list"):
            v = entry.get(key)
            if isinstance(v, str):
                referenced.add(path_col(v))
            elif isinstance(v, list):
                referenced.update(path_col(p) for p in v if isinstance(p, str))

    return ReferenceConfig(
        model=elements[root],
        elements=elements,
        rules=rules,
        detectors=detectors,
        skipped=skipped,
        approximations=approximations,
        referenced_cols=referenced,
        timestamp_col=ts_col,
        learn_mode=data.get("LearnMode"),
    )
