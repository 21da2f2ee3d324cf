"""Columnar parsing-model layer: compile AMiner-style model DAGs to one
anchored regex + typed extraction (SURVEY.md §2.2 mapping)."""

from __future__ import annotations

from logdata_anomaly_miner_spark import parsing as P


def _syslog_model():
    # "<ts> host sshd[<pid>]: Failed password for <user> from <ip> port <port>"
    return P.seq(
        P.datetime_el("ts", "yyyy-MM-dd'T'HH:mm:ss", r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}"),
        P.fixed(" "),
        P.whitespace_limited("host"),
        P.fixed(" sshd["),
        P.decimal_integer("pid", allow_sign=False),
        P.fixed("]: "),
        P.wordlist("outcome", ["Failed", "Accepted"]),
        P.fixed(" password for "),
        P.variable_bytes("user", "abcdefghijklmnopqrstuvwxyz"),
        P.fixed(" from "),
        P.ip_address("ip"),
        P.fixed(" port "),
        P.decimal_integer("port", allow_sign=False),
    )


def test_parse_syslog_line(spark):
    lines = [
        ("2024-01-05T10:11:12 web1 sshd[4242]: Failed password for root from 10.0.0.5 port 2222",),
        ("2024-01-05T10:11:13 web1 sshd[4243]: Accepted password for alice from 192.168.1.9 port 22",),
        ("totally unparseable line",),
    ]
    df = spark.createDataFrame(lines, "raw string")
    out = P.parse(df, "raw", _syslog_model()).collect()
    r0, r1, r2 = out
    assert r0["_parse_ok"] and r1["_parse_ok"] and not r2["_parse_ok"]
    assert r0["outcome"] == "Failed" and r1["outcome"] == "Accepted"
    assert r0["pid"] == 4242 and isinstance(r0["pid"], int)
    assert r0["user"] == "root" and r1["user"] == "alice"
    # IP packed to long (IpAddressDataModelElement parity: 10.0.0.5)
    assert r0["ip"] == (10 << 24) + 5
    assert r1["ip"] == (192 << 24) + (168 << 16) + (1 << 8) + 9
    assert r0["port"] == 2222
    assert str(r0["ts"]).startswith("2024-01-05 10:11:12")
    assert r2["user"] is None and r2["ip"] is None


def test_debug_element_zero_width_context(spark):
    """DebugModelElement analog: consumes nothing (siblings still match)
    and captures the unconsumed remainder at its position."""
    model = P.seq(
        P.fixed("op="),
        P.debug_el("ctx"),
        P.wordlist("op", ["read", "write"]),
        P.fixed(" n="),
        P.decimal_integer("n", allow_sign=False),
    )
    df = spark.createDataFrame([("op=read n=42",)], "raw string")
    row = P.parse(df, "raw", model).collect()[0]
    assert row["_parse_ok"] and row["op"] == "read" and row["n"] == 42
    assert row["ctx"] == "read n=42"


def test_first_match_and_optional(spark):
    model = P.seq(
        P.first_match(
            P.seq(P.fixed("GET "), P.delimited("path", " ", consume_delimiter=False)),
            P.seq(P.fixed("POST "), P.delimited("body", " ", consume_delimiter=False)),
        ),
        P.optional(P.seq(P.fixed(" v="), P.decimal_float("version"))),
    )
    rows = [("GET /index.html",), ("POST data v=1.5",), ("PUT x",)]
    df = spark.createDataFrame(rows, "raw string")
    out = P.parse(df, "raw", model).collect()
    assert out[0]["_parse_ok"] and out[0]["path"] == "/index.html" and out[0]["version"] is None
    assert out[1]["_parse_ok"] and out[1]["body"] == "data" and out[1]["version"] == 1.5
    assert not out[2]["_parse_ok"]


def test_base64_and_hex(spark):
    model = P.seq(P.hex_string("h"), P.fixed(":"), P.base64_string("b64"))
    df = spark.createDataFrame([("deadbeef:aGVsbG8=",)], "raw string")
    r = P.parse(df, "raw", model).collect()[0]
    assert r["h"] == "deadbeef"
    assert bytes(r["b64"]) == b"hello"


def test_repeated_span(spark):
    model = P.seq(P.fixed("ids="), P.repeated(P.seq(P.decimal_integer("first"), P.fixed(";")), 1, None, name="span"))
    df = spark.createDataFrame([("ids=1;2;3;",)], "raw string")
    r = P.parse(df, "raw", model).collect()[0]
    assert r["_parse_ok"] and r["span"] == "1;2;3;"
    # per-item recovery downstream (regexp_extract_all over the span)
    import pyspark.sql.functions as F
    items = (
        P.parse(df, "raw", model)
        .select(F.regexp_extract_all("span", F.lit(r"\d+"), 0).alias("xs"))
        .collect()[0]["xs"]
    )
    assert items == ["1", "2", "3"]


def test_infer_years_reference_parity(spark):
    """Replays DateTimeModelElementTest test11/test13/test14: lines without
    year, start_year=2020, default max_time_jump_seconds=86400."""
    from logdata_anomaly_miner_spark.parsing import infer_years
    from pyspark.sql import functions as F

    # test11: 31.12 23:59:00 -> 1609459140; 01.01 11:20:00 -> 1609500000 (wrap)
    df = spark.createDataFrame(
        [(0, "31.12 23:59:00"), (1, "01.01 11:20:00")], "line_no long, raw string"
    ).withColumn("ts", F.to_timestamp(F.concat(F.lit("2020 "), F.col("raw")), "yyyy dd.MM HH:mm:ss"))
    out = infer_years(df, "ts", order_cols=("line_no",))
    got = {r["line_no"]: r["ts_adj"].timestamp() for r in out.collect()}
    assert got == {0: 1609459140.0, 1: 1609500000.0}

    # test13: 01.01 23:59:00 after 31.12 23:59:00 is exactly 86400s ahead
    # in the next year -> wrap accepted -> 1609545540
    df = spark.createDataFrame(
        [(0, "31.12 23:59:00"), (1, "01.01 23:59:00")], "line_no long, raw string"
    ).withColumn("ts", F.to_timestamp(F.concat(F.lit("2020 "), F.col("raw")), "yyyy dd.MM HH:mm:ss"))
    out = infer_years(df, "ts", order_cols=("line_no",))
    got = {r["line_no"]: r["ts_adj"].timestamp() for r in out.collect()}
    assert got[1] == 1609545540.0

    # test14: next-year reading exceeds max_time_jump -> no wrap, value
    # keeps the current-year reading (inconsistency branch)
    df = spark.createDataFrame(
        [(0, "31.12 23:59:00"), (1, "02.01 23:59:01")], "line_no long, raw string"
    ).withColumn("ts", F.to_timestamp(F.concat(F.lit("2020 "), F.col("raw")), "yyyy dd.MM HH:mm:ss"))
    out = infer_years(df, "ts", order_cols=("line_no",))
    got = {r["line_no"]: r["ts_adj"].timestamp() for r in out.collect()}
    # 2020-01-02 23:59:01 UTC (unchanged current-year reading)
    assert got[1] == 1578009541.0


def test_infer_years_straggler_previous_year(spark):
    """Reference :325-335 — an early-January stream with a late-December
    straggler: the straggler maps to year-1 without disturbing the rolling
    year of later rows."""
    from logdata_anomaly_miner_spark.parsing import infer_years
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(0, "01.01 10:00:00"), (1, "31.12 23:50:00"), (2, "01.01 11:00:00")],
        "line_no long, raw string",
    ).withColumn("ts", F.to_timestamp(F.concat(F.lit("2021 "), F.col("raw")), "yyyy dd.MM HH:mm:ss"))
    out = infer_years(df, "ts", order_cols=("line_no",))
    got = {r["line_no"]: r["ts_adj"] for r in out.collect()}
    assert got[1].year == 2020 and got[1].month == 12
    assert got[0].year == 2021 and got[2].year == 2021


def test_decimal_float_modes(spark):
    """DecimalFloatValueModelElement mode surface (reference :24-75)."""
    from logdata_anomaly_miner_spark.parsing import (
        compile_model,
        decimal_float_modes,
        parse,
        seq,
        fixed,
    )
    import re as _re

    def matches(el, s):
        # compile_model emits Java named groups (?<n>...); translate for re
        rx = compile_model(el).replace("(?<", "(?P<")
        return _re.fullmatch(rx, s) is not None

    none = decimal_float_modes("v")
    assert matches(none, "0") and matches(none, "0.5") and matches(none, "12.75")
    assert not matches(none, "01") and not matches(none, "-1") and not matches(none, "1e3")
    opt = decimal_float_modes("v", sign_type="optional")
    assert matches(opt, "-3.2") and not matches(opt, "+3.2")
    mand = decimal_float_modes("v", sign_type="mandatory")
    assert matches(mand, "+3.2") and matches(mand, "-3.2") and not matches(mand, "3.2")
    zero = decimal_float_modes("v", pad_type="zero")
    assert matches(zero, "007.5")
    blank = decimal_float_modes("v", pad_type="blank")
    assert matches(blank, "  7.5")
    eman = decimal_float_modes("v", exponent_type="mandatory")
    assert matches(eman, "2.5e10") and not matches(eman, "2.5")
    # typed extraction end-to-end
    df = spark.createDataFrame([("x=007.25",)], "raw string")
    out = parse(df, "raw", seq(fixed("x="), decimal_float_modes("v", pad_type="zero")))
    assert out.collect()[0]["v"] == 7.25


def test_repeated_items_per_item_values(spark):
    from logdata_anomaly_miner_spark.parsing import (
        decimal_integer,
        fixed,
        parse,
        repeated,
        seq,
    )
    from pyspark.sql import functions as F

    model = seq(fixed("ids:"), repeated(seq(decimal_integer("n"), fixed(";")),
                                        min_n=1, name="items"))
    df = spark.createDataFrame([("ids:1;22;333;",)], "raw string")
    out = parse(df, "raw", model).withColumn(
        "vals",
        F.transform(
            F.regexp_extract_all(F.col("items"), F.lit(r"(\d+);"), 1),
            lambda s: s.cast("long"),
        ),
    )
    assert out.collect()[0]["vals"] == [1, 22, 333]


def test_parse_json_string_field(spark):
    """A JSON document embedded as a string value is parsed key by key
    (JsonStringModelElement); invalid JSON is unparsed."""
    from logdata_anomaly_miner_spark.parsing import decimal_integer, parse_json_string_models

    df = spark.createDataFrame(
        [('{"a": 1}',), ("not json",)], "payload string"
    )
    out = parse_json_string_models(df, "payload", {"a": decimal_integer("a")}).collect()
    assert out[0]["a"] == 1 and out[0]["_parse_ok"]
    assert not out[1]["_parse_ok"]


def test_ip_address_v6(spark):
    from logdata_anomaly_miner_spark.parsing import fixed, ip_address_v6, parse, seq

    model = seq(fixed("src="), ip_address_v6("ip6"))
    rows = [
        ("src=2001:db8:0:0:0:0:2:1",),
        ("src=2001:db8::2:1",),
        ("src=::1",),
        ("src=fe80::1ff:fe23:4567:890a",),
        ("src=not-an-ip",),
        # embedded longest-match: must capture the FULL address, not a
        # "fe80::"-style prefix (alternation-order bug fixed in round 3)
        ("src=fe80::1",),
        ("src=1:2::3:4",),
        # IPv4-mapped / v4-tail forms (reference byte parser accepts these)
        ("src=::ffff:1.2.3.4",),
        ("src=1:2:3:4:5:6:7.8.9.10",),
    ]
    out = parse(spark.createDataFrame(rows, "raw string"), "raw", model).collect()
    assert [r["_parse_ok"] for r in out] == [
        True, True, True, True, False, True, True, True, True,
    ]
    assert out[1]["ip6"] == "2001:db8::2:1"
    assert out[5]["ip6"] == "fe80::1"
    assert out[6]["ip6"] == "1:2::3:4"
    assert out[7]["ip6"] == "::ffff:1.2.3.4"
    assert out[8]["ip6"] == "1:2:3:4:5:6:7.8.9.10"


def test_json_string_models_rejects_non_objects_and_missing_keys(spark):
    """Reference parity: arrays/scalars are not objects -> unparsed
    (:104-130); a MISSING configured key fails the match (:185-204) while
    a PRESENT null value is skipped under ignore_null (:168-172)."""
    from logdata_anomaly_miner_spark.parsing import (
        decimal_integer,
        parse_json_string_models,
    )

    df = spark.createDataFrame(
        [
            (0, '{"a": 7}'),        # ok
            (1, "[1, 2, 3]"),       # array -> unparsed
            (2, '"scalar"'),        # scalar -> unparsed
            (3, '{"b": 1}'),        # key a missing -> unparsed
            (4, '{"a": null}'),      # present null -> skipped (ok)
        ],
        "i long, payload string",
    )
    out = parse_json_string_models(df, "payload", {"a": decimal_integer("a")})
    got = {r["i"]: r["_parse_ok"] for r in out.collect()}
    assert got == {0: True, 1: False, 2: False, 3: False, 4: True}


def test_ts_caster_calendar_invalid_is_null_not_crash(spark):
    """A regex-matching but calendar-invalid timestamp must yield a null
    value, not abort the job (unparsed atoms are first-class)."""
    m = P.datetime_el("dt", "yyyy-MM-dd HH:mm:ss", r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}")
    df = spark.createDataFrame(
        [("2024-01-05 10:00:00",), ("2024-99-99 99:99:99",)], "raw string"
    )
    rows = P.parse(df, "raw", m).orderBy("raw").collect()
    assert rows[0]["dt"] is not None and rows[1]["dt"] is None


def test_json_string_models_parity(spark):
    """JsonStringModelElement nested-model re-parse, replaying the
    reference unit-test scenarios (aecid-testsuite/unit/parsing/
    JsonStringModelElementTest.py test2-test4)."""
    from logdata_anomaly_miner_spark.parsing import (
        fixed,
        parse_json_string_models,
        wordlist,
    )

    host = wordlist("host", ["www.google.com"])
    user = wordlist("user", ["foobar"])

    # test2: valid match with an extra unconfigured key (non-strict)
    df = spark.createDataFrame(
        [('{"host": "www.google.com", "user": "foobar", "one": "two"}',),
         ("not json",)],
        "payload string",
    )
    out = parse_json_string_models(df, "payload", {"host": host, "user": user}).collect()
    assert out[0]["_parse_ok"] and out[0]["host"] == "www.google.com" and out[0]["user"] == "foobar"
    assert not out[1]["_parse_ok"]

    # test3: strict mode with a nested key — extra key fails, exact passes
    server = wordlist("server", ["www.google.com"])
    path_el = wordlist("pathv", ["/index.html"])
    models3 = {"host.server": server, "user": user, "path": path_el}
    df3 = spark.createDataFrame(
        [('{"host": {"server": "www.google.com"}, "user": "foobar", "one": "two"}',),
         ('{"host": {"server": "www.google.com"}, "user": "foobar", "path": "/index.html"}',)],
        "payload string",
    )
    out3 = parse_json_string_models(df3, "payload", models3, strict=True).collect()
    assert not out3[0]["_parse_ok"]
    assert out3[1]["_parse_ok"] and out3[1]["server"] == "www.google.com" and out3[1]["pathv"] == "/index.html"

    # test4: null handling
    dfn = spark.createDataFrame(
        [('{"host": "www.google.com", "user": null, "one": "two"}',)], "payload string"
    )
    r_ign = parse_json_string_models(dfn, "payload", {"host": host, "user": user},
                                     ignore_null=True).collect()[0]
    assert r_ign["_parse_ok"] and r_ign["host"] == "www.google.com" and r_ign["user"] is None
    r_noign = parse_json_string_models(dfn, "payload", {"host": host, "user": user},
                                       ignore_null=False).collect()[0]
    assert not r_noign["_parse_ok"]
    # empty-string model parses the stringified null when ignore_null=False
    dfn2 = spark.createDataFrame(
        [('{"host": "www.google.com", "user": null}',)], "payload string"
    )
    r_empty = parse_json_string_models(
        dfn2, "payload", {"host": host, "user": fixed("")}, ignore_null=False
    ).collect()[0]
    assert r_empty["_parse_ok"]
