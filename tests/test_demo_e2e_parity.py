"""End-to-end demo pipeline parity (round-5 VERDICT item 1).

The golden stream in tests/golden/demo_e2e/reference_stream.txt was emitted
by the REFERENCE itself (ernstleierzopf/logdata-anomaly-miner), driven fully
in-process by scripts/capture_demo_golden.py over the deterministic corpus
tests/golden/demo_e2e/corpus.log with the pipeline defined by
tests/golden/demo_e2e/ref_config.py (the reference's own config API, shaped
after aecid-testsuite/integration/config.py:80-140):

    SimpleUnparsedAtomHandler -> TimestampsUnsortedDetector ->
    NewMatchPathDetector -> NewMatchPathValueDetector ->
    NewMatchPathValueComboDetector

over the integration test's DiskUpgrade/HomePath parser model, with
default_timestamp_path '/model/DiskUpgrade/DTM' and time.time() frozen so
timestamp-less atoms are deterministic.

This test replays the SAME pipeline on the Spark engine — reader, regex
parser compilation, first-occurrence novelty operators, two-phase unsorted-
timestamp scan — renders each event in the reference StreamPrinter format
(aminer/events/EventData.py:49-78), and byte-compares the concatenated
stream.

ORDERING RULE (documented, deterministic on both sides): events sort by
(atom ingest order, handler registration order). The reference emits events
per atom as the SubhandlerFilter walks its handler list, which is exactly
this order; Spark's set-oriented results are sorted back into it.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from logdata_anomaly_miner_spark import parsing as P
from logdata_anomaly_miner_spark.operators.new_value import check_new_values, first_occurrences
from logdata_anomaly_miner_spark.operators.timestamps import unsorted_timestamps
from logdata_anomaly_miner_spark.sources.readers import multisource_union, read_text_lines

E2E = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden", "demo_e2e")
FROZEN = 1710504060.0  # must equal scripts/capture_demo_golden.py FROZEN_TIME

DU_PATHS = [
    "/model/DiskUpgrade", "/model/DiskUpgrade/DTM", "/model/DiskUpgrade/UNameSpace1",
    "/model/DiskUpgrade/UName", "/model/DiskUpgrade/UNameSpace2",
    "/model/DiskUpgrade/User", "/model/DiskUpgrade/HDRepair",
]
HP_PATHS = [
    "/model/HomePath", "/model/HomePath/Pwd", "/model/HomePath/Username",
    "/model/HomePath/Is", "/model/HomePath/Path",
]


def _model() -> P.Element:
    """The fixture parser model, expressed in THIS package's combinators
    (anchored: the reference matches from position 0 and AnyByte consumes
    to end of line)."""
    return P.seq(
        P.Element("^"),
        P.first_match(
            P.seq(
                P.datetime_el(
                    "DTM", "yyyy-MM-dd HH:mm:ss",
                    r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}",
                ),
                P.fixed(" "),
                P.delimited("UName", " ", consume_delimiter=False),
                P.fixed(" "),
                P.delimited("User", " ", consume_delimiter=False),
                P.fixed(" System rebooted for hard disk upgrade"),
            ),
            P.seq(
                P.fixed("The Path of the home directory shown by pwd of the user "),
                P.delimited("Username", " ", consume_delimiter=False),
                P.fixed(" is: "),
                P.any_bytes("Path"),
            ),
        ),
        P.Element("$"),
    )


def _fmt(col):
    return F.from_unixtime(col.cast("long"), "yyyy-MM-dd HH:mm:ss")


def _match_dict_block(indent_first: bool):
    """The reference's match-dictionary rendering for whichever branch
    matched: '  /path: <matched string>' per path, in model order. The DTM
    value renders as the parsed epoch int (its match_object)."""
    lead = "  " if indent_first else ""
    du = F.concat(
        F.lit(f"{lead}/model/DiskUpgrade: "), F.col("raw"),
        F.lit("\n  /model/DiskUpgrade/DTM: "),
        F.unix_timestamp("DTM").cast("string"),
        F.lit("\n  /model/DiskUpgrade/UNameSpace1:  "),
        F.lit("\n  /model/DiskUpgrade/UName: "), F.col("UName"),
        F.lit("\n  /model/DiskUpgrade/UNameSpace2:  "),
        F.lit("\n  /model/DiskUpgrade/User: "), F.col("User"),
        F.lit("\n  /model/DiskUpgrade/HDRepair:  System rebooted for hard disk upgrade"),
    )
    hp = F.concat(
        F.lit(f"{lead}/model/HomePath: "), F.col("raw"),
        F.lit("\n  /model/HomePath/Pwd: The Path of the home directory shown by pwd of the user "),
        F.lit("\n  /model/HomePath/Username: "), F.col("Username"),
        F.lit("\n  /model/HomePath/Is:  is: "),
        F.lit("\n  /model/HomePath/Path: "), F.col("Path"),
    )
    return F.when(F.col("DTM").isNotNull(), du).otherwise(hp)


def _spark_event_stream(spark) -> str:
    lines = read_text_lines(spark, os.path.join(E2E, "corpus.log"))
    parsed = P.parse(lines, "raw", _model())
    # atom time: the default_timestamp_path when parsed, frozen wall clock
    # otherwise (exactly the capture harness's atomizer behavior)
    parsed = parsed.withColumn(
        "atom_ts",
        F.coalesce(F.unix_timestamp("DTM").cast("double"), F.lit(FROZEN)),
    ).localCheckpoint()  # tiny fixture; pins ingest_order for the self-joins

    ok = parsed.filter(F.col("_parse_ok"))

    # rank 0: SimpleUnparsedAtomHandler (stop_when_handled=True — unparsed
    # atoms never reach the detectors below)
    unparsed = parsed.filter(~F.col("_parse_ok")).select(
        "ingest_order", F.lit(0).alias("rank"),
        F.concat(
            _fmt(F.lit(FROZEN)),
            F.lit(' Unparsed atom received\nSimpleUnparsedAtomHandler: "UnparsedHandler" (1 lines)\n  '),
            F.col("raw"), F.lit("\n\n"),
        ).alias("text"),
    )

    # rank 1: TimestampsUnsortedDetector over PARSED atoms in ingest order
    # (the engine's two-phase distributed prefix scan)
    uns = unsorted_timestamps(ok, ts_col="atom_ts", order_cols=["ingest_order"], num_buckets=4)
    unsorted = uns.select(
        "ingest_order", F.lit(1).alias("rank"),
        F.concat(
            _fmt(F.col("atom_ts")), F.lit(" Timestamp "), _fmt(F.col("atom_ts")),
            F.lit(" below "), _fmt(F.col("prev_ts")),
            F.lit('\nTimestampsUnsortedDetector: "Unsorted" (1 lines)\n'),
            _match_dict_block(indent_first=True),
            F.lit("\nOriginal log line: "), F.col("raw"), F.lit("\n\n"),
        ).alias("text"),
    )

    # rank 2: NewMatchPathDetector — first atom introducing each path; the
    # event lists the atom's whole match dict + the repr of its new paths
    du_arr = F.array(*[F.lit(p) for p in DU_PATHS])
    hp_arr = F.array(*[F.lit(p) for p in HP_PATHS])
    atom_paths = ok.select(
        "ingest_order",
        F.posexplode(
            F.when(F.col("DTM").isNotNull(), du_arr).otherwise(hp_arr)
        ).alias("pos", "path"),
    )
    first_per_path = first_occurrences(atom_paths, ["path"], ["ingest_order"])
    new_paths_per_atom = (
        first_per_path.groupBy("ingest_order")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "path"))),
                lambda s: s["path"],
            ).alias("new_paths")
        )
    )
    newpath = new_paths_per_atom.join(ok, "ingest_order").select(
        "ingest_order", F.lit(2).alias("rank"),
        F.concat(
            _fmt(F.col("atom_ts")),
            F.lit(' New path(es) detected\nNewMatchPathDetector: "NewPath" (1 lines)\n'),
            _match_dict_block(indent_first=True),
            # the reference renders repr(list-of-new-paths) flush-left
            F.lit("\n['"),
            F.concat_ws("', '", F.col("new_paths")),
            F.lit("']\nOriginal log line: "), F.col("raw"), F.lit("\n\n"),
        ).alias("text"),
    )

    # rank 3: NewMatchPathValueDetector on /model/HomePath/Username
    hp = ok.filter(F.col("Username").isNotNull())
    newvalue = check_new_values(hp, ["Username"], None, order_cols=["ingest_order"]).select(
        "ingest_order", F.lit(3).alias("rank"),
        F.concat(
            _fmt(F.col("atom_ts")),
            F.lit(' New value(s) detected\nNewMatchPathValueDetector: "NewValue" (1 lines)\n'),
            F.lit("  {'/model/HomePath/Username': '"), F.col("Username"),
            F.lit("'}\nOriginal log line: "), F.col("raw"), F.lit("\n\n"),
        ).alias("text"),
    )

    # rank 4: NewMatchPathValueComboDetector on (Username, Path)
    newcombo = check_new_values(hp, ["Username", "Path"], None, order_cols=["ingest_order"]).select(
        "ingest_order", F.lit(4).alias("rank"),
        F.concat(
            _fmt(F.col("atom_ts")),
            F.lit(' New value combination(s) detected\nNewMatchPathValueComboDetector: "NewValueCombo" (1 lines)\n'),
            F.lit("  (b'"), F.col("Username"), F.lit("', b'"), F.col("Path"),
            F.lit("')\nOriginal log line: "), F.col("raw"), F.lit("\n\n"),
        ).alias("text"),
    )

    events = unparsed.unionByName(unsorted).unionByName(newpath).unionByName(newvalue).unionByName(newcombo)
    rows = events.orderBy("ingest_order", "rank").collect()
    return "".join(r["text"] for r in rows)


def test_demo_e2e_stream_matches_reference_golden(spark):
    with open(os.path.join(E2E, "reference_stream.txt"), encoding="utf-8") as fh:
        want = fh.read()
    got = _spark_event_stream(spark)
    assert got == want


def test_demo_e2e_structured_streaming_micro_batches_match_reference_golden(
    spark, tmp_path
):
    """The SAME reference golden, reproduced through Structured Streaming:
    the corpus arrives as three files / three micro-batches (readStream +
    maxFilesPerTrigger=1) and the whole detector pipeline runs as ONE
    applyInPandasWithState operator (streaming_dispatch_pipeline) whose
    learned sets and prev-timestamp live in the Spark state store across
    batch boundaries. Certifies that the byte-parity demonstrated batch-side
    holds under micro-batch execution with detector state crossing batches
    mid-corpus (new values learned in batch 1 must not re-emit in batch 3,
    an unsorted timestamp must compare against a prev_ts from an earlier
    batch)."""
    from logdata_anomaly_miner_spark.streaming.state import (
        streaming_dispatch_pipeline,
    )

    with open(os.path.join(E2E, "reference_stream.txt"), encoding="utf-8") as fh:
        want = fh.read()

    parsed = (
        read_text_lines(spark, os.path.join(E2E, "corpus.log"))
        .transform(lambda df: P.parse(df, "raw", _model()))
        .withColumn(
            "atom_ts",
            F.coalesce(F.unix_timestamp("DTM").cast("double"), F.lit(FROZEN)),
        )
        .localCheckpoint()
    )
    du_arr = F.array(*[F.lit(p) for p in DU_PATHS])
    hp_arr = F.array(*[F.lit(p) for p in HP_PATHS])
    atoms = parsed.select(
        "ingest_order",
        F.col("atom_ts").alias("ts"),
        F.col("_parse_ok").alias("parse_ok"),
        F.when(F.col("DTM").isNotNull(), du_arr)
        .when(F.col("_parse_ok"), hp_arr)
        .alias("paths"),
        F.col("Username").alias("value"),
        F.when(
            F.col("Username").isNotNull(),
            F.concat_ws("\x1f", F.col("Username"), F.col("Path")),
        ).alias("combo"),
    )
    n = atoms.count()
    cut1, cut2 = n // 3, 2 * n // 3
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, (lo, hi) in enumerate([(0, cut1), (cut1, cut2), (cut2, n + 1)]):
        stage = str(tmp_path / f"stage{i}")
        atoms.filter(
            (F.col("ingest_order") >= lo) & (F.col("ingest_order") < hi)
        ).coalesce(1).write.parquet(stage)
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        dst = in_dir / f"{i:02d}.parquet"
        shutil.copy(os.path.join(stage, part), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    stream = (
        spark.readStream.schema(atoms.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    decisions_stream = streaming_dispatch_pipeline(stream)
    query = (
        decisions_stream.writeStream.format("memory")
        .queryName("demo1_streaming_decisions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        query.processAllAvailable()
        batches = [
            p for p in query.recentProgress if p["numInputRows"] > 0
        ]
        assert len(batches) >= 3, "corpus must span >=3 micro-batches"
    finally:
        query.stop()

    dec = spark.table("demo1_streaming_decisions").join(parsed, "ingest_order")
    text = (
        F.when(
            F.col("rank") == 0,
            F.concat(
                _fmt(F.lit(FROZEN)),
                F.lit(' Unparsed atom received\nSimpleUnparsedAtomHandler: "UnparsedHandler" (1 lines)\n  '),
                F.col("raw"), F.lit("\n\n"),
            ),
        )
        .when(
            F.col("rank") == 1,
            F.concat(
                _fmt(F.col("atom_ts")), F.lit(" Timestamp "), _fmt(F.col("atom_ts")),
                F.lit(" below "), _fmt(F.col("prev_ts")),
                F.lit('\nTimestampsUnsortedDetector: "Unsorted" (1 lines)\n'),
                _match_dict_block(indent_first=True),
                F.lit("\nOriginal log line: "), F.col("raw"), F.lit("\n\n"),
            ),
        )
        .when(
            F.col("rank") == 2,
            F.concat(
                _fmt(F.col("atom_ts")),
                F.lit(' New path(es) detected\nNewMatchPathDetector: "NewPath" (1 lines)\n'),
                _match_dict_block(indent_first=True),
                F.lit("\n['"),
                F.concat_ws("', '", F.col("new_paths")),
                F.lit("']\nOriginal log line: "), F.col("raw"), F.lit("\n\n"),
            ),
        )
        .when(
            F.col("rank") == 3,
            F.concat(
                _fmt(F.col("atom_ts")),
                F.lit(' New value(s) detected\nNewMatchPathValueDetector: "NewValue" (1 lines)\n'),
                F.lit("  {'/model/HomePath/Username': '"), F.col("Username"),
                F.lit("'}\nOriginal log line: "), F.col("raw"), F.lit("\n\n"),
            ),
        )
        .otherwise(
            F.concat(
                _fmt(F.col("atom_ts")),
                F.lit(' New value combination(s) detected\nNewMatchPathValueComboDetector: "NewValueCombo" (1 lines)\n'),
                F.lit("  (b'"), F.col("Username"), F.lit("', b'"), F.col("Path"),
                F.lit("')\nOriginal log line: "), F.col("raw"), F.lit("\n\n"),
            )
        )
    )
    rows = dec.select("ingest_order", "rank", text.alias("text")).orderBy(
        "ingest_order", "rank"
    ).collect()
    got = "".join(r["text"] for r in rows)
    assert got == want


REFERENCE_LIB = "/root/reference/source/root/usr/lib/logdata-anomaly-miner"


@pytest.mark.skipif(
    not os.path.isdir(REFERENCE_LIB), reason="reference tree not present"
)
def test_golden_matches_fresh_reference_capture():
    """Drift guard: a fresh in-process run of the REFERENCE pipeline still
    produces the committed golden bytes (subprocess so the reference import
    tree cannot leak into this interpreter)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "capture_demo_golden.py"), "--check"],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr + proc.stdout


# ---------------------------------------------------------------------------
# Pipeline 2: MatchFilter / ValueRangeDetector / CharsetDetector /
# EnhancedNewMatchPathValueComboDetector / HistogramAnalysis
# (golden: reference_stream2.txt from demo2_config.py over corpus2.log)
# ---------------------------------------------------------------------------

V2_PATHS = ["/model2/Val", "/model2/Val/DTM", "/model2/Val/Fix", "/model2/Val/value"]
U2_PATHS = [
    "/model2/User", "/model2/User/DTM", "/model2/User/Fix", "/model2/User/name",
    "/model2/User/Sp", "/model2/User/action",
]


def _model2() -> P.Element:
    return P.seq(
        P.Element("^"),
        P.first_match(
            P.seq(
                P.datetime_el("DTMv", "yyyy-MM-dd HH:mm:ss",
                              r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}"),
                P.fixed(" VAL "),
                P.decimal_float("value"),
            ),
            P.seq(
                P.datetime_el("DTMu", "yyyy-MM-dd HH:mm:ss",
                              r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}"),
                P.fixed(" user "),
                P.delimited("name", " ", consume_delimiter=False),
                P.fixed(" "),
                P.wordlist("action", ["login", "logout"]),
            ),
        ),
        P.Element("$"),
    )


def _spark_event_stream2(spark) -> str:
    from logdata_anomaly_miner_spark.operators.value_range import (
        check_value_range_sequential,
    )

    lines = read_text_lines(spark, os.path.join(E2E, "corpus2.log"))
    parsed = P.parse(lines, "raw", _model2())
    parsed = (
        parsed.withColumn("epoch", F.coalesce(
            F.unix_timestamp("DTMv"), F.unix_timestamp("DTMu")))
        .withColumn("atom_ts", F.coalesce(F.col("epoch").cast("double"), F.lit(FROZEN)))
        # FixedWordlistDataModelElement's match_object is the INDEX into the
        # word list (reference FixedWordlistDataModelElement.py)
        .withColumn("action_idx", F.when(F.col("action") == "login", 0)
                    .when(F.col("action") == "logout", 1))
        .localCheckpoint()
    )
    ok = parsed.filter(F.col("_parse_ok"))

    # rank 0: SimpleUnparsedAtomHandler ("Unparsed2")
    unparsed = parsed.filter(~F.col("_parse_ok")).select(
        "ingest_order", F.lit(0).alias("rank"),
        F.concat(
            _fmt(F.lit(FROZEN)),
            F.lit(' Unparsed atom received\nSimpleUnparsedAtomHandler: "Unparsed2" (1 lines)\n  '),
            F.col("raw"), F.lit("\n\n"),
        ).alias("text"),
    )

    # rank 1: NewMatchPathDetector ("NewPath2")
    val_block = F.concat(
        F.lit("  /model2/Val: "), F.col("raw"),
        F.lit("\n  /model2/Val/DTM: "), F.col("epoch").cast("string"),
        F.lit("\n  /model2/Val/Fix:  VAL "),
        F.lit("\n  /model2/Val/value: "), F.col("value").cast("string"),
    )
    user_block = F.concat(
        F.lit("  /model2/User: "), F.col("raw"),
        F.lit("\n  /model2/User/DTM: "), F.col("epoch").cast("string"),
        F.lit("\n  /model2/User/Fix:  user "),
        F.lit("\n  /model2/User/name: "), F.col("name"),
        F.lit("\n  /model2/User/Sp:  "),
        F.lit("\n  /model2/User/action: "), F.col("action_idx").cast("string"),
    )
    block = F.when(F.col("DTMv").isNotNull(), val_block).otherwise(user_block)
    v2 = F.array(*[F.lit(p) for p in V2_PATHS])
    u2 = F.array(*[F.lit(p) for p in U2_PATHS])
    atom_paths = ok.select(
        "ingest_order",
        F.posexplode(F.when(F.col("DTMv").isNotNull(), v2).otherwise(u2)).alias("pos", "path"),
    )
    first_per_path = first_occurrences(atom_paths, ["path"], ["ingest_order"])
    newpath = (
        first_per_path.groupBy("ingest_order")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "path"))), lambda s: s["path"]
        ).alias("new_paths"))
        .join(ok, "ingest_order")
        .select(
            "ingest_order", F.lit(1).alias("rank"),
            F.concat(
                _fmt(F.col("atom_ts")),
                F.lit(' New path(es) detected\nNewMatchPathDetector: "NewPath2" (1 lines)\n'),
                block,
                F.lit("\n['"), F.concat_ws("', '", F.col("new_paths")),
                F.lit("']\nOriginal log line: "), F.col("raw"), F.lit("\n\n"),
            ).alias("text"),
        )
    )

    # rank 2: MatchFilter on /model2/Val/value with target_value_list=[42.0]
    matchfilter = ok.filter(F.col("value") == 42.0).select(
        "ingest_order", F.lit(2).alias("rank"),
        F.concat(
            _fmt(F.col("atom_ts")),
            F.lit(' Log Atom Filtered\nMatchFilter: "ValFilter" (1 lines)\nOriginal log line: '),
            F.col("raw"), F.lit("\n\n"),
        ).alias("text"),
    )

    # rank 3: ValueRangeDetector (learn_mode, output_logline=False) — the
    # engine's sequential prefix-range operator gives the alarm rows
    vals = ok.filter(F.col("DTMv").isNotNull()).select(
        F.lit("g").alias("g"), F.col("ingest_order"), F.col("atom_ts"),
        F.col("value"), F.col("raw"),
    )
    viol, _learned = check_value_range_sequential(vals, ["g"], "value", ("ingest_order",))
    valrange = viol.join(
        vals.select("ingest_order", F.col("atom_ts").alias("_ts"), F.col("raw").alias("_raw")),
        "ingest_order",
    ).select(
        "ingest_order", F.lit(3).alias("rank"),
        F.concat(
            _fmt(F.col("_ts")),
            F.lit(' Value range anomaly detected\nValueRangeDetector: "ValRange" (1 lines)\n  '),
            F.col("_raw"), F.lit("\n\n"),
        ).alias("text"),
    )

    # rank 4: CharsetDetector (first atom initializes SILENTLY,
    # CharsetDetector.py receive_atom tail; later atoms alert on chars whose
    # first occurrence they are)
    users = ok.filter(F.col("name").isNotNull())
    first_user = users.agg(F.min("ingest_order")).collect()[0][0]
    chars = users.select(
        "ingest_order",
        F.explode(F.regexp_extract_all(F.col("name"), F.lit("(?s)."), 0)).alias("ch"),
    ).dropDuplicates(["ingest_order", "ch"])
    first_per_char = first_occurrences(chars, ["ch"], ["ingest_order"])
    charset = (
        first_per_char.filter(F.col("ingest_order") != first_user)
        .select("ingest_order").dropDuplicates()
        .join(users, "ingest_order")
        .select(
            "ingest_order", F.lit(4).alias("rank"),
            F.concat(
                _fmt(F.col("atom_ts")),
                F.lit(' New character(s) detected\nCharsetDetector: "NameCharset" (1 lines)\n  '),
                F.col("raw"), F.lit("\n\n"),
            ).alias("text"),
        )
    )

    # rank 5: EnhancedNewMatchPathValueComboDetector — event at each combo's
    # first occurrence; body = repr of the cumulative combo dict at event
    # time ({(b'name', action): [first_ts, last_ts, count]} in first-seen
    # order, EnhancedNewMatchPathValueComboDetector.py metadata semantics)
    occ = users.select("ingest_order", "name", "action_idx", F.col("epoch").alias("ep"))
    firsts = check_new_values(occ, ["name", "action_idx"], None, order_cols=["ingest_order"])
    ev = firsts.select(F.col("ingest_order").alias("e_ord"))
    stats = (
        ev.join(occ, F.col("ingest_order") <= F.col("e_ord"))
        .groupBy("e_ord", "name", "action_idx")
        .agg(
            F.min("ep").alias("first_ep"), F.max("ep").alias("last_ep"),
            F.count(F.lit(1)).alias("cnt"), F.min("ingest_order").alias("first_ord"),
        )
    )
    combo_body = (
        stats.groupBy("e_ord")
        .agg(F.concat_ws(", ", F.transform(
            F.array_sort(F.collect_list(F.struct(
                "first_ord",
                F.format_string(
                    "(b'%s', %d): [%d, %d, %d]",
                    "name", "action_idx", "first_ep", "last_ep", "cnt",
                ).alias("s"),
            ))),
            lambda s: s["s"],
        )).alias("entries"))
    )
    combo = combo_body.join(
        users, combo_body["e_ord"] == users["ingest_order"]
    ).select(
        "ingest_order", F.lit(5).alias("rank"),
        F.concat(
            _fmt(F.col("atom_ts")),
            F.lit(' New value combination(s) detected\nEnhancedNewMatchPathValueComboDetector: "UserAction" (1 lines)\n  {'),
            F.col("entries"),
            F.lit("}\nOriginal log line: "), F.col("raw"), F.lit("\n\n"),
        ).alias("text"),
    )

    # rank 6: HistogramAnalysis (LinearNumericBinDefinition(0, 10, 10),
    # report_interval=20, atom-time trigger) — report fires at the first
    # parsed atom whose time passes first_atom_time + 20 and covers the
    # property values seen up to and including it
    t0 = ok.agg(F.min("atom_ts")).collect()[0][0]
    trigger = (
        ok.filter(F.col("atom_ts") >= t0 + 20.0)
        .orderBy("ingest_order").limit(1)
        .select("ingest_order", "atom_ts").collect()
    )
    hist_rows = []
    if trigger:
        trig_ord, trig_ts = trigger[0]["ingest_order"], trigger[0]["atom_ts"]
        items = vals.filter(F.col("ingest_order") <= trig_ord)
        bins = (
            items.groupBy(F.floor(F.col("value") / 10).alias("b"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy("b")
        ).collect()
        total = sum(r["cnt"] for r in bins)
        bin_lines = "".join(
            "\n  * [%d-%d]: %d (ratio = %.2e)"
            % (r["b"] * 10, r["b"] * 10 + 10, r["cnt"], r["cnt"] / total)
            for r in bins
        )
        import datetime as _dt

        def fmt(ts):
            return _dt.datetime.fromtimestamp(ts, tz=_dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")

        text = (
            f"{fmt(trig_ts)} Histogram report\n"
            f'HistogramAnalysis: "ValHist" ({total} lines)\n'  # line count = element count (res padding)
            f"  Histogram report from {fmt(t0)} till {fmt(trig_ts)}\n"
            f'  Property "/model2/Val/value" ({total} elements):'
            f"{bin_lines}\n\n"
        )
        hist_rows = [(trig_ord, 6, text)]
    hist = spark.createDataFrame(hist_rows, "ingest_order long, rank int, text string")

    events = (
        unparsed.unionByName(newpath).unionByName(matchfilter)
        .unionByName(valrange).unionByName(charset).unionByName(combo)
        .unionByName(hist)
    )
    rows = events.orderBy("ingest_order", "rank").collect()
    return "".join(r["text"] for r in rows)


def test_demo2_e2e_stream_matches_reference_golden(spark):
    with open(os.path.join(E2E, "reference_stream2.txt"), encoding="utf-8") as fh:
        want = fh.read()
    got = _spark_event_stream2(spark)
    assert got == want


# ---------------------------------------------------------------------------
# Pipeline 3: EventSequenceDetector / MissingMatchPathValueDetector /
# EventFrequencyDetector (incl. empty-window warnings)
# (golden: reference_stream3.txt from demo3_config.py over corpus3.log)
# ---------------------------------------------------------------------------

A3_PATHS = [
    "/model3/Act", "/model3/Act/DTM", "/model3/Act/Fix", "/model3/Act/sid",
    "/model3/Act/Sp", "/model3/Act/act",
]
ACT_WORDS = ["open", "read", "close", "write"]


def _model3() -> P.Element:
    return P.seq(
        P.Element("^"),
        P.datetime_el("DTM3", "yyyy-MM-dd HH:mm:ss",
                      r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}"),
        P.fixed(" id "),
        P.delimited("sid", " ", consume_delimiter=False),
        P.fixed(" act "),
        P.wordlist("act", ACT_WORDS),
        P.Element("$"),
    )


def _spark_event_stream3(spark, freq_decisions=None) -> str:
    """``freq_decisions``: optional [(ingest_order, rank 4|5), ...] computed
    elsewhere (the Structured Streaming run) — substituted for the batch
    EventFrequencyDetector decision computation so the SAME text assembly
    certifies both execution modes byte-for-byte."""
    from logdata_anomaly_miner_spark.operators.event_frequency import (
        check_event_frequency,
    )
    from logdata_anomaly_miner_spark.operators.sequence import event_ngrams

    lines = read_text_lines(spark, os.path.join(E2E, "corpus3.log"))
    parsed = P.parse(lines, "raw", _model3())
    parsed = (
        parsed.withColumn("epoch", F.unix_timestamp("DTM3"))
        .withColumn("atom_ts", F.col("epoch").cast("double"))
        .withColumn(
            "act_idx",
            F.array_position(F.array(*[F.lit(w) for w in ACT_WORDS]), F.col("act")) - 1,
        )
        .localCheckpoint()
    )
    ok = parsed.filter(F.col("_parse_ok"))

    # rank 1: NewMatchPathDetector ("NewPath3") — single branch
    a3 = F.array(*[F.lit(p) for p in A3_PATHS])
    atom_paths = ok.select("ingest_order", F.posexplode(a3).alias("pos", "path"))
    first_per_path = first_occurrences(atom_paths, ["path"], ["ingest_order"])
    block3 = F.concat(
        F.lit("  /model3/Act: "), F.col("raw"),
        F.lit("\n  /model3/Act/DTM: "), F.col("epoch").cast("string"),
        F.lit("\n  /model3/Act/Fix:  id "),
        F.lit("\n  /model3/Act/sid: "), F.col("sid"),
        F.lit("\n  /model3/Act/Sp:  act "),
        F.lit("\n  /model3/Act/act: "), F.col("act_idx").cast("string"),
    )
    newpath = (
        first_per_path.groupBy("ingest_order")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "path"))), lambda s: s["path"]
        ).alias("new_paths"))
        .join(ok, "ingest_order")
        .select(
            "ingest_order", F.lit(1).alias("rank"),
            F.concat(
                _fmt(F.col("atom_ts")),
                F.lit(' New path(es) detected\nNewMatchPathDetector: "NewPath3" (1 lines)\n'),
                block3,
                F.lit("\n['"), F.concat_ws("', '", F.col("new_paths")),
                F.lit("']\nOriginal log line: "), F.col("raw"), F.lit("\n\n"),
            ).alias("text"),
        )
    )

    # rank 2: EventSequenceDetector seq_len=2 — per-sid adjacency (the
    # engine's lag n-grams), GLOBAL novelty of the value 2-gram
    # (EventSequenceDetector.py keeps one learned `sequences` set across
    # ids); event at the atom completing a first-ever gram
    grams = event_ngrams(
        ok.select("ingest_order", "sid", "act"), "act", n=2,
        id_cols=["sid"], order_cols=["ingest_order"],
    )
    new_grams = first_occurrences(grams, ["g1", "g2"], ["ingest_order"])
    seq_ev = (
        new_grams.select("ingest_order").dropDuplicates()
        .join(ok, "ingest_order")
        .select(
            "ingest_order", F.lit(2).alias("rank"),
            F.concat(
                _fmt(F.col("atom_ts")),
                F.lit(' New sequence detected\nEventSequenceDetector: "ActSeq" (1 lines)\n  '),
                F.col("raw"), F.lit("\n\n"),
            ).alias("text"),
        )
    )

    # rank 3: MissingMatchPathValueDetector (default_interval=15,
    # realert_interval=1000 -> each learned sid alerts at most once).
    # Trigger: the first atom a with a.ts > last_seen(v before a) + 15;
    # overdue = a.ts - last_seen - 15. Per-value occurrence intervals via
    # lead(); the alerting atom is the first atom inside the silent gap.
    from pyspark.sql import Window as W

    occ_v = ok.select("sid", "ingest_order", "atom_ts")
    wv = W.partitionBy("sid").orderBy("ingest_order")
    gaps = (
        occ_v.withColumn("next_ts", F.lead("atom_ts").over(wv))
        .withColumn("deadline", F.col("atom_ts") + 15.0)
        .filter(F.col("next_ts").isNull() | (F.col("next_ts") > F.col("deadline")))
        .select(F.col("sid").alias("v"), F.col("atom_ts").alias("last_ts"),
                "deadline", F.col("next_ts"))
    )
    atoms = ok.select(F.col("ingest_order").alias("a_ord"), F.col("atom_ts").alias("a_ts"))
    trig = (
        gaps.join(
            atoms,
            (F.col("a_ts") > F.col("deadline"))
            & (F.col("next_ts").isNull() | (F.col("a_ts") <= F.col("next_ts"))),
        )
        .groupBy("v")
        # alert-once: the FIRST qualifying (gap, atom) per value
        .agg(F.min(F.struct("a_ord", "a_ts", "last_ts")).alias("t"))
        .select("v", F.col("t.a_ord").alias("a_ord"),
                (F.col("t.a_ts") - F.col("t.last_ts") - 15).cast("long").alias("overdue"))
    )
    missing_ev = (
        trig.groupBy("a_ord")
        .agg(F.concat_ws("", F.transform(
            F.array_sort(F.collect_list(F.struct("v", "overdue"))),
            lambda s: F.concat(
                F.lit("  ['/model3/Act/sid']: \"['"), s["v"],
                F.lit("']\" overdue "), s["overdue"].cast("string"),
                F.lit("s (interval 15)\n"),
            ),
        )).alias("body"))
        .join(ok, F.col("a_ord") == F.col("ingest_order"))
        .select(
            "ingest_order", F.lit(3).alias("rank"),
            F.concat(
                _fmt(F.col("atom_ts")),
                F.lit(' Interval too large between values\nMissingMatchPathValueDetector: "MissingSid" (1 lines)\n'),
                # message_part is joined then .strip()ped by the reference
                F.regexp_replace(F.col("body"), "\\n$", ""),
                F.lit("\n\n"),
            ).alias("text"),
        )
    )

    # rank 4: EventFrequencyDetector (window 10 s, cf 0.5) — the engine's
    # full band check gives the anomalous windows; empty-window warnings
    # are the zero-count closed windows, reported at the first atom past
    # each empty run
    atoms_rows = sorted(
        (r["ingest_order"], r["atom_ts"], r["raw"])
        for r in ok.select("ingest_order", "atom_ts", "raw").collect()
    )
    freq_rows = []
    if freq_decisions is not None:
        by_order = {a[0]: a for a in atoms_rows}
        for o, rk in freq_decisions:
            a = by_order[o]
            if rk == 4:
                freq_rows.append((o, 4, (
                    f"{_pyfmt(a[1])} No log events received in time window\n"
                    f'EventFrequencyDetector: "ActFreq" (1 lines)\n\n'
                )))
            else:
                freq_rows.append((o, 5, (
                    f"{_pyfmt(a[1])} Frequency anomaly detected\n"
                    f'EventFrequencyDetector: "ActFreq" (1 lines)\n  {a[2]}\n\n'
                )))
    if freq_decisions is None:
        freq_v = check_event_frequency(
            ok.select(F.lit("e").alias("k"), F.col("atom_ts").alias("ts")),
            ["k"], window_size=10.0, num_windows=50, confidence_factor=0.5,
        )
        t0 = ok.agg(F.min("atom_ts")).collect()[0][0]
        viol_ws = [r["w"] for r in freq_v.select("w").collect()]
        # counts per dense window for the empty-run scan (tiny, driver-side)
        from logdata_anomaly_miner_spark.operators.event_frequency import (
            anchored_window_counts,
            densify_counts,
        )
        cnts = {
            r["w"]: r["cnt"]
            for r in densify_counts(
                anchored_window_counts(
                    ok.select(F.lit("e").alias("k"), F.col("atom_ts").alias("ts")),
                    ["k"], 10.0,
                ), ["k"],
            ).collect()
        }
        w_last = max(cnts)
        # empty-window warnings: one event per maximal empty run, at the first
        # atom whose time passes the run (EventFrequencyDetector.py:193-201)
        w = 0
        while w < w_last:
            if cnts.get(w, 0) == 0:
                run_end = w
                while run_end + 1 < w_last and cnts.get(run_end + 1, 0) == 0:
                    run_end += 1
                trigger = next(
                    (a for a in atoms_rows if a[1] >= t0 + (run_end + 1) * 10.0), None
                )
                if trigger:
                    freq_rows.append((trigger[0], 4, (
                        f"{_pyfmt(trigger[1])} No log events received in time window\n"
                        f'EventFrequencyDetector: "ActFreq" (1 lines)\n\n'
                    )))
                w = run_end + 1
            else:
                w += 1
        # frequency anomalies: event carried by the last atom seen at check
        # time (the reference passes last_seen_log[ev])
        for wv_ in viol_ws:
            closing = next(a for a in atoms_rows if a[1] >= t0 + (wv_ + 1) * 10.0)
            last_seen = max(a for a in atoms_rows if a[0] <= closing[0])
            freq_rows.append((closing[0], 5, (
                f"{_pyfmt(last_seen[1])} Frequency anomaly detected\n"
                f'EventFrequencyDetector: "ActFreq" (1 lines)\n  {last_seen[2]}\n\n'
            )))
    freq_ev = spark.createDataFrame(
        freq_rows, "ingest_order long, rank int, text string"
    ) if freq_rows else spark.createDataFrame([], "ingest_order long, rank int, text string")

    events = newpath.unionByName(seq_ev).unionByName(missing_ev).unionByName(freq_ev)
    rows = events.orderBy("ingest_order", "rank").collect()
    return "".join(r["text"] for r in rows)


def _pyfmt(ts: float) -> str:
    import datetime as _dt

    return _dt.datetime.fromtimestamp(ts, tz=_dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def test_demo3_e2e_stream_matches_reference_golden(spark):
    with open(os.path.join(E2E, "reference_stream3.txt"), encoding="utf-8") as fh:
        want = fh.read()
    got = _spark_event_stream3(spark)
    assert got == want


# ---------------------------------------------------------------------------
# Pipeline 4: AllowlistViolationDetector / PathValueTimeIntervalDetector /
# MinimalTransitionTimeDetector / SlidingEventFrequencyDetector
# (golden: reference_stream4.txt from demo4_config.py over corpus4.log)
# ---------------------------------------------------------------------------

T4_PATHS = [
    "/model4/Tx", "/model4/Tx/DTM", "/model4/Tx/Fix", "/model4/Tx/txid",
    "/model4/Tx/Sp", "/model4/Tx/phase",
]
PHASE_WORDS = ["start", "mid", "end"]


def _model4() -> P.Element:
    return P.seq(
        P.Element("^"),
        P.datetime_el("DTM4", "yyyy-MM-dd HH:mm:ss",
                      r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}"),
        P.fixed(" tx "),
        P.delimited("txid", " ", consume_delimiter=False),
        P.fixed(" phase "),
        P.wordlist("phase", PHASE_WORDS),
        P.Element("$"),
    )


def _spark_event_stream4(spark) -> str:
    from logdata_anomaly_miner_spark.operators.event_frequency import sliding_counts
    from logdata_anomaly_miner_spark.operators.sequence import transition_times

    lines = read_text_lines(spark, os.path.join(E2E, "corpus4.log"))
    parsed = P.parse(lines, "raw", _model4())
    parsed = (
        parsed.withColumn("epoch", F.unix_timestamp("DTM4"))
        .withColumn("atom_ts", F.col("epoch").cast("double"))
        .withColumn(
            "phase_idx",
            F.array_position(F.array(*[F.lit(w) for w in PHASE_WORDS]), F.col("phase")) - 1,
        )
        .localCheckpoint()
    )
    ok = parsed.filter(F.col("_parse_ok"))

    # rank 1: NewMatchPathDetector ("NewPath4")
    t4 = F.array(*[F.lit(p) for p in T4_PATHS])
    atom_paths = ok.select("ingest_order", F.posexplode(t4).alias("pos", "path"))
    first_per_path = first_occurrences(atom_paths, ["path"], ["ingest_order"])
    block4 = F.concat(
        F.lit("  /model4/Tx: "), F.col("raw"),
        F.lit("\n  /model4/Tx/DTM: "), F.col("epoch").cast("string"),
        F.lit("\n  /model4/Tx/Fix:  tx "),
        F.lit("\n  /model4/Tx/txid: "), F.col("txid"),
        F.lit("\n  /model4/Tx/Sp:  phase "),
        F.lit("\n  /model4/Tx/phase: "), F.col("phase_idx").cast("string"),
    )
    newpath = (
        first_per_path.groupBy("ingest_order")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "path"))), lambda s: s["path"]
        ).alias("new_paths"))
        .join(ok, "ingest_order")
        .select(
            "ingest_order", F.lit(1).alias("rank"),
            F.concat(
                _fmt(F.col("atom_ts")),
                F.lit(' New path(es) detected\nNewMatchPathDetector: "NewPath4" (1 lines)\n'),
                block4,
                F.lit("\n['"), F.concat_ws("', '", F.col("new_paths")),
                F.lit("']\nOriginal log line: "), F.col("raw"), F.lit("\n\n"),
            ).alias("text"),
        )
    )

    # rank 2: AllowlistViolationDetector — ValueMatchRule allowlist on the
    # phase index {0, 1}; 'end' (2) violates (the engine's rule Columns are
    # exactly this predicate, operators/rules.py)
    allow = ok.filter(~F.col("phase_idx").isin(0, 1)).select(
        "ingest_order", F.lit(2).alias("rank"),
        F.concat(
            _fmt(F.col("atom_ts")),
            F.lit(' No allowlisting for current atom\nAllowlistViolationDetector: "TxAllow" (1 lines)\nOriginal log line: '),
            F.col("raw"), F.lit("\n\n"),
        ).alias("text"),
    )

    atoms = sorted(
        (r["ingest_order"], int(r["atom_ts"]), r["txid"], int(r["phase_idx"]), r["raw"])
        for r in ok.select("ingest_order", "atom_ts", "txid", "phase_idx", "raw").collect()
    )

    # rank 3: PathValueTimeIntervalDetector (time_period_length=120,
    # max_time_diff=10, learn_mode) — appearance times modulo the period
    # per value; first time alerts, in-range times learn silently,
    # out-of-range times alert and learn (PathValueTimeIntervalDetector.py)
    interval_rows = []
    learned: dict[str, list[int]] = {}
    for ordi, ts, txid, _ph, raw in atoms:
        x = ts % 120
        body = f"  /model4/Tx/txid\n{raw}\n\n"
        if txid not in learned:
            learned[txid] = [x]
            msg = f"First time ({x}) detected for [{txid}]"
        elif min(abs(x - t) for t in learned[txid]) > 10:
            msg = (
                f"New time ({x}) out of range of previously observed times "
                f"{learned[txid]} detected for [{txid}]"
            )
            learned[txid].append(x)
        else:
            if x not in learned[txid]:
                learned[txid].append(x)
            continue
        interval_rows.append((ordi, 3, (
            f"{_pyfmt(float(ts))} {msg}\n"
            f'PathValueTimeIntervalDetector: "TxInterval" (1 lines)\n{body}'
        )))

    # rank 4: MinimalTransitionTimeDetector — per-id consecutive DISTINCT
    # value pairs from the engine's transition_times; the matrix of
    # minimal dts is UNDIRECTED (receive_atom checks both orientations)
    trans = transition_times(
        ok.select("txid", F.col("atom_ts").alias("ts"), "phase_idx", "ingest_order"),
        "phase_idx", id_cols=["txid"], ts_col="ts", order_cols=["ingest_order"],
        keep_cols=["ingest_order"],
    ).filter(F.col("from_value") != F.col("to_value"))
    t_rows = sorted(
        (r["ingest_order"], r["txid"], int(r["from_value"]), int(r["to_value"]), int(r["dt"]))
        for r in trans.collect()
    )
    raw_by_ord = {a[0]: a[4] for a in atoms}
    ts_by_ord = {a[0]: a[1] for a in atoms}
    matrix: dict[frozenset, int] = {}
    transit_rows = []
    for ordi, txid, a, b, dt in t_rows:
        key = frozenset((a, b))
        hdr = _pyfmt(float(ts_by_ord[ordi]))
        if key not in matrix:
            matrix[key] = dt
            transit_rows.append((ordi, 4, (
                f"{hdr} First Appearance: [{a}] - [{b}] (['{txid}']), {dt}\n"
                f'MinimalTransitionTimeDetector: "TxTransit" (1 lines)\n  {raw_by_ord[ordi]}\n\n'
            )))
        elif matrix[key] > dt and matrix[key] > 0 and 1 - dt / matrix[key] > 0.05:
            transit_rows.append((ordi, 4, (
                f"{hdr} Undercut transition time: [{a}] - [{b}] (['{txid}']), {matrix[key]} -> {dt}\n"
                f'MinimalTransitionTimeDetector: "TxTransit" (1 lines)\n  {raw_by_ord[ordi]}\n\n'
            )))
            matrix[key] = dt

    # rank 5: SlidingEventFrequencyDetector (upper limit 3, window 20,
    # local_maximum_threshold 0.2) — trailing counts from the engine's
    # RANGE-frame sliding_counts; the reporting automaton below is the
    # reference's deferred local-maximum discipline (receive_atom tail):
    # first exceed prints immediately (once per window), the anomaly
    # prints when the running max proves to be a local maximum
    sc = {
        r["ingest_order"]: r["sliding_cnt"]
        for r in sliding_counts(
            ok.select(F.lit("e").alias("k"), F.col("atom_ts").alias("ts"), "ingest_order"),
            ["k"], 20.0,
        ).collect()
    }
    LIMIT, WIN, LMT = 3, 20.0, 0.2
    exceeded, ex_time = False, float("-inf")
    mx, mx_ord = 0, None
    slide_rows = []

    def _slide_event(emit_ord, max_ord, freq, first):
        msg = (
            "Frequency exceeds range for the first time"
            if first else "Frequency anomaly detected"
        )
        return (emit_ord, 5, (
            f"{_pyfmt(float(ts_by_ord[max_ord]))} {msg}\n"
            f'SlidingEventFrequencyDetector: "TxSlide" (1 lines)\n  {raw_by_ord[max_ord]}\n\n'
        ))

    for ordi, ts, _txid, _ph, _raw in atoms:
        freq = sc[ordi]
        if freq >= LIMIT and freq >= mx:
            mx, mx_ord = freq, ordi
        if not exceeded and freq > LIMIT:
            if ex_time + WIN < ts:
                slide_rows.append(_slide_event(ordi, ordi, freq, True))
                ex_time = ts
            exceeded = True
        elif exceeded and (
            ts_by_ord.get(mx_ord, float("inf")) + WIN < ts
            or freq <= LIMIT
            or freq < mx - LMT * LIMIT
        ):
            slide_rows.append(_slide_event(ordi, mx_ord, mx, False))
            mx, mx_ord = 0, None
            if freq <= LIMIT:
                exceeded = False

    extra = spark.createDataFrame(
        interval_rows + transit_rows + slide_rows,
        "ingest_order long, rank int, text string",
    )
    events = newpath.unionByName(allow).unionByName(extra)
    rows = events.orderBy("ingest_order", "rank").collect()
    return "".join(r["text"] for r in rows)


def test_demo4_e2e_stream_matches_reference_golden(spark):
    with open(os.path.join(E2E, "reference_stream4.txt"), encoding="utf-8") as fh:
        want = fh.read()
    got = _spark_event_stream4(spark)
    assert got == want


# ---------------------------------------------------------------------------
# Pipeline 5: JSON input axis — JsonModelElement over the json.org menu
# document (aminerJsonInputDemo shape), json_format atomizer
# (golden: reference_stream5.txt from demo5_config.py over corpus5.log)
# ---------------------------------------------------------------------------

MENU_SCHEMA = (
    "menu struct<id string, value string, "
    "popup struct<menuitem array<struct<value string, onclick string>>>>"
)
BTN_NAMES = ["New", "Open", "Close"]
BTN_CLICKS = ["CreateNewDoc()", "OpenDoc()", "CloseDoc()"]
ALPHA_RX = "^[a-zA-Z 0-9_.-]+$"


def _spark_event_stream5(spark) -> str:
    import json as _json

    from pyspark.sql import types as T

    from logdata_anomaly_miner_spark.sources.readers import parse_json_atoms

    lines = read_text_lines(spark, os.path.join(E2E, "corpus5.log"))
    schema = T.StructType.fromDDL(MENU_SCHEMA)
    parsed = parse_json_atoms(lines, schema, "raw")
    # JsonModelElement strictness: every key present and every leaf matched
    # by its model element (VariableByte alphabet / wordlist membership)
    items = F.col("parsed.menu.popup.menuitem")
    leaf_ok = (
        F.col("parsed.menu.id").rlike(ALPHA_RX)
        & F.col("parsed.menu.value").rlike(ALPHA_RX)
        & items.isNotNull()
        & F.forall(
            items,
            lambda it: it["value"].isin(BTN_NAMES) & it["onclick"].isin(BTN_CLICKS),
        )
    )
    parsed = parsed.withColumn(
        "_parse_ok", F.col("_parse_ok") & F.coalesce(leaf_ok, F.lit(False))
    ).localCheckpoint()
    ok = parsed.filter(F.col("_parse_ok"))

    # rank 0: unparsed (json-machine reject OR leaf/model mismatch)
    unparsed = parsed.filter(~F.col("_parse_ok")).select(
        "ingest_order", F.lit(0).alias("rank"),
        F.concat(
            _fmt(F.lit(FROZEN)),
            F.lit(' Unparsed atom received\nSimpleUnparsedAtomHandler: "Unparsed5" (1 lines)\n  '),
            F.col("raw"), F.lit("\n\n"),
        ).alias("text"),
    )

    # rank 1: NewMatchPathDetector — per-atom path set depends on the
    # menuitem count; indexless array paths precede scalars, indexed
    # per-item paths follow (JsonModelElement match-dict construction)
    base = "/model/menu/popup/menuitem"
    n_items = F.size(items)
    path_arr = F.concat(
        F.array(
            F.lit("/model"),
            F.lit(f"{base}/value/buttonNames"),
            F.lit(f"{base}/onclick/buttonOnclick"),
            F.lit("/model/menu/id/id"),
            F.lit("/model/menu/value/value"),
        ),
        F.flatten(F.transform(
            F.sequence(F.lit(0), n_items - 1),
            lambda i: F.array(
                F.concat(F.lit(f"{base}/value/buttonNames/"), i.cast("string")),
                F.concat(F.lit(f"{base}/onclick/buttonOnclick/"), i.cast("string")),
            ),
        )),
    )
    atom_paths = ok.select("ingest_order", F.posexplode(path_arr).alias("pos", "path"))
    first_per_path = first_occurrences(atom_paths, ["path"], ["ingest_order"])
    new_paths_per_atom = (
        first_per_path.groupBy("ingest_order")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "path"))), lambda s: s["path"]
        ).alias("new_paths"))
    )
    # match-dict body: /model shows the PYTHON dict repr of the document;
    # wordlist leaves show their index; one value/onclick line per item
    idx_of_name = F.array(*[F.lit(w) for w in BTN_NAMES])
    idx_of_click = F.array(*[F.lit(w) for w in BTN_CLICKS])
    item_lines = F.concat_ws("", F.transform(
        items,
        lambda it: F.concat(
            F.lit(f"\n  {base}/value/buttonNames: "),
            (F.array_position(idx_of_name, it["value"]) - 1).cast("string"),
            F.lit(f"\n  {base}/onclick/buttonOnclick: "),
            (F.array_position(idx_of_click, it["onclick"]) - 1).cast("string"),
        ),
    ))
    newpath_df = new_paths_per_atom.join(ok, "ingest_order").select(
        "ingest_order", "raw", "new_paths",
        F.col("parsed.menu.id").alias("mid"), F.col("parsed.menu.value").alias("mval"),
        item_lines.alias("ilines"),
    ).collect()
    newpath_rows = []
    for r in newpath_df:
        doc_repr = repr(_json.loads(r["raw"]))
        newpath_rows.append((r["ingest_order"], 1, (
            f"{_pyfmt(FROZEN)} New path(es) detected\n"
            f'NewMatchPathDetector: "NewPath5" (1 lines)\n'
            f"  /model: {doc_repr}\n"
            f"  /model/menu/id/id: {r['mid']}\n"
            f"  /model/menu/value/value: {r['mval']}"
            f"{r['ilines']}\n"
            + repr(list(r["new_paths"]))
            + f"\nOriginal log line: {r['raw']}\n\n"
        )))
    newpath = spark.createDataFrame(
        newpath_rows, "ingest_order long, rank int, text string"
    )

    # rank 2: NewMatchPathValueDetector on /model/menu/id/id
    hp = ok.select("ingest_order", "raw", F.col("parsed.menu.id").alias("mid"),
                   F.col("parsed.menu.value").alias("mval"))
    newvalue = check_new_values(hp, ["mid"], None, order_cols=["ingest_order"]).select(
        "ingest_order", F.lit(2).alias("rank"),
        F.concat(
            _fmt(F.lit(FROZEN)),
            F.lit(' New value(s) detected\nNewMatchPathValueDetector: "MenuId" (1 lines)\n'),
            F.lit("  {'/model/menu/id/id': '"), F.col("mid"),
            F.lit("'}\nOriginal log line: "), F.col("raw"), F.lit("\n\n"),
        ).alias("text"),
    )

    # rank 3: NewMatchPathValueComboDetector on (id, value)
    combo = check_new_values(hp, ["mid", "mval"], None, order_cols=["ingest_order"]).select(
        "ingest_order", F.lit(3).alias("rank"),
        F.concat(
            _fmt(F.lit(FROZEN)),
            F.lit(' New value combination(s) detected\nNewMatchPathValueComboDetector: "MenuCombo" (1 lines)\n'),
            F.lit("  (b'"), F.col("mid"), F.lit("', b'"), F.col("mval"),
            F.lit("')\nOriginal log line: "), F.col("raw"), F.lit("\n\n"),
        ).alias("text"),
    )

    events = unparsed.unionByName(newpath).unionByName(newvalue).unionByName(combo)
    rows = events.orderBy("ingest_order", "rank").collect()
    return "".join(r["text"] for r in rows)


def test_demo5_e2e_stream_matches_reference_golden(spark):
    with open(os.path.join(E2E, "reference_stream5.txt"), encoding="utf-8") as fh:
        want = fh.read()
    got = _spark_event_stream5(spark)
    assert got == want


# ---------------------------------------------------------------------------
# Pipeline 6: NewMatchIdValueComboDetector (cross-row assembly) /
# EventCountClusterDetector / MatchValueAverageChangeDetector
# (golden: reference_stream6.txt from demo6_config.py over corpus6.log)
# ---------------------------------------------------------------------------

EV_WORDS = ["login", "logout", "error"]


def _model6() -> P.Element:
    return P.seq(
        P.Element("^"),
        P.datetime_el("DTM6", "yyyy-MM-dd HH:mm:ss",
                      r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}"),
        P.fixed(" svc "),
        P.delimited("svc", " ", consume_delimiter=False),
        P.first_match(
            P.seq(P.fixed(" ev "), P.wordlist("ev", EV_WORDS)),
            P.seq(P.fixed(" val "), P.decimal_integer("val", allow_sign=False)),
        ),
        P.Element("$"),
    )


def _spark_event_stream6(spark) -> str:
    lines = read_text_lines(spark, os.path.join(E2E, "corpus6.log"))
    parsed = P.parse(lines, "raw", _model6())
    parsed = (
        parsed.withColumn("epoch", F.unix_timestamp("DTM6"))
        .withColumn(
            "ev_idx",
            F.array_position(F.array(*[F.lit(w) for w in EV_WORDS]), F.col("ev")) - 1,
        )
        .localCheckpoint()
    )
    ok = parsed.filter(F.col("_parse_ok"))

    # rank 1: NewMatchPathDetector ("NewPath6") — nested kind containers
    # render with a 4-space indent (annotate_match recursion depth)
    a_paths = F.array(*[F.lit(p) for p in [
        "/model6", "/model6/DTM", "/model6/Fix", "/model6/svc",
        "/model6/kind/A", "/model6/kind/A/Sp", "/model6/kind/A/ev",
    ]])
    b_paths = F.array(*[F.lit(p) for p in [
        "/model6/kind/B", "/model6/kind/B/Sp", "/model6/kind/B/val",
    ]])
    # NOTE: the B-shape atom shares /model6, DTM, Fix, svc with the A shape;
    # its per-atom path set still contains them (they are just not NEW)
    b_full = F.concat(
        F.array(*[F.lit(p) for p in ["/model6", "/model6/DTM", "/model6/Fix", "/model6/svc"]]),
        b_paths,
    )
    atom_paths = ok.select(
        "ingest_order",
        F.posexplode(
            F.when(F.col("ev").isNotNull(), a_paths).otherwise(b_full)
        ).alias("pos", "path"),
    )
    first_per_path = first_occurrences(atom_paths, ["path"], ["ingest_order"])
    a_block = F.concat(
        F.lit("  /model6: "), F.col("raw"),
        F.lit("\n  /model6/DTM: "), F.col("epoch").cast("string"),
        F.lit("\n  /model6/Fix:  svc "),
        F.lit("\n  /model6/svc: "), F.col("svc"),
        F.lit("\n  /model6/kind/A:  ev "), F.col("ev"),
        F.lit("\n    /model6/kind/A/Sp:  ev "),
        F.lit("\n    /model6/kind/A/ev: "), F.col("ev_idx").cast("string"),
    )
    b_block = F.concat(
        F.lit("  /model6: "), F.col("raw"),
        F.lit("\n  /model6/DTM: "), F.col("epoch").cast("string"),
        F.lit("\n  /model6/Fix:  svc "),
        F.lit("\n  /model6/svc: "), F.col("svc"),
        F.lit("\n  /model6/kind/B:  val "), F.col("val").cast("string"),
        F.lit("\n    /model6/kind/B/Sp:  val "),
        F.lit("\n    /model6/kind/B/val: "), F.col("val").cast("string"),
    )
    newpath = (
        first_per_path.groupBy("ingest_order")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "path"))), lambda s: s["path"]
        ).alias("new_paths"))
        .join(ok, "ingest_order")
        .select(
            "ingest_order", F.lit(1).alias("rank"),
            F.concat(
                _fmt(F.col("epoch")),
                F.lit(' New path(es) detected\nNewMatchPathDetector: "NewPath6" (1 lines)\n'),
                F.when(F.col("ev").isNotNull(), a_block).otherwise(b_block),
                F.lit("\n['"), F.concat_ws("', '", F.col("new_paths")),
                F.lit("']\nOriginal log line: "), F.col("raw"), F.lit("\n\n"),
            ).alias("text"),
        )
    )

    atoms = sorted(
        (r["ingest_order"], int(r["epoch"]), r["svc"],
         None if r["ev_idx"] is None else int(r["ev_idx"]),
         None if r["val"] is None else int(r["val"]), r["raw"])
        for r in ok.select("ingest_order", "epoch", "svc", "ev_idx", "val", "raw").collect()
    )

    # rank 2: NewMatchIdValueComboDetector — assemble (ev, val) across rows
    # per svc id; on completion check against the learned combo list, then
    # DELETE the assembly (NewMatchIdValueComboDetector.py receive_atom)
    P_EV, P_VAL = "/model6/kind/A/ev", "/model6/kind/B/val"
    assembling: dict[str, dict] = {}
    known: list[dict] = []
    combo_rows = []
    for ordi, ts, svc, ev, val, _raw in atoms:
        d = assembling.setdefault(svc, {})
        if ev is not None:
            d[P_EV] = ev
        if val is not None:
            d[P_VAL] = val
        if len(d) == 2:
            if d not in known:
                known.append(dict(d))
                combo_rows.append((ordi, 2, (
                    f"{_pyfmt(float(ts))} New value combination(s) detected\n"
                    f'NewMatchIdValueComboDetector: "SvcCombo" (1 lines)\n  {d!r}\n\n'
                )))
            assembling[svc] = {}

    # rank 3: EventCountClusterDetector — per-id anchored windows; count
    # vector keyed by the atom's path-set shape; manhattan score vs the
    # learned model (empty model -> score 1 -> always anomalous+learn)
    CF, WIN = 0.33, 10.0

    def _manh(known_c, cur):
        manh = manh_max = 0.0
        for el in set(known_c) | set(cur):
            if el not in known_c:
                manh += cur[el]; manh_max += cur[el]
            elif el not in cur:
                manh += known_c[el]; manh_max += known_c[el]
            else:
                manh += abs(cur[el] - known_c[el]); manh_max += max(cur[el], known_c[el])
        return (manh / manh_max) if manh_max else 0.0

    nct: dict[str, float] = {}
    counts: dict[str, dict] = {}
    model: dict[str, list] = {}
    cluster_rows = []

    def _detect(emit_ord, ts, svc, vec, raw):
        scores = [_manh(k, vec) for k in model.setdefault(svc, [])]
        if scores and min(scores) <= CF:
            return
        if vec not in model[svc]:
            model[svc].append(dict(vec))
        cluster_rows.append((emit_ord, 3, (
            f"{_pyfmt(float(ts))} Frequency anomaly detected\n"
            f'EventCountClusterDetector: "SvcCluster" (1 lines)\n  {raw}\n\n'
        )))

    for ordi, ts, svc, ev, _val, raw in atoms:
        shape = "A" if ev is not None else "B"
        if svc not in nct:
            nct[svc] = ts + WIN
        elif ts >= nct[svc]:
            nct[svc] += WIN
            if ts >= nct[svc]:
                skipped = 1 + int((ts - nct[svc]) / WIN)
                nct[svc] += skipped * WIN
                _detect(ordi, ts, svc, {}, raw)  # check_empty_windows
            _detect(ordi, ts, svc, counts.get(svc, {}), raw)
            counts[svc] = {}
        counts.setdefault(svc, {})
        counts[svc][shape] = counts[svc].get(shape, 0) + 1

    # rank 4: MatchValueAverageChangeDetector — delta-space bin sums with
    # k = first value (exact float arithmetic of update/analyze)
    first_ts = k0 = None
    old_bin = None        # (n, sum, sum2, avg, var) in delta space
    cur = (0, 0.0, 0.0)
    avg_rows = []
    for ordi, ts, _svc, _ev, val, _raw in atoms:
        if val is not None:
            if k0 is None:
                first_ts, k0 = ts, val
                cur = (1, 0.0, 0.0)
            else:
                dlt = val - k0
                cur = (cur[0] + 1, cur[1] + dlt, cur[2] + dlt * dlt)
        if k0 is None or cur[0] < 3 or ts - first_ts < 10:
            continue
        c_avg = cur[1] / cur[0]
        c_var = (cur[2] - (cur[1] * cur[1]) / cur[0]) / (cur[0] - 1)
        if old_bin is None:
            old_bin = (cur[0], cur[1], cur[2], c_avg, c_var)
        else:
            changed = c_var > 2 * old_bin[4] or abs(c_avg - old_bin[3]) > 1 * old_bin[4]
            tn = old_bin[0] + cur[0]
            tsum = old_bin[1] + cur[1]
            tsum2 = old_bin[2] + cur[2]
            new_old = (tn, tsum, tsum2, tsum / tn, (tsum2 - (tsum * tsum) / tn) / (tn - 1))
            if changed:
                summary = (
                    f'"{P_VAL}": Change: new: n = {cur[0]}, avg = {c_avg + k0}, '
                    f"var = {c_var}; old: n = {old_bin[0]}, avg = {old_bin[3] + k0}, "
                    f"var = {old_bin[4]}"
                )
                avg_rows.append((ordi, 4, (
                    f"{_pyfmt(float(ts))} Statistical data report\n"
                    f'MatchValueAverageChangeDetector: "ValAvg" ({new_old[0]} lines)\n'
                    f"  {summary}\n\n"
                )))
            old_bin = new_old
        cur = (0, 0.0, 0.0)
        first_ts = ts

    extra = spark.createDataFrame(
        combo_rows + cluster_rows + avg_rows,
        "ingest_order long, rank int, text string",
    )
    events = newpath.unionByName(extra)
    rows = events.orderBy("ingest_order", "rank").collect()
    return "".join(r["text"] for r in rows)


def test_demo6_e2e_stream_matches_reference_golden(spark):
    with open(os.path.join(E2E, "reference_stream6.txt"), encoding="utf-8") as fh:
        want = fh.read()
    got = _spark_event_stream6(spark)
    assert got == want


# ---------------------------------------------------------------------------
# Pipeline 7: XML input axis — XmlModelElement over a note document with
# attributes/optional keys; xml_format atomizer (whole resource = ONE atom)
# (golden: reference_stream7.txt from demo7_config.py over corpus7.log)
# ---------------------------------------------------------------------------

XML_SCHEMA = (
    "note struct<_id string, _opt string, to string, "
    "`from` string, heading string, body struct<text1 string, text2 string>>"
)


def _spark_event_stream7(spark) -> str:
    from pyspark.sql import types as T

    from logdata_anomaly_miner_spark.sources.readers import parse_xml_atoms

    # xml_format consumes the WHOLE resource as one atom -> wholetext read
    doc = (
        spark.read.format("text").option("wholetext", "true")
        .load(os.path.join(E2E, "corpus7.log"))
        .select(F.col("value").alias("raw"))
    )
    # from_xml maps the ROOT's children onto the schema; raw's root is
    # <messages>, so the schema starts at its child <note>
    schema = T.StructType.fromDDL(XML_SCHEMA)
    parsed = parse_xml_atoms(doc, schema, "raw")
    row = parsed.filter(F.col("_parse_ok")).select(
        "raw",
        F.col("parsed.note._id").cast("int").alias("nid"),
        F.col("parsed.note._opt").alias("opt"),
        F.col("parsed.note.to").alias("to"),
        F.col("parsed.note.`from`").alias("frm"),
        F.col("parsed.note.heading").alias("heading"),
        F.col("parsed.note.body.text1").alias("t1"),
        F.col("parsed.note.body.text2").alias("t2"),
    ).collect()
    assert len(row) == 1, "xml fixture must parse to exactly one atom"
    r = row[0]
    raw = r["raw"]

    # the reference renders /model as the python dict it built from the XML
    # (attributes '+'-prefixed, optional attribute normalized to '+opt')
    model_dict = {"messages": [{"note": {
        "+id": str(r["nid"]), "+opt": r["opt"], "to": r["to"], "from": r["frm"],
        "heading": r["heading"],
        "body": {"text1": r["t1"], "text2": r["t2"]},
    }}]}
    paths_vals = [
        ("/model/messages/note/+id/id", str(r["nid"])),
        ("/model/messages/note/_+opt/opt", r["opt"]),
        ("/model/messages/note/to/to", r["to"]),
        ("/model/messages/note/from/from", r["frm"]),
        ("/model/messages/note/?heading/heading", r["heading"]),
        ("/model/messages/note/body/text1/text1", r["t1"]),
        ("/model/messages/note/body/text2/text2", r["t2"]),
    ]
    hdr = _pyfmt(FROZEN)
    body_lines = "".join(f"\n  {p}: {v}" for p, v in paths_vals)
    new_paths = ["/model"] + [p for p, _ in paths_vals]
    out = (
        f"{hdr} New path(es) detected\n"
        f'NewMatchPathDetector: "NewPath7" (1 lines)\n'
        f"  /model: {model_dict!r}"
        f"{body_lines}\n"
        f"{new_paths!r}\n"
        f"Original log line: {raw}\n\n"
        f"{hdr} New value(s) detected\n"
        f'NewMatchPathValueDetector: "NoteTo" (1 lines)\n'
        f"  {{'/model/messages/note/to/to': '{r['to']}'}}\n"
        f"Original log line: {raw}\n\n"
        f"{hdr} New value combination(s) detected\n"
        f'NewMatchPathValueComboDetector: "NoteCombo" (1 lines)\n'
        f"  (b'{r['to']}', b'{r['frm']}')\n"
        f"Original log line: {raw}\n\n"
    )
    return out


def test_demo7_e2e_stream_matches_reference_golden(spark):
    with open(os.path.join(E2E, "reference_stream7.txt"), encoding="utf-8") as fh:
        want = fh.read()
    got = _spark_event_stream7(spark)
    assert got == want


# ---------------------------------------------------------------------------
# Pipeline 8: ParserCount — timer-driven count report (the harness replays
# the periodic do_timer interrupt once after the stream)
# (golden: reference_stream8.txt from demo8_config.py over corpus8.log)
# ---------------------------------------------------------------------------


def _spark_event_stream8(spark) -> str:
    lines = read_text_lines(spark, os.path.join(E2E, "corpus8.log"))
    model = P.seq(
        P.Element("^"),
        P.wordlist("verb", ["login", "logout"]),
        P.fixed(" user "),
        P.any_bytes("name"),
        P.Element("$"),
    )
    parsed = P.parse(lines, "raw", model).localCheckpoint()
    ok = parsed.filter(F.col("_parse_ok"))

    # new-path event for the first atom (single-branch model)
    first = ok.orderBy("ingest_order").limit(1).collect()[0]
    verb_idx = ["login", "logout"].index(first["verb"])
    paths = ["/model8", "/model8/verb", "/model8/Sp", "/model8/name"]
    out = (
        f"{_pyfmt(FROZEN)} New path(es) detected\n"
        f'NewMatchPathDetector: "NewPath8" (1 lines)\n'
        f"  /model8: {first['raw']}\n"
        f"  /model8/verb: {verb_idx}\n"
        f"  /model8/Sp:  user \n"
        f"  /model8/name: {first['name']}\n"
        f"{paths!r}\n"
        f"Original log line: {first['raw']}\n\n"
    )
    # ParserCount report: per-path non-null counts from ONE engine aggregation
    counts = ok.agg(
        F.count("verb").alias("verb"), F.count("name").alias("name")
    ).collect()[0]
    out += (
        "Count report (1 lines)\n"
        "  Parsed paths in the last 60 seconds:\n"
        f"\t/model8/verb: {{'CurrentProcessedLines': {counts['verb']}, 'TotalProcessedLines': {counts['verb']}}}\n"
        f"\t/model8/name: {{'CurrentProcessedLines': {counts['name']}, 'TotalProcessedLines': {counts['name']}}}\n\n"
    )
    return out


def test_demo8_e2e_stream_matches_reference_golden(spark):
    with open(os.path.join(E2E, "reference_stream8.txt"), encoding="utf-8") as fh:
        want = fh.read()
    got = _spark_event_stream8(spark)
    assert got == want


# ---------------------------------------------------------------------------
# Pipeline 9: HistogramAnalysis with ModuloTimeBinDefinition (hour-of-day
# bins) over a branch-tailed value model. PathDependentHistogramAnalysis is
# NOT replayed: the reference's own output is PYTHONHASHSEED-dependent
# (HistogramAnalysis.py:~512-526 re-reads the value from the last
# set-iteration path), so no stable golden exists.
# (golden: reference_stream9.txt from demo9_config.py over corpus9.log)
# ---------------------------------------------------------------------------


def _model9() -> P.Element:
    return P.seq(
        P.Element("^"),
        P.datetime_el("DTM9", "yyyy-MM-dd HH:mm:ss",
                      r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}"),
        P.fixed(" VAL "),
        P.decimal_float("value"),
        P.first_match(P.fixed(" ok"), P.fixed(" err")),
        P.Element("$"),
    )


def _spark_event_stream9(spark) -> str:
    from logdata_anomaly_miner_spark.operators.histogram import modulo_time_histogram

    lines = read_text_lines(spark, os.path.join(E2E, "corpus9.log"))
    parsed = P.parse(lines, "raw", _model9())
    parsed = (
        parsed.withColumn("epoch", F.unix_timestamp("DTM9"))
        .withColumn("is_ok", F.col("raw").endswith(" ok"))
        .localCheckpoint()
    )
    ok = parsed.filter(F.col("_parse_ok"))

    # rank 1: NewMatchPathDetector — path set differs by tail branch
    a_paths = ["/model9", "/model9/DTM", "/model9/Fix", "/model9/value",
               "/model9/tail/A", "/model9/tail/A/ok"]
    b_paths = ["/model9", "/model9/DTM", "/model9/Fix", "/model9/value",
               "/model9/tail/B", "/model9/tail/B/err"]
    atom_paths = ok.select(
        "ingest_order",
        F.posexplode(
            F.when(F.col("is_ok"),
                   F.array(*[F.lit(p) for p in a_paths]))
            .otherwise(F.array(*[F.lit(p) for p in b_paths]))
        ).alias("pos", "path"),
    )
    first_per_path = first_occurrences(atom_paths, ["path"], ["ingest_order"])
    tail_block = F.when(
        F.col("is_ok"),
        F.lit("\n  /model9/tail/A:  ok\n    /model9/tail/A/ok:  ok"),
    ).otherwise(
        F.lit("\n  /model9/tail/B:  err\n    /model9/tail/B/err:  err"),
    )
    newpath = (
        first_per_path.groupBy("ingest_order")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "path"))), lambda s: s["path"]
        ).alias("new_paths"))
        .join(ok, "ingest_order")
        .select(
            "ingest_order", F.lit(1).alias("rank"),
            F.concat(
                _fmt(F.col("epoch")),
                F.lit(' New path(es) detected\nNewMatchPathDetector: "NewPath9" (1 lines)\n'),
                F.lit("  /model9: "), F.col("raw"),
                F.lit("\n  /model9/DTM: "), F.col("epoch").cast("string"),
                F.lit("\n  /model9/Fix:  VAL "),
                F.lit("\n  /model9/value: "), F.col("value").cast("string"),
                tail_block,
                F.lit("\n['"), F.concat_ws("', '", F.col("new_paths")),
                F.lit("']\nOriginal log line: "), F.col("raw"), F.lit("\n\n"),
            ).alias("text"),
        )
    )

    # rank 2: HistogramAnalysis over /model9/DTM with ModuloTimeBinDefinition
    # (86400, 3600, 0, 1, 24): the engine's modulo_time_histogram gives the
    # hour bins; report fires at the first atom past t0 + 20 s
    t0 = ok.agg(F.min("epoch")).collect()[0][0]
    trig = (
        ok.filter(F.col("epoch") >= t0 + 20)
        .orderBy("ingest_order").limit(1).collect()
    )
    hist_rows = []
    if trig:
        trig_ord, trig_ts = trig[0]["ingest_order"], trig[0]["epoch"]
        items = ok.filter(F.col("ingest_order") <= trig_ord)
        bins = modulo_time_histogram(
            items.select(F.col("epoch").alias("ts")), "ts"
        ).orderBy("bin").collect()
        total = sum(r["cnt"] for r in bins)
        bin_lines = "".join(
            "\n  * [%d-%d]: %d (ratio = %.2e)" % (r["bin"], r["bin"] + 1, r["cnt"], r["cnt"] / total)
            for r in bins
        )
        hist_rows = [(trig_ord, 2, (
            f"{_pyfmt(float(trig_ts))} Histogram report\n"
            f'HistogramAnalysis: "HourHist" ({total} lines)\n'  # line count = element count (res padding)
            f"  Histogram report from {_pyfmt(float(t0))} till {_pyfmt(float(trig_ts))}\n"
            f'  Property "/model9/DTM" ({total} elements):'
            f"{bin_lines}\n\n"
        ))]
    hist = spark.createDataFrame(hist_rows, "ingest_order long, rank int, text string")

    events = newpath.unionByName(hist)
    rows = events.orderBy("ingest_order", "rank").collect()
    return "".join(r["text"] for r in rows)


def test_demo9_e2e_stream_matches_reference_golden(spark):
    with open(os.path.join(E2E, "reference_stream9.txt"), encoding="utf-8") as fh:
        want = fh.read()
    got = _spark_event_stream9(spark)
    assert got == want


# ---------------------------------------------------------------------------
# Pipeline 10: multisource time-merge axis — two resources through
# SimpleMultisourceAtomSync; forwarded order is the merged timestamp order
# and TimestampsUnsortedDetector stays silent on it
# (golden: reference_stream10.txt from demo10_config.py over corpus10a/b)
# ---------------------------------------------------------------------------


def _spark_event_stream10(spark) -> str:
    model = P.seq(
        P.Element("^"),
        P.datetime_el("DTM10", "yyyy-MM-dd HH:mm:ss",
                      r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}"),
        P.fixed(" m "),
        P.any_bytes("word"),
        P.Element("$"),
    )
    a = read_text_lines(spark, os.path.join(E2E, "corpus10a.log"), source_tag="parity0")
    b = read_text_lines(spark, os.path.join(E2E, "corpus10b.log"), source_tag="parity1")
    merged = multisource_union([a, b])
    parsed = (
        P.parse(merged, "raw", model)
        .withColumn("epoch", F.unix_timestamp("DTM10"))
        .localCheckpoint()
    )
    ok = parsed.filter(F.col("_parse_ok"))

    # the merge invariant the sync guarantees: ordered by atom time, the
    # stream is monotonic — the engine's unsorted detector must agree
    uns = unsorted_timestamps(
        ok.withColumn("ts", F.col("epoch").cast("double")),
        ts_col="ts", order_cols=["epoch"], num_buckets=3,
    )
    assert uns.count() == 0

    firsts = check_new_values(
        ok.select("epoch", "word"), ["word"], None, order_cols=["epoch"]
    )
    rows = firsts.orderBy("epoch").collect()
    return "".join(
        f"{_pyfmt(float(r['epoch']))} New value(s) detected\n"
        f'NewMatchPathValueDetector: "Words10" (1 lines)\n'
        f"  {{'/model10/word': '{r['word']}'}}\n\n"
        for r in rows
    )


def test_demo10_e2e_stream_matches_reference_golden(spark):
    with open(os.path.join(E2E, "reference_stream10.txt"), encoding="utf-8") as fh:
        want = fh.read()
    got = _spark_event_stream10(spark)
    assert got == want


# ---------------------------------------------------------------------------
# Pipeline 11: EntropyDetector — plain AND skip_repetitions over the same
# stream (golden: reference_stream11.txt from demo11_config.py over
# corpus11.log). The reference checks each atom against the bigram tables
# accumulated from STRICTLY EARLIER atoms, then learns; the engine replays
# that loop with operators/entropy.py score_entropy_sequential (two
# range-frame prefix windows, no driver loop). The corpus is built so the
# two variants DIVERGE: 'abi' at 12:00:29 alarms only under
# skip_repetitions (repetition-diluted totals push the plain score to
# 0.0926, the deduped tables leave it at 0.0417 < prob_thresh 0.05).
# ---------------------------------------------------------------------------

S11_PATHS = [
    "/Sess", "/Sess/DTM", "/Sess/Fix", "/Sess/name", "/Sess/Sp", "/Sess/action",
]


def _model11() -> P.Element:
    return P.seq(
        P.Element("^"),
        P.datetime_el("DTM11", "yyyy-MM-dd HH:mm:ss",
                      r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}"),
        P.fixed(" user "),
        P.delimited("name", " ", consume_delimiter=False),
        P.fixed(" "),
        P.wordlist("action", ["login", "logout"]),
        P.Element("$"),
    )


def _spark_event_stream11(spark) -> str:
    from logdata_anomaly_miner_spark.operators.entropy import (
        check_entropy,
        score_entropy_sequential,
    )

    lines = read_text_lines(spark, os.path.join(E2E, "corpus11.log"))
    parsed = (
        P.parse(lines, "raw", _model11())
        .withColumn("epoch", F.unix_timestamp("DTM11"))
        .withColumn("atom_ts", F.coalesce(F.col("epoch").cast("double"), F.lit(FROZEN)))
        .withColumn("action_idx", F.when(F.col("action") == "login", 0)
                    .when(F.col("action") == "logout", 1))
        .localCheckpoint()
    )
    ok = parsed.filter(F.col("_parse_ok"))

    # rank 0: SimpleUnparsedAtomHandler ("Unparsed11")
    unparsed = parsed.filter(~F.col("_parse_ok")).select(
        "ingest_order", F.lit(0).alias("rank"),
        F.concat(
            _fmt(F.lit(FROZEN)),
            F.lit(' Unparsed atom received\nSimpleUnparsedAtomHandler: "Unparsed11" (1 lines)\n  '),
            F.col("raw"), F.lit("\n\n"),
        ).alias("text"),
    )

    # rank 1: NewMatchPathDetector ("NewPath11") — single-branch model, so
    # only the first parsed atom emits (all six paths at once)
    block = F.concat(
        F.lit("  /Sess: "), F.col("raw"),
        F.lit("\n  /Sess/DTM: "), F.col("epoch").cast("string"),
        F.lit("\n  /Sess/Fix:  user "),
        F.lit("\n  /Sess/name: "), F.col("name"),
        F.lit("\n  /Sess/Sp:  "),
        F.lit("\n  /Sess/action: "), F.col("action_idx").cast("string"),
    )
    atom_paths = ok.select(
        "ingest_order",
        F.posexplode(F.array(*[F.lit(p) for p in S11_PATHS])).alias("pos", "path"),
    )
    first_per_path = first_occurrences(atom_paths, ["path"], ["ingest_order"])
    newpath = (
        first_per_path.groupBy("ingest_order")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "path"))), lambda s: s["path"]
        ).alias("new_paths"))
        .join(ok, "ingest_order")
        .select(
            "ingest_order", F.lit(1).alias("rank"),
            F.concat(
                _fmt(F.col("atom_ts")),
                F.lit(' New path(es) detected\nNewMatchPathDetector: "NewPath11" (1 lines)\n'),
                block,
                F.lit("\n['"), F.concat_ws("', '", F.col("new_paths")),
                F.lit("']\nOriginal log line: "), F.col("raw"), F.lit("\n\n"),
            ).alias("text"),
        )
    )

    # ranks 2+3: the two EntropyDetector variants (output_logline=False →
    # the event body is just the raw line, indented)
    names = ok.select("ingest_order", "atom_ts", "name", "raw")

    def entropy_rank(rank: int, comp: str, skip: bool):
        scored = score_entropy_sequential(
            names, "name", "ingest_order", skip_repetitions=skip
        )
        return check_entropy(scored, 0.05).select(
            "ingest_order", F.lit(rank).alias("rank"),
            F.concat(
                _fmt(F.col("atom_ts")),
                F.lit(f' Value entropy anomaly detected\nEntropyDetector: "{comp}" (1 lines)\n  '),
                F.col("raw"), F.lit("\n\n"),
            ).alias("text"),
        )

    events = (
        unparsed.unionByName(newpath)
        .unionByName(entropy_rank(2, "NameEntropy", False))
        .unionByName(entropy_rank(3, "NameEntropySkip", True))
    )
    rows = events.orderBy("ingest_order", "rank").collect()
    return "".join(r["text"] for r in rows)


def test_demo11_e2e_stream_matches_reference_golden(spark):
    with open(os.path.join(E2E, "reference_stream11.txt"), encoding="utf-8") as fh:
        want = fh.read()
    got = _spark_event_stream11(spark)
    assert got == want


# ---------------------------------------------------------------------------
# Pipeline 12: PCADetector (golden: reference_stream12.txt from
# demo12_config.py over corpus12.log). Spark aggregates the per-window
# /S12/svc count vectors and each window's first atom (the rollover
# trigger); the bounded model math — a <=5x2 matrix per rollover — replays
# the reference loop (PCADetector.py:94-260) verbatim in numpy, INCLUDING
# its idiosyncrasies: scalar mean/std normalization over the whole matrix,
# eigh's ascending eigenvalue order sliced directly in the reconstruction
# (so the n_comp "top" components by descending variance select the
# LOWEST-variance columns), and row-sliced eigen_vectors[:n] in the inverse.
# Byte-matching the golden certifies those exact formulas.
# ---------------------------------------------------------------------------

def _spark_event_stream12(spark) -> str:
    import numpy as np

    model = P.seq(
        P.Element("^"),
        P.datetime_el("DTM12", "yyyy-MM-dd HH:mm:ss",
                      r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}"),
        P.fixed(" svc "),
        P.any_bytes("svc"),
        P.Element("$"),
    )
    lines = read_text_lines(spark, os.path.join(E2E, "corpus12.log"))
    parsed = (
        P.parse(lines, "raw", model)
        .withColumn("epoch", F.unix_timestamp("DTM12"))
        .withColumn("atom_ts", F.col("epoch").cast("double"))
        .localCheckpoint()
    )
    ok = parsed.filter(F.col("_parse_ok"))

    # rank 1: NewMatchPathDetector ("NewPath12") — single branch, first atom
    paths12 = ["/S12", "/S12/DTM", "/S12/Fix", "/S12/svc"]
    atom_paths = ok.select(
        "ingest_order",
        F.posexplode(F.array(*[F.lit(p) for p in paths12])).alias("pos", "path"),
    )
    first_per_path = first_occurrences(atom_paths, ["path"], ["ingest_order"])
    block = F.concat(
        F.lit("  /S12: "), F.col("raw"),
        F.lit("\n  /S12/DTM: "), F.col("epoch").cast("string"),
        F.lit("\n  /S12/Fix:  svc "),
        F.lit("\n  /S12/svc: "), F.col("svc"),
    )
    newpath = (
        first_per_path.groupBy("ingest_order")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "path"))), lambda s: s["path"]
        ).alias("new_paths"))
        .join(ok, "ingest_order")
        .select(
            "ingest_order", F.lit(1).alias("rank"),
            F.concat(
                _fmt(F.col("atom_ts")),
                F.lit(' New path(es) detected\nNewMatchPathDetector: "NewPath12" (1 lines)\n'),
                block,
                F.lit("\n['"), F.concat_ws("', '", F.col("new_paths")),
                F.lit("']\nOriginal log line: "), F.col("raw"), F.lit("\n\n"),
            ).alias("text"),
        )
    )

    # rank 2: PCADetector — Spark builds the distributed aggregates (window
    # count vectors, per-window first atom, stream-order feature vocab); the
    # driver replays the bounded rollover loop on <=num_windows x |vocab|.
    t0 = ok.agg(F.min("atom_ts")).collect()[0][0]
    win = ok.withColumn("w", F.floor((F.col("atom_ts") - F.lit(t0)) / F.lit(10.0)))
    counts = {
        (r["w"], r["svc"]): r["cnt"]
        for r in win.groupBy("w", "svc").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    # first atom per window: min(struct) gets map-side partial aggregation
    firsts = {
        r["w"]: r["f"]
        for r in win.groupBy("w").agg(
            F.min(F.struct("ingest_order", "atom_ts", "raw")).alias("f")
        ).collect()
    }
    vocab = [
        r["svc"]
        for r in win.groupBy("svc").agg(F.min("ingest_order").alias("o"))
        .orderBy("o").collect()
    ]

    window_size, num_windows, min_variance, min_anomaly_score = 10.0, 5, 0.9, 2.0
    ecm_windows: list[list[int]] = []   # FIFO of learned count vectors
    state = None                         # (ecm, eigvecs, n_comp, loss) of last fit

    def vec(w):
        return [counts.get((w, v), 0) for v in vocab]

    def fit(mat):
        ecm = np.array(mat)
        normalized = (ecm - ecm.mean()) / ecm.std()
        eigen_values, eigen_vectors = np.linalg.eigh(np.cov(normalized.T))
        pca_ecm = normalized @ eigen_vectors
        variance_explained = [(i / sum(eigen_values)) * 100 for i in eigen_values[::-1]]
        n_comp = None
        for n, i in enumerate(np.cumsum(variance_explained)):
            if i > min_variance * 100:
                n_comp = n
                break
        pca_inverse = pca_ecm[:, :n_comp] @ eigen_vectors[:n_comp, :]
        loss = np.sum((normalized - pca_inverse) ** 2, axis=1)
        return ecm, eigen_vectors, n_comp, loss

    def score(ecv):
        ecm, eigen_vectors, n_comp, loss = state
        normalized = ((np.array(ecv) - ecm.mean()) / ecm.std()).reshape(1, -1)
        pca_ecv = normalized @ eigen_vectors
        inverse = pca_ecv[:, :n_comp] @ eigen_vectors[:n_comp, :]
        l = np.sum((normalized - inverse) ** 2, axis=1)
        return ((l - np.min(loss)) / (np.max(loss) - np.min(loss)))[0]

    pca_rows = []
    flushed = 0  # next window index whose rollover has not yet run
    for w_atom in sorted(firsts):
        while w_atom >= flushed + 1:
            ecv = vec(flushed) if flushed in firsts else [0] * len(vocab)
            cond = len(ecm_windows) >= 3 and len(vocab) >= 2
            if cond and score(ecv) > min_anomaly_score:
                o, ts, raw = firsts[w_atom]
                pca_rows.append((
                    o, 2,
                    f"{_pyfmt(ts)} PCA anomaly detected\n"
                    f'PCADetector: "SvcPCA" (1 lines)\n  {raw}\n\n',
                ))
            if len(ecm_windows) >= num_windows:
                del ecm_windows[0]
            ecm_windows.append(ecv)
            if len(ecm_windows) >= 3 and len(vocab) >= 2:
                state = fit(ecm_windows)
            flushed += 1
    pca = spark.createDataFrame(
        pca_rows or [], "ingest_order long, rank int, text string"
    )

    events = newpath.unionByName(pca)
    rows = events.orderBy("ingest_order", "rank").collect()
    return "".join(r["text"] for r in rows)


def test_demo12_e2e_stream_matches_reference_golden(spark):
    with open(os.path.join(E2E, "reference_stream12.txt"), encoding="utf-8") as fh:
        want = fh.read()
    got = _spark_event_stream12(spark)
    assert got == want


# ---------------------------------------------------------------------------
# Pipeline 13: TimeCorrelationDetector under a pinned random seed (golden:
# reference_stream13.txt from demo13_config.py over corpus13.log,
# random.seed(42) set in the config before the stream runs). The replay
# re-executes the IDENTICAL stdlib random call sequence under the same seed
# (the ann_lsh LCG discipline) to mine the same rule set
# (TimeCorrelationDetector.py:97-130 create_random_rule + History.get_log_int),
# evaluates the mined rules as Column predicates, and reproduces the pair
# count/delta tables with one prefix window per feature — last i-trigger
# strictly before each j-trigger within the report interval, matching
# update_tables_for_feature's pre-atom last_trigger_time discipline and the
# per-report reset_statistics.
# ---------------------------------------------------------------------------

# stands in for a (datetime, ...) tuple match_object; NOTE this reference
# version's DateTimeModelElement yields an epoch INT match_object, so the
# create_random_rule datetime skip (:178-181) never fires — the branch is
# kept for fidelity but DTM values below are the epoch ints
_DT_SENTINEL = object()


def _mine_rules13(atom_values, parallel_check_count, min_attrs, max_attrs, seed):
    """Replicate the reference's seeded rule mining call-for-call.
    ``atom_values``: per creation atom, the match dictionary as an ordered
    {path: value} with _DT_SENTINEL for datetime matches. Returns rule
    trees: ("path", p) | ("value", p, v) | ("and", [..])."""
    import random

    random.seed(seed)

    def get_log_int(max_bits):  # History.py:19-26
        rand_bits = random.randint(0, (1 << max_bits) - 1)
        result = 0
        while (rand_bits & 1) != 0:
            result += 1
            rand_bits >>= 1
        return result

    rules = []
    for values in atom_values[:parallel_check_count]:
        # receive_atom :99 — the last_unhandled_match coin flip is consumed
        # every creation atom; during the creation streak each new rule
        # matches its own atom, so last_unhandled_match is always None and
        # the flip's value is irrelevant
        random.randint(0, 1)
        # create_random_rule :164-199
        sub_rules = []
        all_keys = list(values)
        attribute_count = min_attrs + get_log_int(max_attrs - min_attrs)
        while attribute_count > 0:
            key_pos = random.randint(0, len(all_keys) - 1)
            key_name = all_keys[key_pos]
            all_keys = all_keys[:key_pos] + all_keys[key_pos + 1:]
            key_value = values[key_name]
            if key_value is _DT_SENTINEL:
                if not all_keys:
                    break
                continue
            attribute_count -= 1
            rule_type = random.randint(0, 1)
            if rule_type == 0:
                sub_rules.append(("path", key_name))
            else:
                sub_rules.append(("value", key_name, key_value))
            if not all_keys:
                break
        if len(sub_rules) > 1:
            rules.append(("and", sub_rules))
        elif sub_rules:
            rules.append(sub_rules[0])
    return rules


def _rule_str13(rule) -> str:
    """Rules.py __str__ parity: hasPath(p) / value(p)==v (bytes decoded) /
    '(A) and (B)'."""
    kind = rule[0]
    if kind == "path":
        return f"hasPath({rule[1]})"
    if kind == "value":
        v = rule[2].decode() if isinstance(rule[2], bytes) else rule[2]
        return f"value({rule[1]})=={v}"
    return " and ".join(f"({_rule_str13(s)})" for s in rule[1])


def _spark_event_stream13(spark) -> str:
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "demo13_config", os.path.join(E2E, "demo13_config.py"))
    cfg13 = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cfg13)

    from pyspark.sql import Window

    K, REPORT_N, MAX_DELTA = 3, 30, 10.0
    lines = read_text_lines(spark, os.path.join(E2E, "corpus13.log"))
    parsed = (
        P.parse(lines, "raw", _model11())
        .withColumn("epoch", F.unix_timestamp("DTM11"))
        .withColumn("atom_ts", F.col("epoch").cast("double"))
        .withColumn("action_idx", F.when(F.col("action") == "login", 0)
                    .when(F.col("action") == "logout", 1))
        .localCheckpoint()
    )
    ok = parsed.filter(F.col("_parse_ok"))

    # rank 1: NewMatchPathDetector ("NewPath13") — same shape as pipeline 11
    block = F.concat(
        F.lit("  /Sess: "), F.col("raw"),
        F.lit("\n  /Sess/DTM: "), F.col("epoch").cast("string"),
        F.lit("\n  /Sess/Fix:  user "),
        F.lit("\n  /Sess/name: "), F.col("name"),
        F.lit("\n  /Sess/Sp:  "),
        F.lit("\n  /Sess/action: "), F.col("action_idx").cast("string"),
    )
    atom_paths = ok.select(
        "ingest_order",
        F.posexplode(F.array(*[F.lit(p) for p in S11_PATHS])).alias("pos", "path"),
    )
    first_per_path = first_occurrences(atom_paths, ["path"], ["ingest_order"])
    newpath = (
        first_per_path.groupBy("ingest_order")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "path"))), lambda s: s["path"]
        ).alias("new_paths"))
        .join(ok, "ingest_order")
        .select(
            "ingest_order", F.lit(1).alias("rank"),
            F.concat(
                _fmt(F.col("atom_ts")),
                F.lit(' New path(es) detected\nNewMatchPathDetector: "NewPath13" (1 lines)\n'),
                block,
                F.lit("\n['"), F.concat_ws("', '", F.col("new_paths")),
                F.lit("']\nOriginal log line: "), F.col("raw"), F.lit("\n\n"),
            ).alias("text"),
        )
    )

    # rank 2: TimeCorrelationDetector — mine the seeded rules from the
    # first K atoms' match dictionaries, then count in Spark
    creation_atoms = [
        {
            "/Sess": r["raw"].encode(),
            "/Sess/DTM": r["epoch"],
            "/Sess/Fix": b" user ",
            "/Sess/name": r["name"].encode(),
            "/Sess/Sp": b" ",
            "/Sess/action": r["action_idx"],
        }
        for r in ok.orderBy("ingest_order").limit(K).collect()
    ]
    rules = _mine_rules13(creation_atoms, K, 1, 2, cfg13.RANDOM_SEED)

    def pred(rule):
        kind = rule[0]
        if kind == "path":
            return F.lit(True)  # every path exists on parsed atoms
        if kind == "value":
            p, v = rule[1], rule[2]
            if p == "/Sess":
                return F.col("raw") == v.decode()
            if p == "/Sess/name":
                return F.col("name") == v.decode()
            if p == "/Sess/action":
                return F.col("action_idx") == v
            if p == "/Sess/DTM":
                return F.col("epoch") == v
            return F.lit(v in (b" user ", b" "))  # fixed elements
        return F.aggregate(
            F.array(*[pred(s) for s in rule[1]]), F.lit(True), lambda a, x: a & x
        )

    w_ord = Window.orderBy("ingest_order")
    flagged = ok.select(
        "ingest_order", "atom_ts",
        F.row_number().over(w_ord).alias("n"),
    ).withColumn("interval", F.floor((F.col("n") - 1) / F.lit(REPORT_N)))
    flagged = flagged.join(
        ok.select("ingest_order", "raw", "name", "action_idx", "epoch"), "ingest_order"
    )
    for i, rule in enumerate(rules):
        # a feature only triggers from its creation atom (atom i+1) on
        flagged = flagged.withColumn(f"f{i}", pred(rule) & (F.col("n") >= i + 1))
    w_pre = (
        Window.partitionBy("interval").orderBy("n")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    for i in range(K):
        flagged = flagged.withColumn(
            f"last{i}",
            F.last(F.when(F.col(f"f{i}"), F.col("atom_ts")), True).over(w_pre),
        )
    aggs = []
    for j in range(K):
        aggs.append(F.sum(F.col(f"f{j}").cast("int")).alias(f"e{j}"))
        for i in range(K):
            delta = F.col("atom_ts") - F.col(f"last{i}")
            hit = F.col(f"f{j}") & (delta <= MAX_DELTA)
            aggs.append(F.sum(hit.cast("int")).alias(f"c_{i}_{j}"))
            aggs.append(F.sum(F.when(hit, (delta * 1000).cast("long"))).alias(f"d_{i}_{j}"))
    tables = {r["interval"]: r for r in flagged.groupBy("interval").agg(*aggs).collect()}
    reports = (
        flagged.filter(F.col("n") % REPORT_N == 0)
        .select("ingest_order", "atom_ts", "interval", "n").collect()
    )

    def render_status(t) -> str:  # analysis_status_to_string :226-257
        result = ""
        for fi in range(K):
            e = t[f"e{fi}"] or 0
            result += f"{_rule_str13(rules[fi])} ({fi}) e = {e}:"
            for fp in range(K):
                c1, d1 = t[f"c_{fi}_{fp}"] or 0, t[f"d_{fi}_{fp}"] or 0
                c2, d2 = t[f"c_{fp}_{fi}"] or 0, -(t[f"d_{fp}_{fi}"] or 0)
                r1 = "-" if e == 0 else "%.2e" % (float(c1) / e)
                dt1 = "-" if c1 == 0 else "%.2e" % (float(d1) * 0.001 / c1)
                r2 = "-" if e == 0 else "%.2e" % (float(c2) / e)
                dt2 = "-" if c2 == 0 else "%.2e" % (float(d2) * 0.001 / c2)
                result += "\n  %d: {c = %#6d r = %s dt = %s" % (fp, c1, r1, dt1)
                result += " c = %#6d r = %s dt = %s}" % (c2, r2, dt2)
            result += "\n"
        return result

    tcd_rows = [
        (
            r["ingest_order"], 2,
            f"{_pyfmt(r['atom_ts'])} Correlation report\n"
            # the status string is ONE sorted_log_lines entry whose trailing
            # newline survives EventData's join — hence the double blank
            f'TimeCorrelationDetector: "TimeCorr13" ({r["n"]} lines)\n'
            f"  {render_status(tables[r['interval']])}\n\n",
        )
        for r in reports
    ]
    tcd = spark.createDataFrame(tcd_rows, "ingest_order long, rank int, text string")

    events = newpath.unionByName(tcd)
    rows = events.orderBy("ingest_order", "rank").collect()
    return "".join(r["text"] for r in rows)


def test_demo13_e2e_stream_matches_reference_golden(spark):
    with open(os.path.join(E2E, "reference_stream13.txt"), encoding="utf-8") as fh:
        want = fh.read()
    got = _spark_event_stream13(spark)
    assert got == want


# ---------------------------------------------------------------------------
# Pipeline 14: EventCorrelationDetector under a pinned random seed (golden:
# reference_stream14.txt from demo14_config.py over corpus14.log,
# random.seed(7) in the config). The hypothesis machine
# (EventCorrelationDetector.py:150-660) is irreducibly sequential — which
# hypotheses exist depends on seeded draws interleaved with per-atom state —
# so the replay follows the pipeline-6/12 pattern: Spark parses and
# classifies the atoms (type tuple, timestamp, raw); a compact driver-side
# state machine (bounded by the corpus length, test-only — the 10^12-doc
# path is operators/correlation.py mine_implication_rules, oracle-certified)
# re-executes the same stdlib random call sequence under the same seed and
# re-derives rule formation and the violation emissions byte-for-byte.
# min_eval_true reuses the engine's bt_min_successes ladder — its equality
# with the reference's get_min_eval_true walk is asserted in passing.
# ---------------------------------------------------------------------------


def _ecd_simulate(atoms, seed, component, *, delta=5.0, max_obs=4, p0=0.99,
                  alpha=0.05, cand_size=1):
    """Seeded replay of the hypothesis/rule lifecycle. ``atoms``: ordered
    (ord, ts, ev, raw) with ev a tuple of decoded values. Returns
    [(ord, text)] for every 'Correlation rule violated!' emission."""
    import random
    from collections import deque

    from logdata_anomaly_miner_spark.operators.var_gof import bt_min_successes

    random.seed(seed)
    min_eval = bt_min_successes(max_obs, p0, 1 - alpha)

    class Imp:
        def __init__(self, trig, impl, rule_min_eval=None):
            self.trig, self.impl = trig, impl
            self.stable = 0
            self.h_obs = self.h_true = 1          # seeded by the generating pair
            self.h_ts = deque()                    # hypothesis trigger times
            self.r_ts = deque()                    # rule trigger times
            self.r_obs = deque()                   # rule observation window
            self.min_eval = rule_min_eval or min_eval

        def observe_h(self, result):
            if self.h_obs < max_obs:
                self.h_obs += 1
                self.h_true += result

        def stability(self):
            if self.h_true >= self.min_eval:
                self.stable = 1
            elif (self.h_obs - self.h_true) > (max_obs - self.min_eval):
                self.stable = -1
            else:
                self.stable = 0
            return self.stable

        def observe_r(self, result):
            if len(self.r_obs) >= max_obs:
                self.r_obs.popleft()
            self.r_obs.append(result)

        def rule_ok(self):
            return (len(self.r_obs) - sum(self.r_obs)) <= (max_obs - self.min_eval)

    fwd_h, fwd_h_inv, back_h, back_h_inv = {}, {}, {}, {}
    fwd_r, fwd_r_inv, back_r, back_r_inv = {}, {}, {}, {}
    fwd_h_q, back_h_q, fwd_r_q, back_r_q = deque(), deque(), deque(), deque()
    candidates = deque()
    samples = {}
    out = []

    def first_live(ts_deque, now):
        """Index of the first unconsumed trigger timestamp, or -1."""
        for i, t in enumerate(ts_deque):
            if t != "obs":
                return i if t >= now - delta else -1 - i  # -1-i: found but stale
        return None  # all consumed (reference index = last, str == "obs")

    def emit(o, ts, rule, arrow, raw):
        if arrow == "->":
            head = (f"Correlation rule violated! Event {samples.get(rule.impl)!r} "
                    f"is missing, but should follow event {samples.get(rule.trig)!r}")
            body = f"Rule: {rule.trig} -> {rule.impl}"
        else:
            head = (f"Correlation rule violated! Event {samples.get(rule.impl)!r} "
                    f"is missing, but should precede event {samples.get(rule.trig)!r}")
            body = f"Rule: {rule.impl} <- {rule.trig}"
        out.append((o, (
            f"{_pyfmt(ts)} {head}\n"
            f'EventCorrelationDetector: "{component}" (1 lines)\n'
            f"  {body}\n  Expected: {rule.min_eval}/{max_obs}\n"
            f"  Observed: {sum(rule.r_obs)}/{len(rule.r_obs)}\n"
            f"Original log line: {raw}\n\n"
        )))

    def promote(h, hyps, hyps_inv, rules, rules_inv):
        """Stable hypothesis becomes a rule with a sample-fitted min_eval."""
        p = h.h_true / h.h_obs
        h.min_eval = bt_min_successes(max_obs, p, 1 - alpha)
        rules.setdefault(h.trig, []).append(h)
        rules_inv.setdefault(h.impl, []).append(h)
        h.h_ts.clear()
        hyps[h.trig].remove(h)
        if not hyps[h.trig]:
            del hyps[h.trig]
        hyps_inv[h.impl].remove(h)
        if not hyps_inv[h.impl]:
            del hyps_inv[h.impl]

    for o, now, ev, raw in atoms:
        samples[ev] = raw.encode()

        # ---- check phase (check_rules_flag) ----
        for r in fwd_r.get(ev, []):
            r.r_ts.append(now)
            fwd_r_q.append(r)
        for r in fwd_r_inv.get(ev, []):
            i = first_live(r.r_ts, now)
            if isinstance(i, int) and i >= 0:
                r.observe_r(1)
                r.r_ts[i] = "obs"
        while fwd_r_q:
            r = fwd_r_q[0]
            if not r.r_ts:
                fwd_r_q.popleft()
                continue
            if r.r_ts[0] == "obs":
                r.r_ts.popleft()
                fwd_r_q.popleft()
                continue
            if r.r_ts[0] < now - delta:
                r.observe_r(0)
                r.r_ts.popleft()
                fwd_r_q.popleft()
                if not r.rule_ok():
                    emit(o, now, r, "->", raw)
                    r.r_obs = deque()
                continue
            break
        for r in back_r_inv.get(ev, []):
            r.r_ts.append(now)
            back_r_q.append(r)
        for r in back_r.get(ev, []):
            i = first_live(r.r_ts, now)
            if isinstance(i, int) and i >= 0:
                r.observe_r(1)
                r.r_ts[i] = "obs"
            else:
                r.observe_r(0)
                if not r.rule_ok():
                    emit(o, now, r, "<-", raw)
                    r.r_obs = deque()
        while back_r_q:
            r = back_r_q[0]
            if not r.r_ts:
                back_r_q.popleft()
                continue
            if r.r_ts[0] == "obs":
                r.r_ts.popleft()
                back_r_q.popleft()
                continue
            if r.r_ts[0] < now - delta:
                r.r_ts.popleft()
                back_r_q.popleft()
                continue
            break

        # ---- learn phase ----
        for h in fwd_h.get(ev, []):
            if h.stable == 0:
                h.h_ts.append(now)
                fwd_h_q.append(h)
        for h in list(fwd_h_inv.get(ev, [])):
            i = first_live(h.h_ts, now)
            if isinstance(i, int) and i >= 0 and h.stable == 0:
                h.observe_h(1)
                h.h_ts[i] = "obs"
                if h.stability() == 1:
                    promote(h, fwd_h, fwd_h_inv, fwd_r, fwd_r_inv)
        while fwd_h_q:
            h = fwd_h_q[0]
            if not h.h_ts:
                fwd_h_q.popleft()
                continue
            if h.h_ts[0] == "obs":
                h.h_ts.popleft()
                fwd_h_q.popleft()
                continue
            if h.h_ts[0] < now - delta:
                h.h_ts.popleft()
                h.observe_h(0)
                if h.stability() == -1 and h in fwd_h.get(h.trig, []):
                    fwd_h[h.trig].remove(h)
                    fwd_h_inv[h.impl].remove(h)
                    if not fwd_h[h.trig]:
                        del fwd_h[h.trig]
                    if not fwd_h_inv[h.impl]:
                        del fwd_h_inv[h.impl]
                fwd_h_q.popleft()
                continue
            break
        for h in back_h_inv.get(ev, []):
            if h.stable == 0:
                h.h_ts.append(now)
                back_h_q.append(h)
        for h in list(back_h.get(ev, [])):
            if h.stable != 0:
                continue
            i = first_live(h.h_ts, now)
            if isinstance(i, int) and i >= 0:
                h.observe_h(1)
                h.h_ts[i] = "obs"
                if h.stability() == 1:
                    # back promotion mirrors forward (removal via both maps)
                    p = h.h_true / h.h_obs
                    h.min_eval = bt_min_successes(max_obs, p, 1 - alpha)
                    back_r.setdefault(h.trig, []).append(h)
                    back_r_inv.setdefault(h.impl, []).append(h)
                    h.h_ts.clear()
                    back_h_inv[h.impl].remove(h)
                    back_h[ev].remove(h)
                    if not back_h.get(ev):
                        del back_h[ev]
            else:
                h.observe_h(0)
                if h.stability() == -1:
                    back_h_inv[h.impl].remove(h)
                    if not back_h_inv[h.impl]:
                        del back_h_inv[h.impl]
                    back_h[ev].remove(h)
                    if not back_h.get(ev):
                        del back_h[ev]
        while back_h_q:
            h = back_h_q[0]
            if not h.h_ts:
                back_h_q.popleft()
                continue
            if h.h_ts[0] == "obs":
                h.h_ts.popleft()
                back_h_q.popleft()
                continue
            if h.h_ts[0] < now - delta:
                h.h_ts.popleft()
                back_h_q.popleft()
                continue
            break

        # hypothesis generation (the seeded draws)
        if candidates and random.uniform(0.0, 1.0) < 1.0:
            direction = random.randint(0, 1)
            if direction == 0:
                for cand, _cts in candidates:
                    if any(i.impl == cand for i in back_h.get(ev, [])):
                        continue
                    if any(i.impl == cand for i in back_r.get(ev, [])):
                        continue
                    h = Imp(ev, cand)
                    back_h.setdefault(ev, []).append(h)
                    back_h_inv.setdefault(cand, []).append(h)
            else:
                for cand, _cts in candidates:
                    if cand == ev:
                        continue
                    if any(i.impl == ev for i in fwd_h.get(cand, [])):
                        continue
                    if any(i.impl == ev for i in fwd_r.get(cand, [])):
                        continue
                    h = Imp(cand, ev)
                    fwd_h.setdefault(cand, []).append(h)
                    fwd_h_inv.setdefault(ev, []).append(h)
        while candidates and candidates[0][1] < now - delta:
            candidates.popleft()
        if len(candidates) < cand_size and random.uniform(0.0, 1.0) < 1.0:
            candidates.append((ev, now))
    return out


def _spark_event_stream14(spark) -> str:
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "demo14_config", os.path.join(E2E, "demo14_config.py"))
    cfg14 = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cfg14)

    model = P.seq(
        P.Element("^"),
        P.datetime_el("DTM14", "yyyy-MM-dd HH:mm:ss",
                      r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}"),
        P.fixed(" evt "),
        P.any_bytes("evt"),
        P.Element("$"),
    )
    lines = read_text_lines(spark, os.path.join(E2E, "corpus14.log"))
    parsed = (
        P.parse(lines, "raw", model)
        .withColumn("epoch", F.unix_timestamp("DTM14"))
        .withColumn("atom_ts", F.col("epoch").cast("double"))
        .localCheckpoint()
    )
    ok = parsed.filter(F.col("_parse_ok"))

    paths14 = ["/Evt", "/Evt/DTM", "/Evt/Fix", "/Evt/evt"]
    atom_paths = ok.select(
        "ingest_order",
        F.posexplode(F.array(*[F.lit(p) for p in paths14])).alias("pos", "path"),
    )
    first_per_path = first_occurrences(atom_paths, ["path"], ["ingest_order"])
    block = F.concat(
        F.lit("  /Evt: "), F.col("raw"),
        F.lit("\n  /Evt/DTM: "), F.col("epoch").cast("string"),
        F.lit("\n  /Evt/Fix:  evt "),
        F.lit("\n  /Evt/evt: "), F.col("evt"),
    )
    newpath = (
        first_per_path.groupBy("ingest_order")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "path"))), lambda s: s["path"]
        ).alias("new_paths"))
        .join(ok, "ingest_order")
        .select(
            "ingest_order", F.lit(1).alias("rank"),
            F.concat(
                _fmt(F.col("atom_ts")),
                F.lit(' New path(es) detected\nNewMatchPathDetector: "NewPath14" (1 lines)\n'),
                block,
                F.lit("\n['"), F.concat_ws("', '", F.col("new_paths")),
                F.lit("']\nOriginal log line: "), F.col("raw"), F.lit("\n\n"),
            ).alias("text"),
        )
    )

    atoms = [
        (r["ingest_order"], float(r["atom_ts"]), (r["evt"],), r["raw"])
        for r in ok.orderBy("ingest_order").collect()
    ]
    ecd_rows = [
        (o, 2, text)
        for o, text in _ecd_simulate(atoms, cfg14.RANDOM_SEED, "EvtCorr14")
    ]
    ecd = spark.createDataFrame(
        ecd_rows or [], "ingest_order long, rank int, text string"
    )

    events = newpath.unionByName(ecd)
    rows = events.orderBy("ingest_order", "rank").collect()
    return "".join(r["text"] for r in rows)


def test_demo14_e2e_stream_matches_reference_golden(spark):
    with open(os.path.join(E2E, "reference_stream14.txt"), encoding="utf-8") as fh:
        want = fh.read()
    got = _spark_event_stream14(spark)
    assert got == want


# ---------------------------------------------------------------------------
# Pipeline 15: PathDependentHistogramAnalysis (golden: reference_stream15.txt
# from demo15_config.py over corpus15.log, captured under PYTHONHASHSEED=0).
# Single-path model — the demo15_config docstring documents why a stable
# multi-path golden cannot exist (the reference's mapped branch re-reads the
# value from the last set-iterated path and crashes on bytes/out-of-range
# values; probed under pinned seed, 7/7 combos crash). Spark computes the
# modulo-hour bin per atom and the per-interval bin counts; the driver walks
# the report cadence (next_report = report_ts + interval, strict <) over the
# bounded atom-timestamp list and renders HistogramData.to_string
# (ratio-only lines — scipy absent on both sides).
# ---------------------------------------------------------------------------

def _spark_event_stream15(spark) -> str:
    model = P.seq(
        P.Element("^"),
        P.datetime_el("T15", "yyyy-MM-dd HH:mm:ss",
                      r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}"),
        P.Element("$"),
    )
    lines = read_text_lines(spark, os.path.join(E2E, "corpus15.log"))
    parsed = (
        P.parse(lines, "raw", model)
        .withColumn("epoch", F.unix_timestamp("T15"))
        .withColumn("atom_ts", F.col("epoch").cast("double"))
        .withColumn("hour", F.floor((F.col("epoch") % 86400) / 3600))
        .localCheckpoint()
    )
    ok = parsed.filter(F.col("_parse_ok"))

    # rank 1: NewMatchPathDetector — single path '/t', first atom only
    first = ok.orderBy("ingest_order").limit(1)
    newpath = first.select(
        "ingest_order", F.lit(1).alias("rank"),
        F.concat(
            _fmt(F.col("atom_ts")),
            F.lit(' New path(es) detected\nNewMatchPathDetector: "NewPath15" (1 lines)\n  /t: '),
            F.col("epoch").cast("string"),
            F.lit("\n['/t']\nOriginal log line: "), F.col("raw"), F.lit("\n\n"),
        ).alias("text"),
    )

    # rank 2: the report cadence walk over the bounded timestamp list
    atoms = ok.select("ingest_order", "atom_ts", "raw").orderBy("ingest_order").collect()
    interval_s = 3600.0
    next_report, last_report = None, None
    boundaries = []  # (report-trigger row, report-window start ts)
    for r in atoms:
        ts = float(r["atom_ts"])
        if next_report is None:
            next_report = ts + interval_s
            last_report = ts
            continue
        if next_report < ts:
            boundaries.append((r, last_report))
            last_report = ts
            next_report = ts + interval_s
    # per-interval bin counts in ONE Spark aggregation: assign each atom to
    # the first report whose trigger ord >= its ord (reset_after_report)
    conds = F.lit(None).cast("int")
    for i, (r, _f) in reversed(list(enumerate(boundaries))):
        conds = F.when(F.col("ingest_order") <= r["ingest_order"], F.lit(i)).otherwise(conds)
    counts = {
        (row["i"], row["hour"]): row["cnt"]
        for row in ok.withColumn("i", conds).filter(F.col("i").isNotNull())
        .groupBy("i", "hour").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }

    import datetime as _dt

    def fmt(ts):
        return _dt.datetime.fromtimestamp(ts, tz=_dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")

    report_rows = []
    for i, (r, from_ts) in enumerate(boundaries):
        bins = sorted((h, c) for (j, h), c in counts.items() if j == i)
        total = sum(c for _h, c in bins)
        body = f'  Path histogram report from {fmt(from_ts)} till {fmt(r["atom_ts"])}\n'
        body += 'Path values "/t":\n'
        body += f"Example: {r['raw']}\n"
        body += f'  Property "/t" ({total} elements):\n'
        body += "".join(
            "  * [%d-%d]: %d (ratio = %.2e)\n" % (h, h + 1, c, c / total)
            for h, c in bins
        )
        report_rows.append((
            r["ingest_order"], 2,
            f"{fmt(r['atom_ts'])} Histogram report\n"
            f'PathDependentHistogramAnalysis: "PathHist15" ({total} lines)\n'
            + body + "\n",
        ))
    reports = spark.createDataFrame(
        report_rows, "ingest_order long, rank int, text string"
    )

    events = newpath.unionByName(reports)
    rows = events.orderBy("ingest_order", "rank").collect()
    return "".join(r["text"] for r in rows)


def test_demo15_e2e_stream_matches_reference_golden(spark):
    with open(os.path.join(E2E, "reference_stream15.txt"), encoding="utf-8") as fh:
        want = fh.read()
    got = _spark_event_stream15(spark)
    assert got == want


# ---------------------------------------------------------------------------
# Structured Streaming certification beyond pipeline 1 (round-6 VERDICT
# item 5): the demo-11 EntropyDetector golden and the demo-3
# EventFrequencyDetector ranks, replayed under real readStream micro-batches
# with detector state crossing batch boundaries.
# ---------------------------------------------------------------------------


def _stage_micro_batches(atoms, tmp_path, n_batches=3):
    """Write ``atoms`` as n single-file parquets with increasing mtimes so
    maxFilesPerTrigger=1 yields one deterministic micro-batch per file,
    split on ingest_order."""
    n = atoms.count()
    cuts = [round(i * n / n_batches) for i in range(n_batches)] + [n + 1]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i in range(n_batches):
        stage = str(tmp_path / f"stage{i}")
        atoms.filter(
            (F.col("ingest_order") >= cuts[i]) & (F.col("ingest_order") < cuts[i + 1])
        ).coalesce(1).write.parquet(stage)
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        dst = in_dir / f"{i:02d}.parquet"
        shutil.copy(os.path.join(stage, part), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))
    return str(in_dir)


def _run_stream_to_memory(spark, stream_df, name, ckpt):
    query = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        query.processAllAvailable()
        batches = [p for p in query.recentProgress if p["numInputRows"] > 0]
        assert len(batches) >= 3, "corpus must span >=3 micro-batches"
    finally:
        query.stop()
    return spark.table(name)


def test_demo11_e2e_structured_streaming_matches_reference_golden(
    spark, tmp_path
):
    """Pipeline 11 under real Structured Streaming: the bigram tables of
    both EntropyDetector variants (and the NewMatchPathDetector path set)
    live in the state store while the corpus arrives as three micro-batches
    — the check-then-learn interleaving that crosses prob_thresh mid-stream
    must still reproduce the reference golden byte-for-byte."""
    from logdata_anomaly_miner_spark.streaming.state import (
        streaming_entropy_pipeline,
    )

    with open(os.path.join(E2E, "reference_stream11.txt"), encoding="utf-8") as fh:
        want = fh.read()

    lines = read_text_lines(spark, os.path.join(E2E, "corpus11.log"))
    parsed = (
        P.parse(lines, "raw", _model11())
        .withColumn("epoch", F.unix_timestamp("DTM11"))
        .withColumn(
            "atom_ts", F.coalesce(F.col("epoch").cast("double"), F.lit(FROZEN))
        )
        .withColumn(
            "action_idx",
            F.when(F.col("action") == "login", 0)
            .when(F.col("action") == "logout", 1),
        )
        .localCheckpoint()
    )
    s11 = F.array(*[F.lit(p) for p in S11_PATHS])
    atoms = parsed.select(
        "ingest_order",
        F.col("_parse_ok").alias("parse_ok"),
        F.when(F.col("_parse_ok"), s11).alias("paths"),
        F.col("name").alias("value"),
    )
    in_dir = _stage_micro_batches(atoms, tmp_path)
    stream = (
        spark.readStream.schema(atoms.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    decisions = _run_stream_to_memory(
        spark,
        streaming_entropy_pipeline(stream),
        "demo11_streaming_decisions",
        str(tmp_path / "ckpt"),
    )

    dec = decisions.join(parsed, "ingest_order")
    block = F.concat(
        F.lit("  /Sess: "), F.col("raw"),
        F.lit("\n  /Sess/DTM: "), F.col("epoch").cast("string"),
        F.lit("\n  /Sess/Fix:  user "),
        F.lit("\n  /Sess/name: "), F.col("name"),
        F.lit("\n  /Sess/Sp:  "),
        F.lit("\n  /Sess/action: "), F.col("action_idx").cast("string"),
    )
    text = (
        F.when(
            F.col("rank") == 0,
            F.concat(
                _fmt(F.lit(FROZEN)),
                F.lit(' Unparsed atom received\nSimpleUnparsedAtomHandler: "Unparsed11" (1 lines)\n  '),
                F.col("raw"), F.lit("\n\n"),
            ),
        )
        .when(
            F.col("rank") == 1,
            F.concat(
                _fmt(F.col("atom_ts")),
                F.lit(' New path(es) detected\nNewMatchPathDetector: "NewPath11" (1 lines)\n'),
                block,
                F.lit("\n['"), F.concat_ws("', '", F.col("new_paths")),
                F.lit("']\nOriginal log line: "), F.col("raw"), F.lit("\n\n"),
            ),
        )
        .when(
            (F.col("rank") == 2) & (F.col("crit") < 0.05),
            F.concat(
                _fmt(F.col("atom_ts")),
                F.lit(' Value entropy anomaly detected\nEntropyDetector: "NameEntropy" (1 lines)\n  '),
                F.col("raw"), F.lit("\n\n"),
            ),
        )
        .when(
            (F.col("rank") == 3) & (F.col("crit") < 0.05),
            F.concat(
                _fmt(F.col("atom_ts")),
                F.lit(' Value entropy anomaly detected\nEntropyDetector: "NameEntropySkip" (1 lines)\n  '),
                F.col("raw"), F.lit("\n\n"),
            ),
        )
    )
    rows = (
        dec.withColumn("text", text)
        .filter(F.col("text").isNotNull())
        .orderBy("ingest_order", "rank")
        .collect()
    )
    got = "".join(r["text"] for r in rows)
    assert got == want


def test_demo3_e2e_structured_streaming_frequency_matches_reference_golden(
    spark, tmp_path
):
    """Pipeline 3's EventFrequencyDetector ranks under real Structured
    Streaming: window anchor, open-window count and trailing band history
    cross micro-batch boundaries; the streaming decisions substituted into
    the demo-3 text assembly must still match the golden byte-for-byte."""
    from logdata_anomaly_miner_spark.streaming.state import (
        streaming_event_frequency,
    )

    with open(os.path.join(E2E, "reference_stream3.txt"), encoding="utf-8") as fh:
        want = fh.read()

    lines = read_text_lines(spark, os.path.join(E2E, "corpus3.log"))
    parsed = (
        P.parse(lines, "raw", _model3())
        .withColumn("epoch", F.unix_timestamp("DTM3"))
        .withColumn("atom_ts", F.col("epoch").cast("double"))
        .localCheckpoint()
    )
    atoms = (
        parsed.filter(F.col("_parse_ok"))
        .select("ingest_order", F.col("atom_ts").alias("ts"))
    )
    in_dir = _stage_micro_batches(atoms, tmp_path)
    stream = (
        spark.readStream.schema(atoms.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    decisions = _run_stream_to_memory(
        spark,
        streaming_event_frequency(
            stream, window_size=10.0, num_windows=50, confidence_factor=0.5
        ),
        "demo3_streaming_freq_decisions",
        str(tmp_path / "ckpt"),
    )
    decs = sorted(
        (r["ingest_order"], r["rank"]) for r in decisions.collect()
    )
    assert decs, "frequency pipeline must emit decisions"
    # state must matter across batches: at least one decision beyond the
    # first third of the corpus (whose band history began in batch 1)
    n = atoms.count()
    assert any(o >= n // 3 for o, _ in decs)
    got = _spark_event_stream3(spark, freq_decisions=decs)
    assert got == want
