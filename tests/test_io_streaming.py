"""Sources and Structured Streaming operators."""

from __future__ import annotations

import tempfile

from pyspark.sql import types as T

from logdata_anomaly_miner_spark.sources.readers import (
    multisource_union,
    parse_json_atoms,
    read_text_lines,
)


def test_read_text_lines(spark):
    with tempfile.TemporaryDirectory() as d:
        with open(f"{d}/a.log", "w") as f:
            f.write("short\n" + "x" * 100 + "\nanother\n")
        rows = read_text_lines(spark, d).collect()
        assert len(rows) == 3
        assert all(r["source"].endswith("a.log") for r in rows)


def test_parse_json_atoms(spark):
    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
    )
    rows = [
        ('{"a": 1, "b": "x"}',),
        ("not json at all {",),
        ('{"a": 2, "b": "y", "extra": 1}',),
    ]
    df = spark.createDataFrame(rows, "raw string")
    out = parse_json_atoms(df, schema)
    oks = [r["_parse_ok"] for r in out.collect()]
    assert oks == [True, False, True]  # PERMISSIVE: extra key still parses


def test_multisource_union(spark):
    a = spark.createDataFrame([(1.0, "a")], "ts double, v string")
    b = spark.createDataFrame([(2.0, "b", "extra")], "ts double, v string, w string")
    out = multisource_union([a, b])
    assert out.count() == 2 and "w" in out.columns


def test_streaming_new_values(spark):
    from logdata_anomaly_miner_spark.streaming.state import streaming_new_values

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [("p1", "x", 1.0), ("p1", "x", 2.0), ("p1", "y", 3.0), ("p2", "x", 4.0)],
            "target string, value string, ts double",
        ).write.parquet(f"{d}/in")
        stream = spark.readStream.schema("target string, value string, ts double").parquet(f"{d}/in")
        out = streaming_new_values(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("new_vals")
            .outputMode("append")
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = sorted(
            (r["target"], r["value"]) for r in spark.sql("select * from new_vals").collect()
        )
        assert rows == [("p1", "x"), ("p1", "y"), ("p2", "x")]


def test_parse_xml_atoms(spark):
    """XmlModelElement analog via Spark-native from_xml: typed extraction,
    attribute addressing, and unparsed-atom tracking."""
    from logdata_anomaly_miner_spark.sources.readers import parse_xml_atoms

    schema = T.StructType(
        [
            T.StructField("user", T.StringType()),
            T.StructField("value", T.LongType()),
        ]
    )
    rows = [
        ("<event><user>alice</user><value>7</value></event>",),
        ("<event><user>bob</user></event>",),   # optional element missing
        ("definitely not xml <",),
    ]
    df = spark.createDataFrame(rows, "raw string")
    out = parse_xml_atoms(df, schema).collect()
    assert out[0]["_parse_ok"] and out[0]["parsed"]["user"] == "alice"
    assert out[0]["parsed"]["value"] == 7
    assert out[1]["_parse_ok"] and out[1]["parsed"]["value"] is None
    assert not out[2]["_parse_ok"]


def test_streaming_file_rollover(spark, tmp_path):
    """LogStream rollover analog (reference aminer/input/LogStream.py:
    266-405): a log file 'rolls over' — a new file appears in the watched
    directory mid-stream — and the stream picks up the new file's atoms
    without re-reading or dropping the old ones. Spark's file source IS
    the rollover handler (directory listing + processed-file tracking in
    the checkpoint); maxFilesPerTrigger=1 is the reference's bounded
    per-cycle read (backpressure)."""
    import time as _time

    d = tmp_path / "logs"
    d.mkdir()
    (d / "app.log").write_text("line-a1\nline-a2\n")
    out_dir = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1).text(str(d))
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", cp)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline:
            try:
                if spark.read.parquet(out_dir).count() >= 2:
                    break
            except Exception:
                pass
            _time.sleep(0.5)
        # rollover: the writer rotates to a new file
        (d / "app.log.1").write_text("line-b1\nline-b2\nline-b3\n")
        while _time.time() < deadline:
            try:
                if spark.read.parquet(out_dir).count() >= 5:
                    break
            except Exception:
                pass
            _time.sleep(0.5)
    finally:
        q.stop()
    rows = sorted(r["value"] for r in spark.read.parquet(out_dir).collect())
    assert rows == ["line-a1", "line-a2", "line-b1", "line-b2", "line-b3"]
    # the batch reader over the same rolled-over directory sees the union
    # with a unique ingest order (resume parity with plans/checkpoint.py)
    batch = read_text_lines(spark, str(d))
    assert batch.count() == 5
    assert batch.select("ingest_order").distinct().count() == 5
