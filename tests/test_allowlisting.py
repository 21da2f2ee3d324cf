"""Allowlist/blocklist mutation analog (reference
NewMatchPathValueDetector.py:156-175, EntropyDetector.py:238-272)."""

from __future__ import annotations

from logdata_anomaly_miner_spark.operators.allowlisting import (
    allowlist_path,
    blocklist_path,
)


def test_path_list_mutations():
    cols, msg = allowlist_path((), "user")
    assert cols == ("user",)
    assert msg == "Allowlisted path user in Analysis.EntropyDetector."
    cols2, _ = allowlist_path(cols, "user")  # idempotent
    assert cols2 == ("user",)
    icols, msg = blocklist_path(("dbg",), "trace")
    assert icols == ("dbg", "trace")
    assert msg == "Blocklisted path trace in Analysis.EntropyDetector."


def test_entropy_allowlist_blocklist_event_reference_replay():
    """Replay of EntropyDetectorTest.test3allowlist_event /
    test4blocklist_event (reference :333-362): wrong-source events and
    non-null payloads raise, good calls mutate the list idempotently and
    return the reference's exact message."""
    import pytest as _pytest

    from logdata_anomaly_miner_spark.operators.allowlisting import (
        allowlist_event,
        blocklist_event,
    )

    analysis = "Analysis.%s"
    with _pytest.raises(Exception, match="Event not from this source"):
        allowlist_event(analysis % "NewMatchPathValueDetector", "/s1", None, ())
    with _pytest.raises(Exception, match="not understood"):
        allowlist_event(analysis % "EntropyDetector", "/s1", ["random", "Data"], ())
    cols, msg = allowlist_event(analysis % "EntropyDetector", "/s1", None, ())
    assert msg == "Allowlisted path /s1 in Analysis.EntropyDetector."
    cols, msg = allowlist_event(analysis % "EntropyDetector", "/d1", None, cols)
    assert msg == "Allowlisted path /d1 in Analysis.EntropyDetector."
    assert cols == ("/s1", "/d1")
    assert allowlist_event(analysis % "EntropyDetector", "/s1", None, cols)[0] == cols

    with _pytest.raises(Exception, match="Event not from this source"):
        blocklist_event(analysis % "NewMatchPathValueDetector", "/s1", None, ())
    with _pytest.raises(Exception, match="not understood"):
        blocklist_event(analysis % "EntropyDetector", "/s1", ["random", "Data"], ())
    icols, msg = blocklist_event(analysis % "EntropyDetector", "/s1", None, ())
    assert msg == "Blocklisted path /s1 in Analysis.EntropyDetector."
    assert icols == ("/s1",)


def test_blocklist_mutation_consumed_on_next_run(spark):
    """End-to-end: an entropy alarm's path is blocklisted, and the NEXT run
    screens the offending atoms with the mutated lists (reference
    remote-control mutation, EntropyDetector.py:238-272)."""
    from pyspark.sql import functions as F

    from logdata_anomaly_miner_spark.operators.allowlisting import blocklist_event
    from logdata_anomaly_miner_spark.operators.entropy import (
        check_entropy,
        learn_bigram_freq,
        score_entropy_pandas,
    )
    normal = [(f"user{i % 7} logged in", None) for i in range(40)]
    weird = [("zq9#kx!!pw%%", "dbg")]  # high-entropy value tagged by path dbg
    df = spark.createDataFrame(normal + weird, "value string, dbg string")
    freq, _ = learn_bigram_freq(df.filter(F.col("dbg").isNull()), "value")
    scored = score_entropy_pandas(spark, df, "value", freq)
    alarms = check_entropy(scored, 0.01)
    assert alarms.filter(F.col("dbg").isNotNull()).count() == 1

    # operator blocklists the offending path
    ignore, _ = blocklist_event("Analysis.EntropyDetector", "dbg", None, ())
    assert ignore == ("dbg",)

    # next run: the mutated list screens the atoms (a path is present when
    # its column is non-null)
    screened = df.filter(F.col(ignore[0]).isNull())
    scored2 = score_entropy_pandas(spark, screened, "value", freq)
    assert check_entropy(scored2, 0.01).count() == 0
