"""Baseline persistence in the reference's JSON encoding (byte parity).

AMiner persists detector state as JSON with type-prefixed scalars and
stringified tuple keys (aminer/util/JsonUtil.py:32-55):

    "string:..."  str        "bytes:..."  bytes
    dict key "tuple:('a',)"  tuple keys

Golden example (aecid-testsuite/unit/analysis/ValueRangeDetectorTest.py:
323-324):

    {"string:min": {"tuple:('a',)": 2.5, "tuple:('b',)": 3.1},
     "string:max": {"tuple:('a',)": 4.75, "tuple:('b',)": 6.3}}

These helpers encode/decode our baseline DataFrames to that exact format so
a reference deployment's persistence files can be imported and our learned
baselines exported back (write is atomic: tmp file + os.replace ≙ the
reference's tmpfile+link swap, aminer/util/PersistenceUtil.py:116-125).
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession


def _enc_key(v) -> str:
    if isinstance(v, str):
        return f"string:{v}"
    if isinstance(v, tuple):
        return f"tuple:{v!r}"
    return v


def _dec_key(s: str):
    if s.startswith("string:"):
        return s[len("string:"):]
    if s.startswith("tuple:"):
        import ast

        return ast.literal_eval(s[len("tuple:"):])
    if s.startswith("bytes:"):
        return s[len("bytes:"):].encode()
    return s


def ranges_to_reference_json(ranges: DataFrame, id_cols: list[str]) -> str:
    """ValueRangeDetector baseline -> reference persistence JSON
    ({"string:min": {"tuple:(id,)": v, ...}, "string:max": {...}}).

    Small-baseline path (whole payload as one str). For baselines too
    large to hold on the driver use write_ranges_reference_json, which
    streams partition-at-a-time to disk in the same byte format.
    Golden bytes checked by test_operators3::test_ranges_reference_json_golden."""
    rows = ranges.orderBy(*id_cols).collect()
    mins = {}
    maxs = {}
    for r in rows:
        key = tuple(str(r[c]) for c in id_cols)
        mins[_enc_key(key)] = r["min"]
        maxs[_enc_key(key)] = r["max"]
    return json.dumps({"string:min": mins, "string:max": maxs})


def ranges_from_reference_json(spark: SparkSession, payload: str) -> DataFrame:
    """Reference persistence JSON -> ranges DataFrame (id, min, max).
    Only single-element id tuples map to one column; wider tuples get
    id = '\\x1f'-joined parts (the engine's composite-key convention)."""
    data = json.loads(payload)
    mins = {(_dec_key(k)): v for k, v in data["string:min"].items()}
    maxs = {(_dec_key(k)): v for k, v in data["string:max"].items()}
    rows = []
    for k, mn in mins.items():
        key = "\x1f".join(k) if isinstance(k, tuple) else str(k)
        rows.append((key, float(mn), float(maxs[k])))
    return spark.createDataFrame(rows, "id string, min double, max double")


def known_values_to_reference_json(values: DataFrame, value_col: str = "value") -> str:
    """NewMatchPathValueDetector baseline -> sorted value list
    (NewMatchPathValueDetector.py:140-145 persists the sorted set;
    reference values are bytes -> 'bytes:' prefix). Kept for format parity
    with the reference: tests/test_operators3.py::
    test_known_values_reference_json."""
    vals = sorted(r[value_col] for r in values.collect())
    return json.dumps([f"bytes:{v}" for v in vals])


def known_values_from_reference_json(
    spark: SparkSession, payload: str, value_col: str = "value"
) -> DataFrame:
    """Load a reference NewMatchPathValueDetector baseline. Kept for format
    parity with the reference: tests/test_operators3.py::
    test_known_values_reference_json."""
    vals = [[_dec_key(v).decode() if isinstance(_dec_key(v), bytes) else _dec_key(v)]
            for v in json.loads(payload)]
    return spark.createDataFrame(vals, f"{value_col} string")


def _atomic_stream(path: str, emit) -> None:
    """tmpfile + rename ≙ PersistenceUtil.persist atomic swap (:116-125);
    ``emit(f)`` writes the payload to the open tmpfile."""
    d = os.path.dirname(os.path.abspath(path))
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d)
    try:
        with os.fdopen(fd, "w") as f:
            emit(f)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


def write_ranges_reference_json(ranges: DataFrame, id_cols: list[str], path: str) -> None:
    """Streamed writer for huge baselines: sorts by id (range-partition
    shuffle), then toLocalIterator() pulls ONE partition at a time to
    the driver while writing incrementally — peak driver memory is one
    partition, not the baseline. Output bytes are identical to
    ranges_to_reference_json(...). json.dumps'
    default separators (', ', ': ') are reproduced exactly."""
    srt = ranges.orderBy(*id_cols).persist()
    try:
        srt.count()  # materialize once; both passes read the cache

        def emit(f):
            f.write('{"string:min": {')
            for which in ("min", "max"):
                first = True
                for r in srt.toLocalIterator():
                    key = tuple(str(r[c]) for c in id_cols)
                    if not first:
                        f.write(", ")
                    f.write(json.dumps(_enc_key(key)) + ": " + json.dumps(r[which]))
                    first = False
                if which == "min":
                    f.write('}, "string:max": {')
            f.write("}}")

        _atomic_stream(path, emit)
    finally:
        srt.unpersist()


def write_known_values_reference_json(
    values: DataFrame, path: str, value_col: str = "value"
) -> None:
    """Streamed NewMatchPathValueDetector baseline writer — sorted value
    list, partition-at-a-time; byte-identical to
    known_values_to_reference_json(...). Kept for byte
    parity with the reference format: tests/test_operators3.py::
    test_streamed_persistence_writers_byte_parity."""

    def emit(f):
        f.write("[")
        first = True
        for r in values.orderBy(value_col).toLocalIterator():
            if not first:
                f.write(", ")
            f.write(json.dumps(f"bytes:{r[value_col]}"))
            first = False
        f.write("]")

    _atomic_stream(path, emit)
