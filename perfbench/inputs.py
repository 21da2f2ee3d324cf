"""Seeded benchmark inputs, written as parquet under the run's work dir.

Every table depends only on (seed, size): the same seed gives the same
bytes, and nothing is reused between runs, so set-up does the same work on
every run.

- ``write_documents``: the suite's documents table, from the program's own
  synthesizer (``datagen.gen_documents``), plus its media dimension.
- ``write_sf_tables``: the detector queries' tables in the schemas of the
  sf test tables that they read (``events``, ``documents``, ``customer``,
  ``embeddings``, ``lineitem``).
  The benchmark may read nothing outside its checkout, so it cannot read
  the sf0.1 tables themselves; it regenerates their measured shape
  instead. Measured on sf0.001 / sf0.01 / sf0.1 (the value in brackets is
  sf0.1's):

  - events: ``1e6 * sf`` rows [100,000]; ``event_id`` 0..n-1; ``ts``
    uniform over the 30 days from 2024-01-01, sorted, microseconds;
    ``user_id`` uniform over ``0.015 * n`` users [1,500], with no ramp
    over time (the mean per time decile stays 742-756); ``event_type``
    uniform over 5 types (each 19.8-20.3%); ``value`` exponential with
    mean 50, rounded to cents (median 34.8, p99 228, min 0.0);
    ``props`` ``{"k": K}`` with K uniform over 0..99; no nulls.
  - documents: 5,000 rows at sf0.1 (500 below it); 10-100 words, uniform,
    drawn uniformly from 30 words; 5% are another document's text plus
    " dup"; ``lang`` en 41%, fr/es/zh/de ~15% each; ``source``
    ``src{doc_id % 20}``; ``n_chars`` the text length.
  - customer: ``1.5e5 * sf`` rows [15,000]; ``c_nationkey`` uniform 0..24;
    ``c_acctbal`` uniform over [-1000, 10000] in cents; 5 segments.
  - embeddings: 2,000 rows at sf0.1 (500 below it); 64 float32 values,
    standard normal scaled to unit length (no cluster structure: the
    per-label centroid norm is 0.07, that of random unit vectors);
    ``label`` uniform 0..9.
  - lineitem: ``6e6 * sf`` rows [600,000] (only ``uniqueness`` reads
    it); ``l_orderkey`` uniform over ``1.5e6 * sf`` orders, so lines per
    order are Poisson(4); part / supplier keys uniform over ``2e5 * sf`` /
    ``1e4 * sf``; ``l_linenumber`` 1..7, ``l_quantity`` 1..50,
    ``l_extendedprice`` uniform over [900, 105000], discount 0-0.10 and
    tax 0-0.08 in steps of 0.01, 3 return flags, 2 line statuses and
    ``l_shipdate`` 1995-01-02..2001-11-04, all uniform.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = (
    "a the data spark row column table scan filter join group agg sort hash "
    "merge window stream query key value order line part customer vector "
    "big small fast slow batch"
).split()
LANGS, LANG_P = ["en", "fr", "es", "zh", "de"], [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
T0_US = 1_704_067_200 * 10**6  # 2024-01-01T00:00:00
DAY_US = 86_400 * 10**6


def write_documents(spark, out_dir: str, seed: int, n_docs: int, n_files: int) -> dict:
    """Documents + media parquet; returns paths and the generated counts
    that the suite's ``rows_scanned`` / ``spans_scanned`` must reproduce."""
    from logdata_anomaly_miner_spark.datagen import gen_documents, gen_media

    docs_path = os.path.join(out_dir, "documents.parquet")
    media_path = os.path.join(out_dir, "media.parquet")
    gen_documents(
        spark, n_docs=n_docs, seed=seed, dup_rate=0.001, dangling_rate=0.02,
        n_partitions=n_files,
    ).write.mode("overwrite").parquet(docs_path)
    gen_media(spark, 1000, seed=seed).coalesce(1).write.mode("overwrite").parquet(media_path)
    # counted from the files, outside Spark, so the check is independent
    spans = pq.read_table(docs_path, columns=["spans"]).column("spans")
    return {"docs": docs_path, "media": media_path, "n_docs": len(spans),
            "n_spans": int(pc.sum(pc.list_value_length(spans)).as_py())}


def _events(rng, n: int) -> pa.Table:
    ts = T0_US + np.sort(rng.integers(0, 30 * DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        # tz-naive micros: Spark reads them as TIMESTAMP_NTZ, like the sf tables
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n * 3 // 200, 1), n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, n: int) -> pa.Table:
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 101, n)]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[rng.integers(0, n)].removesuffix(" dup") + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _customer(rng, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-1000.0, 10000.0, n), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    e = rng.standard_normal((n, dim))
    e = (e / np.linalg.norm(e, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(e.ravel()), dim).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def _lineitem(rng, n: int, sf: float) -> pa.Table:
    ship0 = 789_004_800 * 10**6  # 1995-01-02
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, round(1_500_000 * sf), n)),
        "l_partkey": pa.array(rng.integers(0, round(200_000 * sf), n)),
        "l_suppkey": pa.array(rng.integers(0, round(10_000 * sf), n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship0 + rng.integers(0, 2499, n) * DAY_US,
                               type=pa.timestamp("us")),
    })


def write_sf_tables(out_dir: str, seed: int, sf: float) -> dict:
    """The sf tables at scale factor ``sf`` as ``<out_dir>/<name>.parquet``;
    returns the dir and the row counts."""
    rng = np.random.default_rng(seed)
    small = 500 if sf < 0.1 else None
    tables = {
        "events": _events(rng, round(1_000_000 * sf)),
        "documents": _documents(rng, small or 5_000),
        "customer": _customer(rng, round(150_000 * sf)),
        "embeddings": _embeddings(rng, small or 2_000),
        "lineitem": _lineitem(rng, round(6_000_000 * sf), sf),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {"dir": out_dir, "sf": sf} | {f"n_{k}": t.num_rows for k, t in tables.items()}
