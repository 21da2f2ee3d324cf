"""Char-bigram entropy detector.

Re-expresses EntropyDetector (aminer/analysis/EntropyDetector.py:29-195):
for a value v, with virtual start/end characters (reference uses -1, we use
index 256), the critical value is

    mean over i in [-1, len(v)) of  freq[c_i][c_{i+1}] / total[c_i]

(prob = 0 when the pair was never seen; check at reference :128-145) and an
anomaly is emitted when it falls below ``prob_thresh``. Learning (:167-193)
increments freq[first][second] and total[first] once per pair, optionally
deduplicating repeated values (``skip_repetitions``).

Spark shape:
- Baseline = a (first:int, second:int, cnt:long) DataFrame; total[first] is
  derivable (total == sum of cnt over second) because the reference
  increments both together.
- **Learning** is pure Column algebra: explode each value into its bigram
  code pairs via sequence/transform/posexplode, then groupBy(first,second)
  count — whole-stage codegen, one shuffle of at most 257^2 rows.
- **Scoring** (``score_entropy_pandas``) is a vectorized pandas UDF over a
  broadcast 257×257 numpy matrix: zero shuffle, one Arrow-batched pass
  (the freq table is ≤66k rows ≡ ~500 KB broadcast). The check-then-learn
  replay of the reference loop is ``score_entropy_sequential``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

VIRTUAL = 256  # stand-in for the reference's -1 virtual start/end char


def _bigram_pairs(value: Column) -> Column:
    """array<struct<first:int,second:int>> of the len+1 bigram code pairs,
    including virtual start/end. Pure expression — no UDF.

    Codes are UTF-8 **bytes** (0-255), matching the reference EntropyDetector
    (which iterates ``bytes(value)``) and ``score_entropy_pandas``. Extracted
    via hex(encode(v)) → 2-char chunks → conv(,16,10): every code is < 256 by
    construction, so the 257×257 probability matrix can never overflow.

    Implementation note: built with zip_with over two slices of the padded
    code array. The tempting alternative — transform(sequence(0, n-2),
    i -> element_at(padded, i)) — re-evaluates the `padded` expression for
    every element (no common-subexpression elimination inside lambda
    bodies), turning the row cost quadratic in string length; zip_with
    evaluates each input array once."""
    hexstr = F.hex(F.encode(value, "UTF-8"))
    codes = F.when(
        F.length(value) > 0,
        F.transform(
            F.regexp_extract_all(hexstr, F.lit("(..)"), 1),
            lambda h: F.conv(h, 16, 10).cast("int"),
        ),
    ).otherwise(F.array().cast("array<int>"))
    # prepend/append the virtual char code; empty value -> single (256,256) pair
    padded = F.concat(
        F.array(F.lit(VIRTUAL)), codes.cast("array<int>"), F.array(F.lit(VIRTUAL))
    )
    n = F.size(padded)
    firsts = F.slice(padded, 1, n - 1)
    seconds = F.slice(padded, 2, n - 1)
    return F.zip_with(
        firsts, seconds, lambda a, b: F.struct(a.alias("first"), b.alias("second"))
    )


def _pair_counts_bytes(vals: DataFrame, value_col: str = "_v") -> DataFrame:
    """(first, second, cnt) over UTF-8 byte bigrams — the learner hot path.

    Instead of converting every character to an int code BEFORE aggregation
    (hex + regex + per-char conv ≈ the whole suite's CPU at 10⁶+ texts),
    each pair is a 2-byte BINARY slice of the 0xFF-padded encoding: 0xFF
    never occurs in valid UTF-8, so it is a collision-free virtual
    start/end byte (reference's -1). The padded binary is projected as a
    real column first, so the slice lambda reads a row field (O(1)) rather
    than re-evaluating concat per element. Code conversion happens AFTER
    the aggregation, on ≤257² distinct pairs."""
    pad = F.lit(bytes([0xFF]))
    d = vals.withColumn(
        "_pb", F.concat(pad, F.encode(F.col(value_col), "UTF-8"), pad)
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.octet_length(F.col("_pb")) - 1),
        lambda i: F.substr(F.col("_pb"), i, F.lit(2)),
    )
    agg = (
        d.select(F.explode(pairs).alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hx = F.hex(F.col("p"))
    to_code = lambda c: F.when(c == 255, F.lit(VIRTUAL)).otherwise(c)  # noqa: E731
    return agg.select(
        to_code(F.conv(F.substring(hx, 1, 2), 16, 10).cast("int")).alias("first"),
        to_code(F.conv(F.substring(hx, 3, 2), 16, 10).cast("int")).alias("second"),
        "cnt",
    )


def learn_bigram_freq(df: DataFrame, value_col: str) -> tuple[DataFrame, None]:
    """Returns ``(freq, None)``: the (first, second, cnt) bigram counts of
    every non-null value. Callers unpack the pair (the benchmark indexes
    ``[0]``); to count each distinct value once (the reference's
    skip_repetitions, :170-174), pass distinct values."""
    vals = df.select(F.col(value_col).alias("_v")).filter(F.col("_v").isNotNull())
    return _pair_counts_bytes(vals, "_v"), None


def freq_matrix(freq: DataFrame) -> np.ndarray:
    """Collect the (≤257×257) freq table into a dense numpy matrix.
    Probability matrix P[first,second] = cnt/total[first] (0 where unseen)."""
    m = np.zeros((257, 257), dtype=np.float64)
    for r in freq.collect():
        if r["first"] <= VIRTUAL and r["second"] <= VIRTUAL:  # guard stale
            m[r["first"], r["second"]] = r["cnt"]             # codepoint rows
    totals = m.sum(axis=1, keepdims=True)
    with np.errstate(invalid="ignore", divide="ignore"):
        p = np.where(totals > 0, m / np.where(totals == 0, 1, totals), 0.0)
    return p


def score_entropy_pandas(
    spark: SparkSession, df: DataFrame, value_col: str, freq: DataFrame
) -> DataFrame:
    """Scale path: broadcast probability matrix + vectorized pandas UDF.
    No shuffle, no join — a single Arrow-batched projection."""
    p = freq_matrix(freq)
    bc = spark.sparkContext.broadcast(p)

    @F.pandas_udf(DoubleType())
    def _score(bins: pd.Series, byte_lens: pd.Series) -> pd.Series:
        # Fully vectorized over the Arrow batch: the JVM already encoded the
        # value to UTF-8 bytes (and computed per-value byte lengths), so the
        # Python side is one b"".join + frombuffer — no per-row str.encode
        # (which serialized the whole batch through Python objects and made
        # the stage anti-scale under many workers). Pair arrays are built
        # with the virtual boundary char per value, then one fancy-indexed
        # gather + segment mean via bincount.
        mat = bc.value
        isnull = bins.isna().to_numpy()
        joined = b"".join(bins.dropna().tolist())
        codes = np.frombuffer(joined, dtype=np.uint8)
        lens = byte_lens.fillna(0).to_numpy(dtype=np.int64)
        n = len(lens)
        if n == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        # per-value segment: len+1 pairs (virtual start + virtual end)
        npairs = lens + 1
        total = int(npairs.sum())
        ends = np.cumsum(lens)
        starts = ends - lens
        pair_seg = np.repeat(np.arange(n), npairs)
        # position of each pair within its value: 0..len
        pair_end = np.cumsum(npairs)
        pair_start = pair_end - npairs
        pos = np.arange(total) - np.repeat(pair_start, npairs)
        src = np.repeat(starts, npairs) + pos  # index of the pair's 2nd char
        firsts = np.full(total, VIRTUAL, dtype=np.int64)
        seconds = np.full(total, VIRTUAL, dtype=np.int64)
        inner_second = pos < np.repeat(lens, npairs)      # pair i<len: 2nd = c_i
        seconds[inner_second] = codes[src[inner_second]]
        inner_first = pos > 0                              # pair i>0: 1st = c_{i-1}
        firsts[inner_first] = codes[src[inner_first] - 1]
        probs = mat[np.minimum(firsts, VIRTUAL), np.minimum(seconds, VIRTUAL)]
        sums = np.bincount(pair_seg, weights=probs, minlength=n)
        out = sums / npairs
        out[isnull] = np.nan
        return pd.Series(out)

    return df.withColumn(
        "critical_val",
        _score(
            F.encode(F.col(value_col), "UTF-8"),
            F.octet_length(F.col(value_col)),
        ),
    )


def check_entropy(
    scored: DataFrame, prob_thresh: float
) -> DataFrame:
    """Anomaly filter (reference :145-164)."""
    return scored.filter(F.col("critical_val") < F.lit(prob_thresh))


def score_entropy_sequential(
    df: DataFrame,
    value_col: str,
    ord_col: str,
    skip_repetitions: bool = False,
) -> DataFrame:
    """Exact replay of EntropyDetector's per-atom check-THEN-learn loop
    (aminer/analysis/EntropyDetector.py:87-193): atom i's critical value is
    scored against the freq/total tables accumulated from atoms j < i only
    (receive_atom checks every value before the learn loop runs), so the
    first atom always scores 0.0 and identical streams alarm less over time.

    Declarative prefix formulation — no stateful loop:
      pair_prior(i, a, b)  = #learned occurrences of bigram (a,b) in atoms < i
      first_prior(i, a)    = #learned pairs whose first char is a in atoms < i
      prob = pair_prior/first_prior (0 when the char was never a first char)
      critical_val(i) = mean prob over the len+1 pairs of atom i's value
    via two range-frame windows partitioned by (first, second) and (first):
    the RANGE ... -1 frame excludes the current atom exactly like the
    reference's post-check learn loop. ``skip_repetitions`` weights only the
    first occurrence of each distinct value (reference :170-174).

    ``ord_col`` must be numeric and unique per row (one value per atom).
    Scale note: this is the reference-replay path for bounded per-key
    streams; the trillion-row path is learn_bigram_freq + the broadcast
    matrix scorer (score_entropy_pandas), which has no per-pair ordering.
    """
    from pyspark.sql import Window

    o = F.col(ord_col)
    base = df.withColumn("_learn_w", F.lit(1.0))
    if skip_repetitions:
        firsts = (
            df.groupBy(F.col(value_col).alias("_v"))
            .agg(F.min(o).alias("_first_ord"))
        )
        base = df.join(
            firsts,
            (F.col(value_col) == F.col("_v")) & (o == F.col("_first_ord")),
            "left",
        ).withColumn(
            "_learn_w", F.when(F.col("_first_ord").isNotNull(), 1.0).otherwise(0.0)
        ).drop("_v", "_first_ord")
    pairs = base.select(
        o.alias("_ord"), "_learn_w",
        F.explode(_bigram_pairs(F.col(value_col))).alias("p"),
    ).select(
        "_ord", "_learn_w",
        F.col("p.first").alias("first"), F.col("p.second").alias("second"),
    )
    w_pair = (
        Window.partitionBy("first", "second")
        .orderBy("_ord")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_first = (
        Window.partitionBy("first")
        .orderBy("_ord")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    scored = pairs.select(
        "_ord",
        F.sum("_learn_w").over(w_pair).alias("_pp"),
        F.sum("_learn_w").over(w_first).alias("_fp"),
    ).withColumn(
        "_prob",
        F.when(
            F.coalesce(F.col("_fp"), F.lit(0.0)) > 0,
            F.coalesce(F.col("_pp"), F.lit(0.0)) / F.col("_fp"),
        ).otherwise(0.0),
    )
    crit = scored.groupBy("_ord").agg(F.avg("_prob").alias("critical_val"))
    return df.join(crit, df[ord_col] == crit["_ord"], "left").drop("_ord")
