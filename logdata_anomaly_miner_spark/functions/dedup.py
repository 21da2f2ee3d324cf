"""Deduplication operators for training-data pipelines (north-star addition).

All variants are set-oriented and shuffle-bounded:

- exact:      md5(normalized text) hash-groupBy — one shuffle of |docs| keys.
- minhash+LSH: shingle → per-seed min of a hash → band → bucket join, all
              minima in one wide aggregation per document. Candidate pairs
              only form inside buckets, so the join is |bucket|² per bucket
              instead of |docs|² — the standard LSH scale path. Two hash
              families: md5 (hex-string min, portable to any engine for
              oracle checks) and xxhash64 (signed long, cheaper).
- simhash:    per-bit sign-sum of md5 token-hash bits in one wide
              aggregation — no per-row Python; near-dups share simhash
              within k bits.
- n-gram Jaccard: exact verification on LSH candidates (or small inputs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_text(text: Column) -> Column:
    """Lowercase, collapse whitespace, strip non-alphanumerics — the usual
    dedup normalization."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^a-z0-9\s]", " ")
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def exact_dup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(text_hash, cnt, doc_ids) for normalized texts occurring more than
    once."""
    return (
        df.withColumn("text_hash", F.md5(normalize_text(F.col(text_col))))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .filter(F.col("cnt") > 1)
    )


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-gram shingle array (distinct) from normalized text.

    Built by zipping k shifted slices of the token array (each input array
    evaluated once per row) — not element_at-in-a-lambda, which re-evaluates
    the array per element."""
    toks = F.split(normalize_text(text), " ")
    n = F.size(toks)
    m = n - (k - 1)  # number of k-grams
    grams = F.slice(toks, 1, m)
    for j in range(1, k):
        grams = F.zip_with(
            grams, F.slice(toks, 1 + j, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.array_distinct(
        F.when(n >= k, grams).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_k: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
    use_xx: bool = False,
) -> DataFrame:
    """MinHash + LSH banding → candidate pairs (id_a < id_b).

    minhash_i = min over the document's shingles of md5(f"{i}:{shingle}")
    compared as hex strings, or with ``use_xx`` of xxhash64(i,
    xxhash64(shingle)) as signed longs; both are valid MinHash families
    (identical shingle sets give identical signatures), md5 is the one
    DuckDB can replay. All n_hashes minima are ONE wide aggregation over
    the shingle rows (map-side combined), so the shuffle carries |docs|
    rows. Band b's bucket is md5 of its ``rows_per_band`` minhashes joined
    with "|" in SEED order (standard banding: sorting by value would pair
    documents whose bands merely share a multiset of minhashes across
    seeds), projected straight off the aggregated row; documents sharing
    a (band, bucket) become candidates."""
    if bands * rows_per_band > n_hashes:
        raise ValueError("bands * rows_per_band must be <= n_hashes")
    ex = df.select(
        F.col(id_col).alias("_id"),
        F.explode(shingles(F.col(text_col), shingle_k)).alias("sh"),
    )
    if use_xx:
        base = F.xxhash64(F.col("sh"))
        mins = [
            F.min(F.xxhash64(F.lit(i), base)).alias(f"_h{i}")
            for i in range(n_hashes)
        ]
    else:
        mins = [
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("sh")))).alias(f"_h{i}")
            for i in range(n_hashes)
        ]
    agg = ex.groupBy("_id").agg(*mins)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"_h{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    banded = agg.select(
        F.col("_id").alias(id_col),
        F.explode(F.array(*band_structs)).alias("_bb"),
    ).select(id_col, "_bb.band", "_bb.bucket")
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact Jaccard over shingle sets; keeps pairs with similarity ≥
    threshold. |∩| via the shingle **inverted index** (self-join on gram):
    only pairs that actually share a shingle ever materialize — never the
    all-pairs cross product. Pass ``candidates`` (e.g. LSH pairs) to restrict
    further; None scans the full index, where a shingle shared by f
    documents materializes f² join rows."""
    src = df
    if candidates is not None:
        # the candidate set is referenced three times below (id filter +
        # both sides of the intersection join); eagerly localCheckpoint it
        # so its upstream (e.g. the whole MinHash/LSH pipeline) runs ONCE,
        # not three times (Catalyst does not CSE duplicated subplans). It is
        # tiny — proportional to true near-dups. Unlike persist(), the
        # checkpoint blocks are released by the ContextCleaner as soon as
        # the caller drops the returned DataFrame, so repeated calls in one
        # session don't leak cached blocks.
        candidates = candidates.localCheckpoint(eager=True)
        # only candidate docs need shingling at all — semi-join the (tiny)
        # candidate id set onto the corpus BEFORE the explode, so the
        # verification cost is O(|candidate docs|), not O(|corpus|)
        cand_ids = (
            candidates.select(F.col("id_a").alias("_cid"))
            .unionByName(candidates.select(F.col("id_b").alias("_cid")))
            .dropDuplicates()
        )
        src = df.join(
            F.broadcast(cand_ids), F.col(id_col) == F.col("_cid"), "left_semi"
        )
    sh = src.select(
        F.col(id_col).alias("_id"), shingles(F.col(text_col), shingle_k).alias("sh")
    )
    sizes = sh.select("_id", F.size("sh").alias("n"))
    ex = sh.select("_id", F.explode("sh").alias("g"))
    if candidates is None:
        # full inverted index: every shingle-sharing pair, exact
        inter = (
            ex.select(F.col("_id").alias("id_a"), "g")
            .join(ex.select(F.col("_id").alias("id_b"), "g"), "g")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        # candidate-restricted: join grams onto the (small) candidate set so
        # the shingle join never expands beyond |candidates| × |grams/doc|
        inter = (
            candidates.join(ex.withColumnRenamed("_id", "id_a"), "id_a")
            .join(ex.select(F.col("_id").alias("id_b"), F.col("g")), ["id_b", "g"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    return (
        inter.join(sizes.select(F.col("_id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 9
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def portable_simhash_bits(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Relational 64-bit SimHash with a portable (md5-hex-nibble) token
    hash — one row per (id, bit) with the majority bit value. Cross-engine
    deterministic (md5/substr/strpos exist everywhere), so the
    ``simhash_bits`` query matches its DuckDB oracle bit for bit."""
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"),
    ).withColumn("h", F.md5(F.col("tok")))
    # wide aggregation, not a bit-explode: one conditional sum per bit over
    # the token rows (map-side combined), then stack() restores the
    # per-(id, bit) oracle shape AFTER aggregation — |docs|·64 rows
    # post-shuffle instead of |tokens|·64 rows pre-shuffle
    def bitval(i: int):
        nibble = F.conv(F.substring(F.col("h"), i // 4 + 1, 1), 16, 10).cast("int")
        return F.shiftright(nibble, i % 4).bitwiseAND(F.lit(1))

    sums = toks.groupBy("_id").agg(
        *[
            F.sum(F.when(bitval(i) == 1, 1).otherwise(-1)).alias(f"_s{i}")
            for i in range(64)
        ]
    )
    stack_args = ", ".join(f"{i}, _s{i}" for i in range(64))
    return sums.selectExpr(
        f"_id as {id_col}",
        f"stack(64, {stack_args}) as (bit, s)",
    ).select(
        id_col,
        F.col("bit").cast("int").alias("bit"),
        F.when(F.col("s") > 0, 1).otherwise(0).cast("int").alias("b"),
    )
