"""Similarity search over embedding columns (north-star addition).

- ``cosine_topk``: brute-force cosine top-k against a query vector — the
  exact baseline. All math is Column expressions (zip_with/aggregate), JVM
  side; products are computed in double for cross-engine determinism.
- ``lsh_bucket_topk``: the scale path — random-hyperplane LSH signatures
  bucket the vectors; candidates share the query's bucket (multi-probe via
  hamming-1 neighbors optional), then exact cosine re-ranks candidates.
  At 10^12 vectors the bucket join replaces the full scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm2(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cosine(a: Column, b: Column) -> Column:
    """Cosine with a zero-norm guard: nullif keeps ANSI mode (double/0
    errors in Spark 4) from aborting the job on an all-zero embedding
    (padding / failed extraction); the null cosine then fails every
    >= threshold filter and sorts last in top-k."""
    return _dot(a, b) / F.nullif(F.sqrt(_norm2(a) * _norm2(b)), F.lit(0.0))


def with_cosine(df: DataFrame, vec_col: str, query: Sequence[float]) -> DataFrame:
    q = F.array(*[F.lit(float(x)) for x in query])
    return df.withColumn("cosine", F.round(_cosine(F.col(vec_col), q), 9))


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine; deterministic tie-break on id.

    orderBy().limit(k) compiles to TakeOrderedAndProject — each task keeps
    a local top-k heap and only k rows per task reach the driver-side
    merge, so the full table is never globally sorted (and no
    single-partition WindowExec appears in the plan). Ranks are then
    numbered by packing the k survivors into one sorted array
    (sort_array + posexplode) — an aggregation, not a window."""
    scored = with_cosine(df, vec_col, query)
    topk = scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)
    packed = topk.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col("cosine")).alias("_neg"),
                    F.col(id_col).alias("_id"),
                    F.col("cosine").alias("_cos"),
                )
            )
        ).alias("_arr")
    )
    return packed.select(F.posexplode("_arr").alias("_pos", "_s")).select(
        F.col("_s._id").alias(id_col),
        F.col("_s._cos").alias("cosine"),
        (F.col("_pos") + 1).cast("int").alias("rank"),
    )


def hyperplane_signature(
    vec: Column, planes: Sequence[Sequence[float]]
) -> Column:
    """Random-hyperplane LSH: bit i = sign(dot(vec, plane_i)); packed long."""
    bits = []
    for i, p in enumerate(planes):
        d = _dot(vec, F.array(*[F.lit(float(x)) for x in p]))
        bits.append(F.when(d >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def make_planes(dim: int, n_planes: int = 12) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG seeded with 42, no numpy
    RNG state)."""
    planes = []
    state = 42
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append((state / float(1 << 63)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_bucket_topk(
    df: DataFrame,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    n_planes: int = 12,
) -> DataFrame:
    """ANN: filter to the query's LSH bucket (+hamming-1 probes), exact
    cosine re-rank. Recall < 1 by construction; the candidate filter is a
    pure predicate so Catalyst pushes it into the scan of a signature-
    partitioned table at scale."""
    dim = len(query)
    planes = make_planes(dim, n_planes)
    sig = hyperplane_signature(F.col(vec_col), planes)
    qsig = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(p, query)) >= 0:
            qsig |= 1 << i
    probes = [qsig] + [qsig ^ (1 << i) for i in range(n_planes)]
    cands = df.withColumn("_sig", sig).filter(F.col("_sig").isin(probes))
    return cosine_topk(cands, vec_col, query, k)


def ivf_assign_cells(
    df: DataFrame,
    vec_col: str,
    centers: Sequence[Sequence[float]],
) -> DataFrame:
    """Adds ``_cell``: each vector's nearest centroid, assigned with pure Column algebra:
    argmin ||v−c||² = argmax (v·c − ||c||²/2), evaluated as an array of
    (score, cell) structs + array_max — whole-stage codegen, no UDF, no
    vector UDT in the hot path. ``centers`` is the (small) trained
    codebook, inlined as literals."""
    v = F.col(vec_col)
    scored = F.array(
        *[
            F.struct(
                (
                    _dot(v, F.array(*[F.lit(float(x)) for x in c]))
                    - F.lit(sum(float(x) * float(x) for x in c) / 2.0)
                ).alias("s"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centers)
        ]
    )
    return df.withColumn("_cell", F.array_max(scored)["cell"])


def _kmeans_lloyd(mat, k: int, seed: int) -> list[list[float]]:
    """Deterministic driver-side KMeans (k-means++ init + Lloyd, at most
    40 iterations, until the centers move by ≤ 1e-9) over an n×d numpy
    sample. Replaces the pyspark.ml KMeans fit, whose ~2
    Spark jobs PER ITERATION (~30 jobs per codebook) were pure scheduling
    overhead for a codebook that is trained from a bounded sample anyway
    (guide §1.2: fix the algorithm shape before the per-task work). All
    distance work uses the ||x||²−2x·c+||c||² expansion — one BLAS matmul
    per iteration, no n×k×d temporaries."""
    import numpy as np

    n = mat.shape[0]
    if n == 0:
        raise ValueError("cannot train a KMeans codebook on an empty training sample")
    k = max(1, min(int(k), n))
    rng = np.random.RandomState(seed)
    centers = np.empty((k, mat.shape[1]), dtype=np.float64)
    centers[0] = mat[rng.randint(n)]
    d2 = ((mat - centers[0]) ** 2).sum(axis=1)
    for i in range(1, k):
        tot = float(d2.sum())
        if tot > 0:
            centers[i] = mat[rng.choice(n, p=d2 / tot)]
        else:  # all points coincide with chosen centers
            centers[i] = mat[rng.randint(n)]
        d2 = np.minimum(d2, ((mat - centers[i]) ** 2).sum(axis=1))
    x2 = (mat * mat).sum(axis=1)
    for _ in range(40):
        c2 = (centers * centers).sum(axis=1)
        dist = x2[:, None] - 2.0 * (mat @ centers.T) + c2[None, :]
        assign = dist.argmin(axis=1)
        new_centers = centers.copy()
        for j in range(k):
            members = mat[assign == j]
            if len(members):
                new_centers[j] = members.mean(axis=0)
            else:
                # empty cluster: reseed deterministically to the point
                # farthest from its assigned center
                new_centers[j] = mat[dist[np.arange(n), assign].argmax()]
        shift = float(((new_centers - centers) ** 2).sum())
        centers = new_centers
        if shift <= 1e-9:
            break
    return [list(map(float, c)) for c in centers]


def ivf_topk(
    spark,
    df: DataFrame,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    train_fraction: float = 1.0,
    codebook_out_path: str | None = None,
) -> DataFrame:
    """IVF ANN (the clustering-based scale path next to the hyperplane-LSH
    one): KMeans codebook -> every vector lands in a cell; a query scans
    only its ``n_probe`` nearest cells and re-ranks exactly (cosine_topk,
    TakeOrderedAndProject). At 10^12 vectors the codebook is trained
    offline on a sample (``train_fraction``, hard-capped at 65,536 rows —
    the standard IVF practice of a fixed training budget) and the
    cell id is a stored partition column, so the probe filter prunes the
    scan; here training runs inline. Recall < 1 by construction
    (cell-boundary misses), mitigated by raising n_probe.

    The codebook fit is a driver-side numpy Lloyd over the collected
    sample (bounded: 65,536 × d doubles), not a distributed ml.KMeans:
    a distributed fit on a driver-bounded sample only adds ~2 scheduler
    round-trips per iteration (measured: 33 jobs → 3, ~7 s per query at
    sf0.1)."""
    import numpy as np

    train = df.select(F.col(vec_col).cast("array<double>").alias("_v"))
    if train_fraction < 1.0:
        train = train.sample(fraction=train_fraction, seed=42)
    sample = train.limit(65536).collect()
    mat = np.array([r["_v"] for r in sample], dtype=np.float64)
    centers = _kmeans_lloyd(mat, n_centroids, 42)
    if codebook_out_path is not None:
        # persist the trained codebook: downstream assignment / probe /
        # rerank become pure functions of (vectors, codebook) that an
        # external oracle can replicate over these exact bytes — training
        # itself stays engine-side (it is offline at scale anyway).
        # Written through Spark (it is only n_centroids rows, one tiny
        # job) so hdfs:// / s3a:// destinations work identically to
        # local paths — pyarrow would silently write driver-local.
        # Arrow ingestion (pandas) instead of a pickled-row local
        # relation: the row path fans the 8 rows over defaultParallelism
        # slices, each costing a Python-worker round-trip (measured ~5 s
        # per write on local[32]; Arrow path ~0.2 s — guide §4.1).
        import pandas as pd

        spark.createDataFrame(
            pd.DataFrame(
                {"cell": list(range(len(centers))), "c": centers}
            ),
            schema="cell int, c array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(codebook_out_path)
    q = np.array(query, dtype=np.float64)
    scores = [
        float(np.dot(q, np.array(c)) - 0.5 * float(np.dot(np.array(c), np.array(c))))
        for c in centers
    ]
    probes = sorted(range(len(centers)), key=lambda i: -scores[i])[:n_probe]
    assigned = ivf_assign_cells(df, vec_col, centers)
    cands = assigned.filter(F.col("_cell").isin(probes)).drop("_cell")
    return cosine_topk(cands, vec_col, query, k)


def exact_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.45,
) -> DataFrame:
    """EXACT all-pairs cosine ≥ threshold, fully distributed (no driver
    collect, no whole-matrix broadcast), two-phase:

    1. **Block-pair BLAS prefilter**: rows hash into B = 8 blocks; each
       row is replicated to the B (lo, hi) block pairs it participates in
       (one shuffle of n·B rows), then one applyInPandas task per block
       pair computes blockA × blockBᵀ with numpy and emits candidate pairs
       above (threshold − slack). Peak task memory is 2·(n/B)·d·8 bytes +
       a sims tile of 4096 rows. Exact all-pairs is O(n²)
       FLOPs by definition; this spreads them over B(B+1)/2 tasks.
    2. **Exact re-check**: candidates (broadcast — they are few) join their
       vectors back and the cosine is recomputed with the same sequential
       zip_with/aggregate expression the SQL oracle uses, so reported
       values are bit-consistent with it (BLAS summation order differs in
       ulps; it only gates candidates, with slack).

    Every unordered pair lands in exactly one block pair, so no
    dropDuplicates is needed.
    """
    import numpy as np
    import pandas as pd

    B = 8
    slack = 1e-6
    tagged = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int").alias("_blk"),
    )
    paired = tagged.select(
        "_id",
        "_v",
        "_blk",
        F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("_other"),
    ).select(
        "_id",
        "_v",
        "_blk",
        F.least("_blk", "_other").alias("_lo"),
        F.greatest("_blk", "_other").alias("_hi"),
    )

    def emit(key, pdf):
        lo, hi = int(key[0]), int(key[1])
        ids = pdf["_id"].to_numpy()
        blk = pdf["_blk"].to_numpy()
        mat = np.array(pdf["_v"].tolist(), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        norms[norms == 0] = 1.0
        if lo == hi:
            ia_idx = ib_idx = np.arange(len(ids))
        else:
            ia_idx = np.nonzero(blk == lo)[0]
            ib_idx = np.nonzero(blk == hi)[0]
        mb, nb, idb = mat[ib_idx], norms[ib_idx], ids[ib_idx]
        out_a, out_b = [], []
        for s in range(0, len(ia_idx), 4096):
            ii = ia_idx[s : s + 4096]
            sims = (mat[ii] @ mb.T) / (norms[ii][:, None] * nb[None, :])
            r, c = np.nonzero(sims >= threshold - slack)
            a, b = ids[ii[r]], idb[c]
            if lo == hi:
                # both sides are the full block: each unordered pair shows
                # up as (i,j) AND (j,i) — keep the ordered half only
                keep = a < b
                out_a.append(a[keep])
                out_b.append(b[keep])
            else:
                # sides are disjoint blocks: each pair appears once —
                # normalize id order instead of dropping
                out_a.append(np.minimum(a, b))
                out_b.append(np.maximum(a, b))
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
        )

    cand = paired.groupBy("_lo", "_hi").applyInPandas(emit, "id_a long, id_b long")
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = b.join(F.broadcast(a.join(F.broadcast(cand), "id_a")), "id_b")
    sim = _cosine(F.col("va"), F.col("vb"))
    return (
        pairs.withColumn("cosine", F.round(sim, 9))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )

