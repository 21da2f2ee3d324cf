"""Deterministic, fully-distributed synthesizer of the engine's canonical
input table (BASELINE input_hint / FIXTURES.md §1):

    documents(doc_id string, ts double,
              spans array<struct<kind string, text string,
                                 media_ref string, offset int>>)
    media(media_id string, media_kind string)

Design for scale: generation is ``spark.range(n)`` plus pure Column
expressions (xxhash64-derived pseudo-randomness, ``transform`` over
``sequence`` for the span arrays) — no driver-side loops, no Python UDFs, so
the same generator produces 10^3 rows for tests and arbitrarily many on a
cluster by changing ``n_docs`` (spark.range parallelizes the id space).

Knobs mirror FIXTURES.md: zipf-ish skew for span ``kind``, hot-key fraction
for doc_id (uniqueness violations), dangling media_ref rate (referential
violations), strictly-increasing ``offset``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Small vocab pools; selection is hash-driven so output is seed-deterministic.
KINDS = ["text", "image", "audio", "video", "code", "table", "header", "footnote"]
# Zipf-ish cumulative thresholds out of 1000 for the 8 kinds (skewed: `text` hot).
KIND_CUM = [500, 750, 850, 910, 950, 975, 990, 1000]
TOKENS = [
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
    "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi", "rho",
    "sigma", "tau", "upsilon", "phi", "chi", "psi", "omega", "log", "data",
    "anomaly", "miner", "spark", "span", "media", "doc", "value", "range",
]


def _h(seed: int, *cols) -> Column:
    """Deterministic non-negative 'random' long from inputs."""
    return F.abs(F.xxhash64(F.lit(seed), *cols))


def _kind_expr(h: Column) -> Column:
    """Map a uniform hash to a zipf-skewed kind via cumulative thresholds."""
    bucket = h % 1000
    expr = F.lit(KINDS[-1])
    for i in range(len(KINDS) - 2, -1, -1):
        expr = F.when(bucket < KIND_CUM[i], F.lit(KINDS[i])).otherwise(expr)
    return expr


def gen_media(spark: SparkSession, n_media: int = 1000, seed: int = 42) -> DataFrame:
    return spark.range(n_media).select(
        F.format_string("m%06d", F.col("id")).alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (_h(seed + 1, F.col("id")) % 3 + 1).cast("int"),
        ).alias("media_kind"),
    )


def gen_documents(
    spark: SparkSession,
    n_docs: int = 10_000,
    seed: int = 42,
    dup_rate: float = 0.01,
    dangling_rate: float = 0.02,
    n_partitions: int | None = None,
) -> DataFrame:
    """Synthesize the interleaved text+media documents table.

    - doc_id: unique except a ``dup_rate`` fraction remapped onto a small set
      of hot duplicate ids (drives the uniqueness suite + skew handling).
    - spans: 1..8 structs; kind zipf-skewed; text = 1..5 pool tokens joined
      by space; media_ref only on media-ish kinds, null on half of them;
      ``dangling_rate`` of non-null refs point outside media, the rest into
      the 1000 ids of ``gen_media``; offset strictly increasing within the
      doc.
    - ts: monotone-ish event time (epoch seconds from 1.7e9, double).
    """
    base = (
        spark.range(0, n_docs, 1, n_partitions)
        if n_partitions
        else spark.range(n_docs)
    )
    did = F.col("id")

    doc_id = F.format_string("doc%010d", did)
    if dup_rate > 0:
        dup_mod = max(int(1.0 / dup_rate), 1)
        doc_id = F.when(
            _h(seed + 2, did) % dup_mod == 0,
            F.format_string("doc_dup_%d", _h(seed + 3, did) % 7),
        ).otherwise(doc_id)

    n_spans = (_h(seed + 4, did) % 8 + 1).cast("int")

    def span_struct(i: Column) -> Column:
        sh = _h(seed + 5, did, i)
        kind = _kind_expr(sh)
        n_tok = (sh % 5 + 1).cast("int")
        toks = F.transform(
            F.sequence(F.lit(0), n_tok - 1),
            lambda j: F.element_at(
                F.array(*[F.lit(t) for t in TOKENS]),
                (_h(seed + 6, did, i, j) % len(TOKENS) + 1).cast("int"),
            ),
        )
        text = F.array_join(toks, " ")
        is_media_kind = kind.isin("image", "audio", "video")
        ref_h = _h(seed + 7, did, i)
        dangling = (ref_h % 1000) < int(dangling_rate * 1000)
        null_ref = (_h(seed + 8, did, i) % 1000) < 500
        media_ref = (
            F.when(~is_media_kind | null_ref, F.lit(None).cast("string"))
            .when(dangling, F.format_string("m_missing_%06d", ref_h % 100000))
            .otherwise(F.format_string("m%06d", ref_h % 1000))
        )
        offset = (i * 16 + (sh % 16)).cast("int")
        return F.struct(
            kind.alias("kind"),
            text.alias("text"),
            media_ref.alias("media_ref"),
            offset.alias("offset"),
        )

    spans = F.transform(F.sequence(F.lit(0), n_spans - 1), span_struct)
    ts = F.lit(1_700_000_000.0) + did * 0.1 + (_h(seed + 9, did) % 100) / 1000.0
    ts = ts.cast("double")

    return base.select(
        doc_id.alias("doc_id"), ts.alias("ts"), spans.alias("spans")
    )


def explode_spans(documents: DataFrame) -> DataFrame:
    """Canonical working view ``spans_flat`` (FIXTURES.md §1): one row per
    span, carrying every document column but ``spans``.

    posexplode preserves array order as ``ord`` — the span-sequence
    (kind, text, media_ref, order) equality invariant rides on this column.
    """
    carried = [c for c in documents.columns if c != "spans"]
    return documents.select(
        *carried,
        F.posexplode("spans").alias("ord", "span"),
    ).select(
        *carried,
        "ord",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )
