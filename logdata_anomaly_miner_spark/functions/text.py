"""Text analysis over document tables — all pure Column expressions
(JVM-side, whole-stage codegen; no Python in the hot path).

AMiner analogs: CharsetDetector (aminer/analysis/CharsetDetector.py:27-241)
for character-level profiling; EntropyDetector for character statistics; the
quality/lang-id/token features are the north-star training-pipeline
extensions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword marker lists for the n-gram/stopword heuristic.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "les", "et", "est", "dans", "pour", "que"],
}


def token_count(text: Column) -> Column:
    """Whitespace tokenization; size of non-empty token array."""
    return F.size(F.regexp_extract_all(text, F.lit(r"\S+"), 0))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish segmentation: words, numbers, and single punctuation marks
    counted separately (a GPT-2-style pre-tokenizer regex, simplified)."""
    return F.size(
        F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / whitespace / alpha / stopword ratios —
    the standard quality-scoring feature set, rounded for cross-engine
    comparability."""
    t = F.col(text_col)
    n = F.length(t).cast("double")
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", "")).cast("double")
    n_digit = F.length(F.regexp_replace(t, r"[^0-9]", "")).cast("double")
    n_space = F.length(F.regexp_replace(t, r"[^ \t\n]", "")).cast("double")
    n_punct = F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", "")).cast("double")
    toks = F.regexp_extract_all(F.lower(t), F.lit(r"[a-z]+"), 0)
    n_tok = F.size(toks).cast("double")
    stop = F.size(
        F.filter(toks, lambda x: x.isin(*LANG_MARKERS["en"]))
    ).cast("double")
    safe = lambda num: F.round(F.when(n > 0, num / n).otherwise(0.0), 9)  # noqa: E731
    return df.withColumns(
        {
            "n_chars_actual": n.cast("long"),
            "n_tokens": token_count(t).cast("long"),
            "alpha_ratio": safe(n_alpha),
            "digit_ratio": safe(n_digit),
            "space_ratio": safe(n_space),
            "punct_ratio": safe(n_punct),
            "stopword_ratio": F.round(
                F.when(n_tok > 0, stop / n_tok).otherwise(0.0), 9
            ),
            "mean_token_len": F.round(
                F.when(n_tok > 0, F.aggregate(toks, F.lit(0.0), lambda a, x: a + F.length(x)) / n_tok).otherwise(0.0),
                9,
            ),
        }
    )


def lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID heuristic: stopword-marker hit rate per language; predicted
    language = argmax (ties broken alphabetically)."""
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"[a-z]+"), 0)
    n_tok = F.greatest(F.size(toks).cast("double"), F.lit(1.0))
    out = df
    score_cols = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        c = f"score_{lang}"
        out = out.withColumn(
            c,
            F.round(F.size(F.filter(toks, lambda x: x.isin(*markers))) / n_tok, 9),
        )
        score_cols.append((lang, c))
    best = F.greatest(*[F.col(c) for _, c in score_cols])
    pred = F.lit(None).cast("string")
    for lang, c in reversed(score_cols):
        pred = F.when(F.col(c) == best, F.lit(lang)).otherwise(pred)
    return out.withColumn("lang_pred", pred)


def fingerprint(text: Column) -> Column:
    """Deterministic position-weighted rolling-hash document fingerprint:
    sum over chars of code(c_i) * (i+1) mod 1e9+7 — portable across engines
    (the same expression is SQL-expressible in DuckDB for the oracle)."""
    codes = F.transform(F.split(text, ""), lambda c: F.ascii(c).cast("long"))
    n = F.size(codes)
    # zip_with (single evaluation of `codes` per row), NOT
    # transform(sequence, i -> element_at(codes, i)) which re-evaluates the
    # array per element -> O(len^2)
    weighted = F.zip_with(
        codes, F.sequence(F.lit(1).cast("long"), n.cast("long")), lambda c, i: c * i
    )
    total = F.aggregate(weighted, F.lit(0).cast("long"), lambda a, x: a + x)
    # sequence(1, 0) would be descending, not empty — guard zero-length text
    return F.pmod(F.when(n > 0, total).otherwise(F.lit(0)), F.lit(1_000_000_007))
