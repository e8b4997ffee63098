"""Text analysis for large-scale training-data pipelines — pure Spark SQL.

All functions are built-in-expression compositions (JVM-side, whole-stage
codegen, no UDFs) so they run at full scan speed over 100 TB document tables:
language-ID (stopword n-gram heuristic), quality scoring (length / punctuation
/ stopword ratios), token counting (whitespace + BPE-ish regex), and document
fingerprinting (normalized-text and rolling prefix hashes).

These extend the engine beyond the reference's operator set (the reference is
time-series only) per the build brief; they are deterministic and DuckDB-
expressible so each gets an oracle entry in __spark_entry__.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny deterministic stopword marker sets per language (heuristic, not a
# model): counted as ' word ' substring hits over the padded lower text.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "a"),
    "de": ("der", "die", "und", "ist", "das"),
    "fr": ("le", "la", "et", "est", "les"),
    "es": ("el", "los", "es", "y", "una"),
}

PUNCT_CHARS = ".,!?;:"


def _padded_lower(col: Column) -> Column:
    return F.concat(F.lit(" "), F.lower(col), F.lit(" "))


def _count_occurrences(col: Column, needle: str) -> Column:
    """Occurrences of a literal substring via length arithmetic (codegen-able,
    identical semantics in DuckDB)."""
    n = len(needle)
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit("")))) / n
    ).cast("int")


def marker_hits(text: Column, lang: str) -> Column:
    padded = _padded_lower(text)
    total = F.lit(0)
    for w in LANG_MARKERS[lang]:
        total = total + _count_occurrences(padded, f" {w} ")
    return total


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Predict language by max marker hits (deterministic tie-break by lang
    code order; 'und' when zero hits everywhere)."""
    text = F.col(text_col)
    hit_cols = {lang: marker_hits(text, lang).alias(f"hits_{lang}") for lang in LANG_MARKERS}
    out = df.select("*", *hit_cols.values())
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in LANG_MARKERS])
    pred = F.when(best == 0, F.lit("und"))
    for lang in sorted(LANG_MARKERS):  # deterministic tie-break
        pred = pred.when(F.col(f"hits_{lang}") == best, F.lit(lang))
    return out.withColumn("pred_lang", pred)


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/blank text)."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/punct/stopword quality features + composite score in [0,1].

    Mirrors standard pretraining-corpus filters (C4/Gopher-style: length
    bounds, punctuation density, stopword presence) with exact closed-form
    SQL so the oracle can reproduce it bit-for-bit.
    """
    text = F.col(text_col)
    n_chars = F.length(text)
    n_tokens = token_count(text)
    punct = F.length(text) - F.length(F.translate(text, PUNCT_CHARS, ""))
    stop_hits = marker_hits(text, "en")
    punct_ratio = F.when(n_chars > 0, punct.cast("double") / n_chars).otherwise(0.0)
    stop_ratio = F.when(n_tokens > 0, stop_hits.cast("double") / n_tokens).otherwise(0.0)
    mean_tok_len = F.when(n_tokens > 0, n_chars.cast("double") / n_tokens).otherwise(0.0)
    score = (
        F.when((n_tokens >= 10) & (n_tokens <= 100000), F.lit(0.4)).otherwise(0.0)
        + F.when((mean_tok_len >= 3) & (mean_tok_len <= 12), F.lit(0.3)).otherwise(0.0)
        + F.when(punct_ratio <= 0.1, F.lit(0.15)).otherwise(0.0)
        + F.when(stop_ratio >= 0.01, F.lit(0.15)).otherwise(0.0)
    )
    return df.select(
        "*",
        n_tokens.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stop_ratio"),
        mean_tok_len.alias("mean_tok_len"),
        score.alias("quality_score"),
    )


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lower, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact-dup fingerprint (md5 of normalized text) + 64-char prefix
    fingerprint (cheap near-dup blocking key)."""
    norm = normalize_text(F.col(text_col))
    return df.select(
        "*",
        F.md5(norm).alias("fp_full"),
        F.md5(F.substring(norm, 1, 64)).alias("fp_prefix64"),
    )
