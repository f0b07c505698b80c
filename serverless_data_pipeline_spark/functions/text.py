"""Text-analysis column expressions (charter extension X5).

Token counting, shingling, fingerprinting, and quality-scoring features as
built-in-function compositions — these run inside codegen on every executor,
so they scale to a 100 TB `documents` table as a single narrow pass.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small fixed stopword list (public, standard English function words). Kept
# deliberately tiny so the same list can be inlined into oracle SQL.
STOPWORDS = ("the", "a", "an", "of", "to", "in", "and", "is", "it", "for")


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (the fixtures are space-separated text).
    Empty strings are filtered so tokens('') == [] (split alone yields
    [''], which inflated token_count to 1 for empty text)."""
    return F.filter(F.split(F.trim(_c(col)), r"\s+"), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("long")


def bpe_ish_tokens(col: Column | str) -> Column:
    """BPE-flavoured pre-tokenization: letter runs, digit runs, and single
    punctuation marks, the way GPT-style pre-tokenizers segment text. A
    cheap deterministic proxy for a real tokenizer's token count."""
    return F.regexp_extract_all(
        _c(col), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), F.lit(0))


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """n-gram word shingles as an array of space-joined n-grams.

    NOTE for hot paths: this recomputes the token split inside the
    higher-order lambda (HOFs are interpreted, not codegen'd), which is
    O(tokens²) per row. Operators should materialize ``tokens()`` into a
    column once and use ``shingles_from_tokens`` instead."""
    toks = tokens(col)
    return F.filter(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
        lambda s: s != "",
    )


def shingles_from_tokens(tok_col: Column | str, n: int = 3) -> Column:
    """n-gram shingles over an ALREADY-MATERIALIZED token-array column.
    Built from n shifted slices zipped with concat — each slice evaluates
    once per row (vs once per shingle), ~3× faster than the naive
    transform at equal output. Shorter-than-n token lists degrade to one
    whole-text shingle, matching word_shingles."""
    toks = F.col(tok_col) if isinstance(tok_col, str) else tok_col
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    acc = F.slice(toks, 1, m)
    for k in range(2, n + 1):
        acc = F.zip_with(acc, F.slice(toks, k, m),
                         lambda a, b: F.concat_ws(" ", a, b))
    return F.filter(
        F.when(F.size(toks) < n, F.array(F.array_join(toks, " ")))
         .otherwise(acc),
        lambda s: s != "")


def fingerprint(col: Column | str) -> Column:
    """Canonical document fingerprint: md5 of case/whitespace-normalized
    text. md5 hex is identical across Spark and DuckDB, so exact-dup
    detection by fingerprint is oracle-checkable."""
    normalized = F.lower(F.regexp_replace(F.trim(_c(col)), r"\s+", " "))
    return F.md5(normalized)


def punct_ratio(col: Column | str) -> Column:
    """Fraction of non-space characters that are punctuation/symbols."""
    c = _c(col)
    nonspace = F.length(F.regexp_replace(c, r"\s", ""))
    punct = F.length(F.regexp_replace(c, r"[a-zA-Z0-9\s]", ""))
    return F.when(nonspace > 0, punct.cast("double") / nonspace.cast("double")).otherwise(F.lit(0.0))


def quality_signal_count(col: Column | str,
                         min_len: int = 20,
                         max_len: int = 100_000) -> Column:
    """Integer count (0-3) of passing quality signals — length-in-range,
    low punctuation, whitespace structure. The integer form exists so
    aggregates over quality (corpus_datasheet's mean) can accumulate
    EXACT integers: a double sum's last-ulp value depends on partition
    order, an integer sum never does."""
    c = _c(col)
    len_ok = F.when((F.length(c) >= min_len) & (F.length(c) <= max_len), 1).otherwise(0)
    punct_ok = F.when(punct_ratio(c) <= 0.3, 1).otherwise(0)
    struct_ok = F.when(token_count(c) >= 5, 1).otherwise(0)
    return (len_ok + punct_ok + struct_ok).cast("long")


def quality_score_expr(col: Column | str,
                       min_len: int = 20, max_len: int = 100_000) -> Column:
    """Heuristic document-quality score in [0,1]: mean of three signals —
    length-in-range, low punctuation, whitespace structure (has spaces).
    Mirrors the reference's quality-scoring stage contract (py:273-284):
    a numeric score later thresholded (py:413, 0.85 md:202)."""
    return (quality_signal_count(col, min_len, max_len).cast("double")
            / F.lit(3.0))
