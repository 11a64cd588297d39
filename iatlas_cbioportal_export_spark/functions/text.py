"""Text-analysis column functions for training-data pipelines.

All built-in ``pyspark.sql.functions`` expressions (JVM-side, codegen'd) —
no Python in the hot path. These back the §7-extension operators: language
ID, quality scoring, token counting, document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword seed sets for the n-gram/stopword language-ID
# heuristic. Deliberately small: the operator contract is "deterministic,
# cheap, JVM-side vote", not linguistic completeness.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "pas", "un", "une", "pour", "dans"],
    "es": ["el", "la", "los", "y", "es", "no", "un", "una", "por", "para"],
}


def tokens(c: Column | str) -> Column:
    """Whitespace tokenization with empty tokens removed.

    ``split`` on ``\\s+`` leaves a leading empty string when the text starts
    with whitespace — filter them so counts match intuition (and the DuckDB
    oracle's ``list_filter(regexp_split_to_array(...))``).
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.filter(F.split(col, r"\s+"), lambda t: t != F.lit(""))


def tokens_sql(col_sql: str) -> str:
    """SQL-string twin of :func:`tokens` for ``selectExpr``-rendered hot
    builders (r10 guide §1 driver fixed costs): one JVM parse instead of a
    py4j round trip per Column operator. ``col_sql`` is a rendered SQL
    expression (backtick-quote raw column names at the call site). The
    string literal ``'\\\\s+'`` parses to the same ``\\s+`` regex and the
    lambda body matches :func:`tokens` exactly, so the expression tree —
    and every token — is identical."""
    return f"filter(split({col_sql}, '\\\\s+'), t -> t != '')"


def token_count(c: Column | str) -> Column:
    """Whitespace token count (size of :func:`tokens`)."""
    return F.size(tokens(c))


def bpe_ish_token_count(c: Column | str) -> Column:
    """A BPE-ish token-count estimate: count word pieces + digits + punctuation
    runs via regexp. Useful as a fast budget estimator when no real tokenizer
    is shippable cluster-side."""
    col = F.col(c) if isinstance(c, str) else c
    return F.size(
        F.filter(
            F.regexp_extract_all(col, F.lit(r"([A-Za-z]{1,6}|[0-9]|[^A-Za-z0-9\s])"), 1),
            lambda t: t != F.lit(""),
        )
    )


def word_ngrams_of_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram (shingle) array from an ALREADY-MATERIALIZED token array
    column — ``transform`` over indices + ``slice``, pure JVM expressions.

    Callers must bind the token array in a separate projection first
    (``df.select(tokens(c).alias("__toks")).select(word_ngrams_of_tokens(...))``):
    inlining ``tokens(c)`` here would re-evaluate the split+filter once PER
    SHINGLE INDEX inside the lambda — O(tokens²) per document, measured 5.8×
    slower at sf0.1. CollapseProject keeps the two-projection form as two
    steps because the token array is referenced more than once and is not
    cheap. Documents shorter than ``n`` tokens yield their whole token
    sequence as one shingle.
    """
    n_sh = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n_sh),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )


def punct_ratio(c: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/whitespace."""
    col = F.col(c) if isinstance(c, str) else c
    n_punct = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", ""))
    return F.when(F.length(col) > 0, n_punct / F.length(col)).otherwise(F.lit(0.0))


def stopword_hits_of_tokens(toks: Column, lang: str) -> Column:
    """Stopword-hit count from a materialized token array (see
    ``word_ngrams_of_tokens`` for why hot paths pre-bind the array)."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))


# Polynomial rolling-hash parameters. 31 is the classic Horner base; the
# modulus keeps every intermediate < 2^62 so bigint arithmetic is exact and
# portable (identical in Spark and the DuckDB oracle).
_FP_BASE = 31
_FP_MOD = 1_000_000_007


def rolling_fingerprint(c: Column | str) -> Column:
    """Document fingerprint: Horner polynomial hash of the character codes,
    mod 1e9+7 — a deterministic 31-bit fingerprint computable identically in
    any engine with a left-fold (exactness is what makes it oracle-checkable).

    fold(chars, acc=0): acc = (acc * 31 + ascii(ch)) % (1e9+7)
    """
    col = F.col(c) if isinstance(c, str) else c
    chars = F.split(col, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * F.lit(_FP_BASE) + F.ascii(ch)) % F.lit(_FP_MOD),
    )
