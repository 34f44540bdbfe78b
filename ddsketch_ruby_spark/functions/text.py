"""Column-level text analysis for web-scale corpora — all JVM-side
expressions (whole-stage codegen; zero Python in the hot path).

Each helper returns a Column usable in select/agg; the formulas are pure
arithmetic over built-in functions so a SQL oracle can reproduce them
exactly (see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "token_count",
    "avg_token_len",
    "bpe_token_estimate",
    "stopword_ratio",
    "digit_ratio",
    "quality_score",
    "lang_id",
    "doc_fingerprint",
    "normalize_text",
    "repetition_ratio",
    "BPE_SPLIT_PATTERN",
]


def token_count(c: str) -> Column:
    """Single-space token model: tokens = spaces + 1 on trimmed text.
    Chosen over a regex split because any SQL dialect expresses it
    identically, so the oracle reproduces it bit for bit."""
    t = F.trim(F.col(c))
    return (
        F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) + F.lit(1)
    ).alias("token_count")


def avg_token_len(c: str) -> Column:
    t = F.trim(F.col(c))
    n_spaces = F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit("")))
    return ((F.length(t) - n_spaces) / (n_spaces + F.lit(1))).alias(
        "avg_token_len"
    )


# GPT-style pre-tokenizer granularity: letter runs, SINGLE digits (the
# modern digit-splitting convention), single punctuation/other marks;
# ASCII whitespace delimits and is never a token. The alternatives match
# disjoint character classes, so leftmost-first (Java) and RE2 (DuckDB)
# count identically; backslash escapes are interpreted at the REGEX
# level in both engines, so the same pattern string is portable.
BPE_SPLIT_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\r\\n]"


def bpe_token_estimate(c: str) -> Column:
    """Vocabulary-free upper-bound estimate of a BPE tokenizer's token
    count: every BPE merge only ever reduces the pre-tokenized piece
    count, so counting pre-tokenizer pieces (letter runs / single digits
    / single marks) bounds and tracks the true token count without
    shipping a vocabulary to executors. Stays JVM-side (regexp_count,
    whole-stage codegen); exact SQL twin in the driver oracle."""
    return F.regexp_count(F.col(c), F.lit(BPE_SPLIT_PATTERN)).alias(
        "bpe_tokens"
    )


def _occurrences(c: Column, needle: str) -> Column:
    return (F.length(c) - F.length(F.replace(c, F.lit(needle), F.lit("")))) / len(
        needle
    )


def stopword_ratio(c: str, stopwords: tuple[str, ...] = ("the", "a", "of", "and")) -> Column:
    """Fraction of tokens that are common English stopwords — padded-text
    occurrence counting so word boundaries are exact."""
    padded = F.concat(F.lit(" "), F.trim(F.col(c)), F.lit(" "))
    hits = None
    for w in stopwords:
        occ = _occurrences(padded, f" {w} ")
        hits = occ if hits is None else hits + occ
    t = F.trim(F.col(c))
    tokens = F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) + F.lit(1)
    return (hits / tokens).alias("stopword_ratio")


def digit_ratio(c: str) -> Column:
    x = F.col(c)
    return (
        (F.length(x) - F.length(F.regexp_replace(x, "[0-9]", ""))) / F.length(x)
    ).alias("digit_ratio")


def quality_score(c: str) -> Column:
    """Heuristic document quality in [0,1]: rewards mid-length docs and
    normal token lengths, penalizes digit soup. Deterministic arithmetic."""
    t = F.trim(F.col(c))
    length = F.length(t)
    n_spaces = F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit("")))
    tokens = n_spaces + F.lit(1)
    atl = (length - n_spaces) / tokens
    len_score = F.least(length / F.lit(500.0), F.lit(1.0))
    atl_score = F.lit(1.0) - F.least(F.abs(atl - F.lit(5.0)) / F.lit(10.0), F.lit(1.0))
    dr = (length - F.length(F.regexp_replace(t, "[0-9]", ""))) / length
    return (
        (len_score * F.lit(0.4) + atl_score * F.lit(0.4) + (F.lit(1.0) - dr) * F.lit(0.2))
    ).alias("quality_score")


_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    # stopword markers per language (classic heuristic language ID).
    # ASCII-only by design: occurrence counting is exact character
    # arithmetic reproduced verbatim in the SQL oracle, so markers avoid
    # diacritics rather than risking cross-engine length semantics.
    # Overlapping tokens across languages are fine — each language sums
    # its own marker occurrences independently and the argmax decides.
    "en": ("the", "and", "of", "is"),
    "de": ("der", "und", "das", "ist"),
    "fr": ("le", "et", "les", "est"),
    "es": ("el", "los", "es", "una"),
    "it": ("il", "che", "della", "per"),
    "pt": ("uma", "para", "com", "mais"),
    "nl": ("het", "een", "van", "niet"),
    "sv": ("och", "att", "som", "det"),
    "pl": ("jest", "nie", "oraz", "przez"),
    "tr": ("bir", "ve", "bu", "olarak"),
    "id": ("yang", "dan", "di", "untuk"),
    "ro": ("este", "din", "pentru", "sunt"),
}


def lang_id(c: str) -> Column:
    """Stopword-marker language guess over 12 Latin-script languages;
    'und' (undetermined) when no marker hits. Deterministic (ties break
    to the alphabetically-first language) and SQL-reproducible — the
    oracle CASE chain is GENERATED from this same table
    (__spark_entry__._langid_oracle), so widening the table widens the
    gate with it."""
    padded = F.concat(F.lit(" "), F.lower(F.trim(F.col(c))), F.lit(" "))
    langs = sorted(_LANG_MARKERS)
    scores = [
        sum(
            (_occurrences(padded, f" {w} ") for w in _LANG_MARKERS[lang][1:]),
            _occurrences(padded, f" {_LANG_MARKERS[lang][0]} "),
        )
        for lang in langs
    ]
    # argmax via array_position(array_max): ties resolve to the FIRST
    # (alphabetically-first) language, matching the oracle's CASE chain.
    # Each score expression appears exactly once in the array — a chained
    # per-language when() would re-inline every earlier score into each
    # later branch, exploding the expression tree exponentially in the
    # language count (observed: 12 languages broke codegen).
    arr = F.array(*scores)
    mx = F.array_max(arr)
    pred = F.element_at(
        F.array(*[F.lit(lg) for lg in langs]),
        F.array_position(arr, mx).cast("int"),
    )
    return F.when(mx <= 0.0, F.lit("und")).otherwise(pred).alias("lang_pred")


def doc_fingerprint(c: str) -> Column:
    """64-bit content fingerprint (xxhash64 of the raw text) — the
    byte-identity pin for extracted text per url (north rule)."""
    return F.xxhash64(F.col(c)).alias("fingerprint")


def normalize_text(c: str | Column, strip_punct: bool = False) -> Column:
    """Canonical text normalization for dedup/fingerprint pipelines:
    lowercase, collapse runs of [space, tab, CR, LF] to single spaces,
    trim. With ``strip_punct``, additionally drop every char outside
    [a-z0-9 ] (AFTER lowercasing; adjacent survivors are NOT re-joined —
    punctuation becomes word boundaries via the whitespace pass, so
    "don't" -> "don t", matching the alnum-run tokenizer of
    bpe_token_estimate). Pure JVM expressions.

    The whitespace class is the EXPLICIT [ \\t\\r\\n] (never regex \\s:
    Java's \\s includes vertical tab and form feed, RE2's does not — an
    implicit class would silently diverge between engines)."""
    col = F.col(c) if isinstance(c, str) else c
    out = F.lower(col)
    if strip_punct:
        out = F.regexp_replace(out, "[^a-z0-9 \t\r\n]", " ")
    out = F.regexp_replace(out, "[ \t\r\n]+", " ")
    return F.trim(out).alias("norm_text")


def repetition_ratio(c: str | Column, n: int = 2) -> Column:
    """Within-document repetition: the fraction of word ``n``-grams that
    are repeats of an earlier occurrence, 1 - distinct/total (0.0 for
    docs shorter than n words). The Gopher-style repetition filter
    signal (Rae et al. 2021 §A1.1 use duplicate 2-/3-/4-gram fractions
    to drop boilerplate-heavy pages). Pure JVM array expressions over
    operators/dedup.py word_ngrams; one exact double division."""
    from ..operators.dedup import word_ngrams

    grams = word_ngrams(c, n)
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return F.when(
        total > 0,
        F.lit(1.0) - distinct.cast("double") / total.cast("double"),
    ).otherwise(F.lit(0.0)).alias(f"rep_{n}")
