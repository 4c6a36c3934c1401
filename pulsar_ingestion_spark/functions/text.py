"""Text-analysis column functions for the training-data pipeline surface.

All pure built-ins (split/filter/aggregate/regexp) — vectorized JVM
execution, no Python in the hot path.  At 100 TB these run as narrow maps
over the documents scan with full column pruning.  The n-gram kernel
(:func:`ngrams`, :func:`shingles`) is codegen-only: one regex extract, no
higher-order-function lambda.  Its regex consumes the separator before
each gram; a zero-width lookbehind form would step into the middle of
surrogate pairs (see :func:`ngrams`).

Case mapping: every ``F.lower``/``F.upper`` here (and in the queries)
is ``java.lang.String.toLowerCase``/``toUpperCase`` with
``Locale.ROOT``, because the session turns off
``spark.sql.icu.caseMappings.enabled`` (session.py).  That is JDK 17's
Unicode 13 case table, and the mapping of the reference's Kotlin
``uppercase()``.  ICU (Unicode 16) would map letters added in Unicode
14 and later (Glagolitic U+2C2F, Vithkuqi U+10570..., Latin U+A7C0)
that the JDK leaves unchanged; on older letters, including İ, final
sigma, ß and the ﬃ ligature, the two agree.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A small closed English stopword set — enough for ratio features; a real
# deployment would broadcast a fuller list.
STOPWORDS = ["the", "a", "an", "of", "and", "or", "to", "in", "is", "it"]

TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"  # BPE-ish word/number/punct split


def words(col: Column) -> Column:
    """Whitespace tokenization of trimmed text."""
    return F.split(F.trim(col), r"\s+")


def word_count(col: Column) -> Column:
    return F.size(words(col))


def token_count(col: Column) -> Column:
    """Regex token count (letters runs, digit runs, punct singletons)."""
    return F.regexp_count(col, F.lit(TOKEN_PATTERN))


def stopword_ratio(col: Column) -> Column:
    """Fraction of words that are stopwords — a quality-score feature."""
    w = words(col)
    stop = F.size(F.filter(w, lambda x: F.lower(x).isin(STOPWORDS)))
    return stop / F.size(w)


def quality_score_from_words(w: Column) -> Column:
    """:func:`quality_score` over a pre-split word array.  Splitting once
    and reusing the array matters: the higher-order-function lambdas
    (filter/aggregate) block Catalyst's common-subexpression elimination,
    so the naive form re-runs the regex split per feature — measurable on
    a 100 TB text scan where the split dominates the narrow stage."""
    wc = F.size(w).cast("double")
    len_band = F.when((wc >= 20) & (wc <= 1000), 1.0).when(wc >= 5, 0.5).otherwise(0.0)
    stop = F.size(F.filter(w, lambda x: F.lower(x).isin(STOPWORDS)))
    stop_band = F.when(stop / F.size(w) > 0.05, 1.0).otherwise(0.5)
    awl = F.aggregate(w, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)) / F.size(w)
    wl_band = F.when((awl >= 2.5) & (awl <= 10), 1.0).otherwise(0.5)
    return F.round((len_band + stop_band + wl_band) / 3.0, 4)


def quality_score(col: Column) -> Column:
    """Composite heuristic quality score in [0,1]: length band + stopword
    presence + word-length sanity.  Deterministic, SQL-expressible."""
    return quality_score_from_words(words(col))


def doc_fingerprint(col: Column) -> Column:
    """Canonical content fingerprint: md5 of the sorted distinct word set.
    Portable across engines (unlike hash()/xxhash64) and robust to word
    order — the cheap exact-near-dup key."""
    canon = F.array_join(F.array_sort(F.array_distinct(words(F.lower(col)))), " ")
    return F.md5(canon)


def ngrams(col: Column, n: int = 3) -> Column:
    """Word n-grams of lowercased text, in order and with repeats: one
    string per window of ``n`` :func:`words`, joined by single spaces;
    empty when the text has fewer than ``n`` words.

    Codegen-only.  ``s`` joins the ``\\s+`` tokens with single spaces (a
    token holds no space, though it may be empty), and each match of the
    pattern over ``" " || s`` consumes the one space before a token and
    captures the ``n`` tokens that start there.  The zero-width form
    ``(?<![^ ])(?=(...))`` is NOT equivalent: after an empty match the
    regex engine steps one UTF-16 unit forward, which can land inside a
    surrogate pair (emoji) and capture half a character.  An interpreted
    ``transform(sequence(...), slice)`` lambda gives the same grams at
    ~7x the cost per document."""
    s = F.array_join(words(F.lower(col)), " ")
    pattern = f" (?=((?:[^ ]* ){{{n - 1}}}[^ ]*))"
    return F.regexp_extract_all(F.concat(F.lit(" "), s), F.lit(pattern), 1)


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct), for Jaccard/MinHash dedup; text
    under ``n`` words is one shingle, the whole text."""
    w = words(F.lower(col))
    return F.when(F.size(w) >= n, F.array_distinct(ngrams(col, n))).otherwise(
        F.array(F.array_join(w, " "))
    )


def lines(col: Column) -> Column:
    """Line split (no trim — leading whitespace matters for bullet rules)."""
    return F.split(col, "\n")


def dup_word_frac(col: Column) -> Column:
    """Fraction of word occurrences that repeat an earlier word — the
    cheap intra-document repetition signal (Gopher-style rep filters)."""
    w = words(col)
    return 1.0 - F.size(F.array_distinct(w)) / F.size(w)


def alpha_word_frac(col: Column) -> Column:
    """Fraction of words containing at least one alphabetic character."""
    w = words(col)
    return F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]"))) / F.size(w)


def bullet_line_frac(col: Column) -> Column:
    """Fraction of lines that start with a bullet marker."""
    ls = lines(col)
    return F.size(F.filter(ls, lambda x: x.rlike(r"^\s*[-*•]"))) / F.size(ls)


def ellipsis_line_frac(col: Column) -> Column:
    """Fraction of lines that trail off in an ellipsis."""
    ls = lines(col)
    return F.size(F.filter(ls, lambda x: x.rlike(r"(\.\.\.|…)\s*$"))) / F.size(ls)


def dup_line_frac(col: Column) -> Column:
    """Fraction of lines that are exact repeats of an earlier line."""
    ls = lines(col)
    return 1.0 - F.size(F.array_distinct(ls)) / F.size(ls)
