"""The codegen n-gram kernel (functions/text.py ``ngrams``/``shingles``)
against the interpreted ``transform(sequence, slice)`` formula it replaced,
kept here as the reference.

Hypothesis draws batches of texts from an alphabet that mixes ASCII words,
every ``\\s`` separator (so tokens can be empty at the edges), NBSP and em
space (not ``\\s``), characters whose lowercase changes length, CJK,
astral-plane emoji (surrogate pairs) and regex metacharacters, plus NULL,
empty and whitespace-only texts.  Each batch is one Spark job over n = 1..8.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pulsar_ingestion_spark.functions.text import ngrams, shingles, words

NS = range(1, 9)
PIECES = [
    "a", "b", "ab", "the", "xyz", "7", " ", " ", "  ", "\t", "\n", "\r",
    "\x0b", "\f", "\xa0", " ", "İ", "日", "😀", "😀😀", ".", "*", "+",
    "?", "(", ")", "[", "]", "{", "}", "|", "\\", "^", "$",
]
TEXT = st.one_of(
    st.none(),
    st.sampled_from(["", " ", "   ", "\t", " \n\t\x0b\f\r "]),
    st.lists(st.sampled_from(PIECES), max_size=24).map("".join),
)


def _ref_ngrams(col, n):
    """The interpreted formula; NULL for NULL text, empty under n words."""
    w = words(F.lower(col))
    idx = F.sequence(F.lit(0), F.size(w) - n)
    gram = lambda i: F.array_join(F.slice(w, i + 1, n), " ")  # noqa: E731
    return F.when(F.size(w) >= n, F.transform(idx, gram)).when(
        w.isNotNull(), F.array().cast("array<string>")
    )


def _ref_shingles(col, n):
    w = words(F.lower(col))
    return F.when(F.size(w) >= n, F.array_distinct(_ref_ngrams(col, n))).otherwise(
        F.array(F.array_join(w, " "))
    )


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(texts=st.lists(TEXT, min_size=1, max_size=120))
def test_ngrams_and_shingles_match_interpreted_formula(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    t = F.col("t")
    cols = []
    for n in NS:
        cols += [ngrams(t, n).alias(f"g{n}"), _ref_ngrams(t, n).alias(f"rg{n}"),
                 shingles(t, n).alias(f"s{n}"), _ref_shingles(t, n).alias(f"rs{n}")]
    for r in df.select("i", *cols).collect():
        for n in NS:
            text = texts[r["i"]]
            assert r[f"g{n}"] == r[f"rg{n}"], (n, text)
            assert r[f"s{n}"] == r[f"rs{n}"], (n, text)
