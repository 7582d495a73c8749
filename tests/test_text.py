"""Unit tests of the expression-level text functions against the
reference's hand-computed goldens (EntityResolutionTest.scala:54-127) --
engine-independent math."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkbigdatatextanalysis_spark.functions.text import (
    ENGLISH_STOPWORDS,
    _no_stopwords_sql,
    term_frequencies_map,
    tokenize,
    tokenize_no_stopwords,
)


def _tokens(spark, s: str, stop=False, stopwords=None) -> list[str]:
    expr = tokenize_no_stopwords("s", stopwords) if stop else tokenize("s")
    return spark.createDataFrame([(s,)], "s string").select(expr.alias("t")).first()["t"]


def test_tokenize_empty(spark):
    assert _tokens(spark, "") == []


def test_tokenize_basic(spark):
    r = _tokens(spark, "This 88 is! a,Test! The result !!!should be: 8 Words")
    assert len(r) == 11
    assert sorted(r) == ["8", "88", "a", "be", "is", "result", "should", "test", "the", "this", "words"]


def test_tokenize_sentence(spark):
    r = _tokens(spark, "This is another test. It contains a lot of words which are also in string 1.")
    assert len(r) == 16
    assert sorted(r) == ["1", "a", "also", "another", "are", "contains", "in", "is", "it", "lot", "of", "string", "test", "this", "which", "words"]


def test_tokenize_underscore_is_word_char(spark):
    r = _tokens(spark, "!!123A!/456_B_12/987C.123d")
    assert len(r) == 4
    assert sorted(r) == ["123a", "123d", "456_b_12", "987c"]


def test_tokenize_stopwords(spark):
    r = _tokens(spark, "Being at the top of the pops!", stop=True)
    assert len(r) == 2
    assert sorted(r) == ["pops", "top"]


def test_stopword_count():
    assert len(ENGLISH_STOPWORDS) == 127


def test_stopword_filter_preserves_duplicates(spark):
    r = _tokens(spark, "spark the spark a spark", stop=True)
    assert r == ["spark", "spark", "spark"]


def test_tokenize_quote_backslash_non_ascii(spark):
    # \W splits on the quote and the backslash; Java's \w is ASCII-only,
    # so non-ASCII letters split words too, exactly as before
    r = _tokens(spark, "O'Brien's back\\slash naïve SELECT 東京", stop=True)
    assert r == ["o", "brien", "back", "slash", "na", "ve", "select"]


def test_custom_stopwords_are_literals_not_sql(spark):
    """Custom stopwords holding a quote, a backslash, non-ASCII text or
    a SQL keyword filter exactly those tokens: each word is a literal,
    never SQL text."""
    stop = ["it's", "a\\b", "naïve", "select", "') OR TRUE --"]
    expr = F.expr(_no_stopwords_sql("t", stop))
    toks = ["it's", "a\\b", "naïve", "select", "') OR TRUE --", "from", "it", "s", "naive"]
    got = spark.createDataFrame([(toks,)], "t array<string>").select(expr.alias("t")).first()["t"]
    assert got == ["from", "it", "s", "naive"]
    assert _tokens(spark, "Select the FROM where", stop=True, stopwords=["select", "where"]) == ["the", "from"]
    assert _tokens(spark, "keep every word", stop=True, stopwords=[]) == ["keep", "every", "word"]


def test_term_frequencies(spark):
    row = (
        spark.range(1)
        .select(term_frequencies_map(tokenize("'This is test Test and this is another test test.'")).alias("tf"))
        .first()["tf"]
    )
    assert row == pytest.approx(
        {"test": 0.4, "this": 0.2, "is": 0.2, "another": 0.1, "and": 0.1}
    )
