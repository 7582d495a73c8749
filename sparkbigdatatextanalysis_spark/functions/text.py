"""Expression-level text functions (all JVM-side, whole-stage-codegen'd;
no Python UDFs anywhere on this path).

Semantics match the reference tokenizer (Utils.scala:75-79,
EntityResolution.scala:285-295): lowercase, split on ``\\W+`` (so ``_`` is
a word character and stays inside tokens), drop empty strings, and --
when removing stopwords -- preserve order and duplicates (``array_except``
would dedup, which is wrong for TF).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .sql import sql_str

# Standard English stopword set (127 words), matching the reference's
# stopwords.txt fixture so TF/IDF goldens carry over. Order irrelevant.
ENGLISH_STOPWORDS: list[str] = sorted(
    """
    a about above after again against all am an and any are as at be because
    been before being below between both but by can did do does doing don down
    during each few for from further had has have having he her here hers
    herself him himself his how i if in into is it its itself just me more
    most my myself no nor not now of off on once only or other our ours
    ourselves out over own s same she should so some such t than that the
    their theirs them themselves then there these they this those through to
    too under until up very was we were what when where which while who whom
    why will with you your yours yourself yourselves
    """.split()
)

TOKEN_SPLIT_PATTERN = r"\W+"


def _tokens_sql(col: str) -> str:
    return f"filter(split(lower({col}), {sql_str(TOKEN_SPLIT_PATTERN)}), x -> x != '')"


def _no_stopwords_sql(tokens: str, stopwords: list[str] | None) -> str:
    stop = stopwords if stopwords is not None else ENGLISH_STOPWORDS
    if not stop:
        return tokens
    return f"filter({tokens}, t -> NOT t IN ({', '.join(map(sql_str, stop))}))"


# The two tokenizer functions take ``col`` as SQL text -- a column
# name, or any STRING / ARRAY<STRING> expression -- and each returns one
# ``F.expr``. Assembled literal by literal through the Column API, the
# 127-word stopword list alone costs about 500 py4j round trips.


def tokenize(col: str) -> Column:
    """lower -> split ``\\W+`` -> drop empties. Returns ARRAY<STRING>."""
    return F.expr(_tokens_sql(col))


def tokenize_no_stopwords(col: str, stopwords: list[str] | None = None) -> Column:
    """:func:`tokenize`, then an order- and duplicate-preserving
    stopword filter. The word list is an ``IN`` list, which the
    optimizer turns into a hashed set lookup (``INSET``); each word is
    hex-encoded (:func:`sql_str`)."""
    return F.expr(_no_stopwords_sql(_tokens_sql(col), stopwords))


def term_frequencies_map(tokens: Column) -> Column:
    """Relative term frequency as MAP<STRING,DOUBLE> computed inside one
    row via higher-order functions (no explode/shuffle): count(t)/len.

    Matches reference getTermFrequencies (EntityResolution.scala:297-315).
    The relational (exploded) form lives in operators.tfidf and is the
    canonical one; this map form is the per-row convenience used by the
    two-string document-similarity function.
    """
    return F.map_from_arrays(
        F.array_distinct(tokens),
        F.transform(
            F.array_distinct(tokens),
            lambda t: F.size(F.filter(tokens, lambda x: x == t))
            / F.size(tokens).cast("double"),
        ),
    )
