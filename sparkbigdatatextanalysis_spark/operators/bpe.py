"""Distributed BPE (byte-pair-encoding) vocabulary induction.

The tokenizer-training step of an LLM data pipeline: learn merge rules
from corpus statistics. The key scale property is that BPE never needs
the corpus after one counting pass -- it operates on the WORD-COUNT
table (one row per distinct word, weighted by frequency), which is
vocabulary-sized: a 100 TB corpus collapses to millions of rows at the
first partial aggregation, small enough for the driver.

:func:`bpe_learn_local` runs ONE corpus-counting Spark pass, then the
merge loop driver-side over the vocabulary-sized word table with
incremental pair-count maintenance (max count, ties lexicographic on
(left, right); greedy left-to-right application): 30k merges ~= 1 Spark
job. :func:`bpe_segment` replays the learned rules in-row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.lineage import job_description

# SentencePiece-style escape for marker characters that occur INSIDE
# corpus words: without it an interior U+2581 is indistinguishable from
# a word boundary (learned rules would cross into it; decode-by-
# replacing-the-marker would strip real content). Words containing the
# literal escape string itself are a documented non-goal (match
# SentencePiece, which has the same caveat for its <0x..> forms).
MARKER_ESCAPE = "<0x2581>"

def _chars(s: Column) -> Column:
    """Per-CODEPOINT character array. Deliberately not a regex split:
    Spark's regex path runs over UTF-16, where a lookahead split lands
    between surrogate halves and destroys every supplementary-plane
    character (emoji, CJK extensions) into invalid fragments.
    ``length``/``substring`` run on UTF8String characters, i.e. whole
    codepoints. The explicit empty guard matters because sequence(1, 0)
    would generate a DESCENDING range, not an empty one."""
    return F.when(
        F.length(s) > 0,
        F.transform(
            F.sequence(F.lit(1), F.length(s)),
            lambda i: F.substring(s, i, F.lit(1)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _to_symbols(word: Column, marker: str) -> Column:
    """marker + per-character (codepoint-safe) symbols of ``word``, with
    pre-existing marker characters escaped. One definition shared by
    learn and segment so the symbol alphabet cannot diverge."""
    escaped = F.replace(word, F.lit(marker), F.lit(MARKER_ESCAPE))
    return F.concat(F.array(F.lit(marker)), _chars(escaped))


def words_to_symbols(tok_df: DataFrame, marker: str = "▁") -> DataFrame:
    """(word, n_occurrences, symbols) from a tokenized corpus
    (id, tokens): ONE corpus pass -- the count groupBy -- then a map-only
    split of each distinct word into characters, with ``marker``
    (SentencePiece-style) prepended so merges cannot cross word
    boundaries when vocab entries are later re-applied. NULL and empty
    tokens are dropped (they carry no pairs and would otherwise pollute
    the vocabulary with a bare-marker entry)."""
    words = (
        tok_df.select(F.explode("tokens").alias("word"))
        .where(F.col("word").isNotNull() & (F.col("word") != ""))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    return words.select(
        "word", "n_occ", _to_symbols(F.col("word"), marker).alias("symbols")
    )


def _apply_merge(symbols: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of adjacent (left, right) into one
    symbol, as a pure expression fold: walk the array, and when the
    accumulated tail is `left` and the next element is `right`, replace
    the tail with the concatenation."""
    merged = F.lit(left + right)
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(merged),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


VOCAB_SCHEMA = "word STRING, n_occ BIGINT, symbols ARRAY<STRING>"


def _merge_word(syms: list, left: str, right: str) -> list:
    """One greedy left-to-right application of merge rule (left, right)
    to a symbol list -- the Python twin of the :func:`_apply_merge`
    expression fold."""
    out, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def bpe_learn_local(
    tok_df: DataFrame,
    n_merges: int,
    min_pair_count: int = 2,
    marker: str = "▁",
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn BPE merges with ONE distributed pass, then a driver-side
    merge loop -- the shape production tokenizer trainers actually use.

    The only corpus-sized work is the word-count aggregation
    (:func:`words_to_symbols`); its output is VOCABULARY-sized (one row
    per distinct word -- a few million rows for a 100 TB corpus, tens of
    MB), so it is collected and the merge loop runs locally with
    incremental pair-count maintenance: per merge, only the words
    containing the merged pair are touched (inverted pair -> word index),
    the classic subword-nmt optimization. 30k merges cost ~1 Spark job
    total instead of one-plus per round; semantics are identical to the
    textbook reference (same (count desc, left, right) tie-break),
    property-tested.

    Returns (merges, vocab): ``merges`` is the ordered rule list
    [(left, right), ...]; ``vocab`` the final (word, n_occ, symbols)
    DataFrame, parallelized straight from the driver-side result
    (vocabulary-sized; no second corpus pass). Stops early when no pair
    reaches ``min_pair_count``.
    """
    from collections import Counter, defaultdict

    base = words_to_symbols(tok_df, marker)
    with job_description(tok_df, "bpe_learn_local: word counts"):
        rows = base.select("word", "n_occ", "symbols").collect()
    words = [list(r["symbols"]) for r in rows]
    counts = [int(r["n_occ"]) for r in rows]

    pair_counts: Counter = Counter()
    index: defaultdict = defaultdict(set)
    for wi, (syms, c) in enumerate(zip(words, counts)):
        for p in zip(syms, syms[1:]):
            pair_counts[p] += c
            index[p].add(wi)

    # the >= floor also hides stale zero/negative entries left by the
    # incremental updates, so no per-merge pruning pass is needed
    floor = max(min_pair_count, 1)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best = min(
            ((p, n) for p, n in pair_counts.items() if n >= floor),
            key=lambda kv: (-kv[1], kv[0]),
            default=None,
        )
        if best is None:
            break
        (left, right), _ = best
        merges.append((left, right))
        for wi in list(index[(left, right)]):
            syms, c = words[wi], counts[wi]
            for p in zip(syms, syms[1:]):
                pair_counts[p] -= c
                index[p].discard(wi)
            out = _merge_word(syms, left, right)
            words[wi] = out
            for p in zip(out, out[1:]):
                pair_counts[p] += c
                index[p].add(wi)
    # The final vocab was just computed driver-side -- ship it back as a
    # DataFrame directly instead of replaying the merges over a second
    # full corpus aggregation (the un-persisted `base` lineage would
    # re-run the explode+groupBy on first action, doubling the
    # one-corpus-pass cost this function exists to avoid).
    spark = tok_df.sparkSession
    vocab = spark.createDataFrame(
        [
            (r["word"], c, syms)
            for r, c, syms in zip(rows, counts, words)
        ],
        VOCAB_SCHEMA,
    )
    return merges, vocab


def bpe_segment(
    tok_df: DataFrame, merges: list[tuple[str, str]], marker: str = "▁"
) -> DataFrame:
    """Apply learned merge rules to a corpus: (id, tokens) ->
    (id, pieces ARRAY<STRING>) where each word is segmented by replaying
    the rules in learned order. Entirely IN-ROW (transform over the
    token array, merges folded per word) -- map-only, order-preserving,
    zero shuffles: at 100 TB this is a scan-speed projection like
    tokenization itself.

    The rule list rides in the plan as nested expressions, so plan depth
    grows with ``len(merges)`` -- fine for the moderate rule counts this
    expression path targets (the driver contract replays 8);
    tokenizer-size lists of tens of thousands of rules are out of its
    range.

    NULL and empty tokens are skipped (a single NULL element would
    otherwise null out flatten() and silently drop the whole document's
    pieces; an empty token would fabricate a bare-marker word boundary).
    """

    def seg(t: Column) -> Column:
        symbols = _to_symbols(t, marker)
        for left, right in merges:
            symbols = _apply_merge(symbols, left, right)
        return symbols

    clean = F.filter(
        F.col("tokens"), lambda x: x.isNotNull() & (x != F.lit(""))
    )
    return tok_df.select(
        "id", F.flatten(F.transform(clean, seg)).alias("pieces")
    )

