"""BPE (operators/bpe.py) vs a straight-line Python reference
implementation of the classic algorithm."""

from __future__ import annotations

from collections import Counter

import pytest

from sparkbigdatatextanalysis_spark.operators import bpe

MARKER = "▁"


# ---------------------------------------------------------------------------
# Python reference (textbook BPE on word counts)
# ---------------------------------------------------------------------------


def _ref_bpe(word_counts: dict[str, int], n_merges: int, min_count: int = 2):
    vocab = {w: [MARKER] + list(w) for w in word_counts}
    merges = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += word_counts[w]
        if not pairs:
            break
        # max count, ties lexicographic on (left, right)
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_count:
            break
        (left, right), _ = best
        merges.append((left, right))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


WORDS = (
    ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3 + ["new"] * 2
)


@pytest.fixture(scope="module")
def tok_df(spark):
    # one doc per word occurrence keeps counts explicit
    return spark.createDataFrame(
        [(i, [w]) for i, w in enumerate(WORDS)], "id LONG, tokens ARRAY<STRING>"
    )


def test_bpe_segment_order_preserving(spark, tok_df):
    merges, vocab = bpe.bpe_learn_local(tok_df, n_merges=8)
    _, ref_vocab = _ref_bpe(Counter(WORDS), 8)
    doc = spark.createDataFrame(
        [(0, ["newest", "low", "newest"])], "id LONG, tokens ARRAY<STRING>"
    )
    rows = bpe.bpe_segment(doc, merges).collect()
    assert len(rows) == 1
    expect = ref_vocab["newest"] + ref_vocab["low"] + ref_vocab["newest"]
    assert list(rows[0]["pieces"]) == expect


def test_bpe_segment_unseen_word_falls_back_to_chars(spark, tok_df):
    merges, _ = bpe.bpe_learn_local(tok_df, n_merges=4)
    doc = spark.createDataFrame([(0, ["zzq"])], "id LONG, tokens ARRAY<STRING>")
    rows = bpe.bpe_segment(doc, merges).collect()
    # no rule matches: marker + raw characters (any learned rule that
    # happens to apply would only merge, never drop content)
    assert "".join(rows[0]["pieces"]) == MARKER + "zzq"


def test_bpe_on_synthetic_corpus(spark):
    """Integration: learn a few merges on the real documents table and
    segment a slice -- exercises the corpus-pass + vocab-table loop shape
    end to end."""
    import __spark_entry__ as entry_mod

    tok = entry_mod._tok(spark, "/root/testdata/sf0.001")
    merges, vocab = bpe.bpe_learn_local(tok, n_merges=5)
    assert len(merges) == 5  # word-soup corpus has abundant repeated pairs
    # every learned rule merges symbols that exist in the final vocab story
    seg = bpe.bpe_segment(tok.limit(20), merges).collect()
    assert len(seg) == 20
    for r in seg:
        assert len(r["pieces"]) > 0
        # reconstruction: dropping markers reproduces the concatenated words
        joined = "".join(r["pieces"]).replace(MARKER, "")
        assert len(joined) > 0


def test_bpe_non_bmp_characters_survive(spark):
    """Supplementary-plane characters (emoji) must split as whole
    codepoints, not UTF-16 surrogate halves (regression: (?!^) split
    destroyed them into '?' pairs)."""
    word = "a\U0001F600b"
    df = spark.createDataFrame([(0, [word] * 3)], "id LONG, tokens ARRAY<STRING>")
    vocab = bpe.words_to_symbols(df)
    syms = list(vocab.collect()[0]["symbols"])
    assert syms == [MARKER, "a", "\U0001F600", "b"]
    rows = bpe.bpe_segment(df, merges=[]).collect()
    assert "".join(rows[0]["pieces"]).replace(MARKER, "") == word * 3


def test_bpe_marker_in_word_is_escaped(spark):
    """A literal marker character inside a corpus word must not read as
    a word boundary (SentencePiece-style escape)."""
    df = spark.createDataFrame([(0, ["x▁y"])], "id LONG, tokens ARRAY<STRING>")
    syms = list(bpe.words_to_symbols(df).collect()[0]["symbols"])
    assert syms[0] == MARKER
    assert MARKER not in syms[1:]
    assert bpe.MARKER_ESCAPE in "".join(syms[1:])


def test_bpe_segment_skips_null_and_empty_tokens(spark):
    """One NULL token must not null the whole document (flatten over a
    null inner array), and empty tokens must not emit bare markers."""
    df = spark.createDataFrame(
        [(0, ["ab", None, "", "cd"])], "id LONG, tokens ARRAY<STRING>"
    )
    rows = bpe.bpe_segment(df, merges=[]).collect()
    assert list(rows[0]["pieces"]) == [MARKER, "a", "b", MARKER, "c", "d"]


def test_bpe_segment_paths_agree_on_null_tokens_array(spark, tok_df):
    """A NULL tokens ARRAY yields pieces=NULL, not []."""
    merges, _ = bpe.bpe_learn_local(tok_df, n_merges=4)
    doc = spark.createDataFrame(
        [(0, None), (1, ["low"])], "id LONG, tokens ARRAY<STRING>"
    )
    rows = {r["id"]: r["pieces"] for r in bpe.bpe_segment(doc, merges).collect()}
    assert rows[0] is None
    assert rows[1] is not None


def test_bpe_learn_local_matches_reference(spark, tok_df):
    """The driver-side incremental learner (one Spark job) must equal
    the textbook reference exactly -- merges AND final vocab."""
    merges, vocab = bpe.bpe_learn_local(tok_df, n_merges=8)
    ref_merges, ref_vocab = _ref_bpe(Counter(WORDS), 8)
    assert merges == ref_merges
    got = {r["word"]: list(r["symbols"]) for r in vocab.collect()}
    assert got == ref_vocab


def test_bpe_learn_local_stops_when_dry(spark):
    df = spark.createDataFrame(
        [(0, ["ab"]), (1, ["cd"])], "id LONG, tokens ARRAY<STRING>"
    )
    merges, _ = bpe.bpe_learn_local(df, n_merges=5)
    assert merges == []


def _diverse_corpus(spark, n_words=400, seed=11):
    """Seeded synthetic vocabulary with real symbol diversity (the
    realistic-corpus regime; the tiny-alphabet WORDS fixture is the
    degenerate chained regime)."""
    import random

    rng = random.Random(seed)
    words = sorted(
        {
            "".join(
                rng.choice("abcdefghijklmnopqrstuvwxyz")
                for _ in range(rng.randint(3, 9))
            )
            for _ in range(n_words)
        }
    )
    counts = {w: rng.randint(1, 25) for w in words}
    rows = [(i, [w] * counts[w]) for i, w in enumerate(words)]
    df = spark.createDataFrame(rows, "id LONG, tokens ARRAY<STRING>")
    return df, counts


def test_bpe_learn_local_matches_batched_on_diverse_corpus(spark):
    df, counts = _diverse_corpus(spark, n_words=200, seed=23)
    merges_local, _ = bpe.bpe_learn_local(df, n_merges=80)
    ref_merges, _ = _ref_bpe(counts, 80)
    assert merges_local == ref_merges


def test_bpe_batched_matches_reference_property(spark):
    """Adversarial property check: tiny alphabets maximize rule
    conflicts and count ties (the regime where the incremental
    pair-count maintenance would diverge from sequential BPE). Seeded
    random corpora, exact merge-list equality."""
    import random

    rng = random.Random(99)
    for trial in range(6):
        n_words = rng.randint(3, 40)
        words = [
            "".join(rng.choice("abcd") for _ in range(rng.randint(1, 6)))
            for _ in range(n_words)
        ]
        n_merges = rng.randint(1, 40)
        df = spark.createDataFrame(
            [(i, [w]) for i, w in enumerate(words)],
            "id LONG, tokens ARRAY<STRING>",
        )
        ref_merges, _ = _ref_bpe(Counter(words), n_merges)
        merges_local, _ = bpe.bpe_learn_local(df, n_merges=n_merges)
        assert merges_local == ref_merges, (trial, "local", words, n_merges)


# ---------------------------------------------------------------------------
# Scale pins: job-count independence and the sf0.1 corpus shape
# ---------------------------------------------------------------------------


def _job_count(spark) -> int:
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


def test_learn_local_job_count_independent_of_merges(spark):
    """The '30k merges ~ 1 Spark job' claim, pinned: bpe_learn_local's
    distributed work is the ONE word-count pass + the vocab-sized
    collect -- the merge loop is driver-side, so asking for 8x more
    merges must launch exactly the same number of jobs. (Job count is
    scale-independent, so the pin runs on a tiny corpus every suite
    run; the sf0.1 timing lives in the BPE_SCALE-gated test below.)"""
    import os

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("testdata not available")
    from pyspark.sql import functions as F

    from sparkbigdatatextanalysis_spark.functions import text as text_fns

    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        F.col("doc_id").alias("id"), text_fns.tokenize("text").alias("tokens")
    )
    docs = docs.persist()
    docs.count()  # materialize outside the measured window

    before = _job_count(spark)
    m_small, _ = bpe.bpe_learn_local(docs, n_merges=50)
    jobs_small = _job_count(spark) - before

    before = _job_count(spark)
    m_large, _ = bpe.bpe_learn_local(docs, n_merges=400)
    jobs_large = _job_count(spark) - before
    docs.unpersist()

    assert m_large[: len(m_small)] == m_small  # prefix-stable merges
    assert jobs_large == jobs_small, (jobs_small, jobs_large)
    # the whole learn is a handful of jobs (count agg + collect), not
    # one-per-merge
    assert jobs_large <= 4, jobs_large


@pytest.mark.skipif(
    not __import__("os").environ.get("BPE_SCALE"),
    reason="sf0.1 BPE scale timing: set BPE_SCALE=1",
)
def test_bpe_sf01_scale_point(spark):
    """sf0.1 scale point (run with BPE_SCALE=1): bpe_learn_local trains
    up to 1,000 merges over the full sf0.1 documents vocabulary (the
    synthetic word-soup has ~31 distinct tokens, so the learnable merge
    space EXHAUSTS around 110) and equals the textbook reference on that
    generated corpus shape, not just the toy/property corpora."""
    import os
    import time

    from pyspark.sql import functions as F

    from sparkbigdatatextanalysis_spark.functions import text as text_fns

    sf = "/root/testdata/sf0.1"
    if not os.path.isdir(sf):
        pytest.skip("sf0.1 testdata not available")
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        F.col("doc_id").alias("id"), text_fns.tokenize("text").alias("tokens")
    ).persist()
    counts = {
        r["w"]: r["n"]
        for r in docs.select(F.explode("tokens").alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

    t0 = time.time()
    local_merges, _ = bpe.bpe_learn_local(docs, n_merges=1000)
    t_local = time.time() - t0
    docs.unpersist()

    ref_merges, _ = _ref_bpe(counts, 1000)
    print(
        f"\nBPE sf0.1: vocab={len(counts)}, local {len(local_merges)} "
        f"merges {t_local:.1f}s"
    )
    assert local_merges
    assert local_merges == ref_merges
