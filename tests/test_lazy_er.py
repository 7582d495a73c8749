"""The ER hot path is lazy: building the similarity join and the
threshold sweep starts no Spark job, evaluating them twice gives the
same rows, and nothing is left cached in the session."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkbigdatatextanalysis_spark.operators import evaluation as ev
from sparkbigdatatextanalysis_spark.operators import similarity as sim
from sparkbigdatatextanalysis_spark.operators import tfidf as tfidf_ops

TEXTS = [
    "red apple pie recipe",
    "red apple tart recipe",
    "green pear salad",
    "green pear salad bowl",
    "blue cheese dressing",
    "apple pear crumble",
    "cheese board",
    "chocolate cake",
]


def _tokenized(spark):
    docs = spark.createDataFrame(list(enumerate(TEXTS)), "id LONG, text STRING")
    return tfidf_ops.tokenized(docs)


def _weights(spark):
    tok = _tokenized(spark)
    w = tfidf_ops.tfidf_weights(tok, tfidf_ops.idf_table(tok))
    return w.where(F.col("id") % 2 == 0), w.where(F.col("id") % 2 == 1)


def _is_dense_plan(sims) -> bool:
    return "w_a#" not in sims._jdf.queryExecution().analyzed().toString()


def test_er_plan_builds_lazily_and_leaves_no_cache(spark):
    sc = spark.sparkContext
    persisted = sc._jsc.getPersistentRDDs().size()
    wa, wb = _weights(spark)
    tok = _tokenized(spark)
    idx_a = sim.inverted_index(tok.where(F.col("id") % 2 == 0))
    idx_b = sim.inverted_index(tok.where(F.col("id") % 2 == 1))
    gold = spark.createDataFrame([(0, 1), (2, 3), (4, 7), (10, 11)], "a_id LONG, b_id LONG")

    group = "test-lazy-er-plan"
    sc.setJobGroup(group, "build the ER plan")
    try:
        sims = sim.cosine_similarity_join(wa, wb)
        sweep = ev.threshold_sweep(sims, gold)
        pairs = sim.common_token_pairs(idx_a, idx_b)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc._jsc.clearJobGroup()

    first, second = sweep.collect(), sweep.collect()
    assert first == second
    assert len(first) == 101
    assert sorted(sims.collect()) == sorted(sims.collect())
    assert sorted(pairs.collect()) == sorted(pairs.collect())
    assert sc._jsc.getPersistentRDDs().size() == persisted


def test_auto_strategy_results_match_dense(spark):
    """Auto without a stated vocabulary is the sparse join; it returns
    the same pairs and cosines as the dense form a stated size picks."""
    wa, wb = _weights(spark)
    n_vocab = wa.select("token").union(wb.select("token")).distinct().count()
    sparse = sim.cosine_similarity_join(wa, wb)
    dense = sim.cosine_similarity_join(wa, wb, vocab_n=n_vocab)
    assert not _is_dense_plan(sparse) and _is_dense_plan(dense)
    got = {(r["a_id"], r["b_id"]): r["sim"] for r in sparse.collect()}
    want = {(r["a_id"], r["b_id"]): r["sim"] for r in dense.collect()}
    assert got.keys() == want.keys() and got
    assert all(abs(got[k] - want[k]) <= 1e-12 for k in got)


def test_cross_similarity_join_form_keeps_stated_vocab(spark):
    """Above the flat-column cutoff cross_cosine_similarity falls back to
    the join form; the caller's vocab_n must reach its cosine join, so a
    stated size under the dense threshold still plans dense."""
    wa, wb = _weights(spark)
    vocab_n = sim.DENSE_UNROLL_MAX + 1
    dense = sim.cross_cosine_similarity(wa, wb, vocab_n=vocab_n)
    sparse = sim.cross_cosine_similarity(wa, wb, vocab_n=sim.DENSE_VOCAB_THRESHOLD + 1)
    assert _is_dense_plan(dense) and not _is_dense_plan(sparse)

    def rows(df):
        return sorted((r["a_id"], r["b_id"], round(r["sim"], 12)) for r in df.collect())

    assert rows(dense) == rows(sparse)
    assert len(rows(dense)) == 4 * 4
