"""The ER hot path is lazy: building the similarity join and the
threshold sweep starts no Spark job, evaluating them twice gives the
same rows, and nothing is left cached in the session. The dense form
equals the sparse one and runs only over a persisted flat table."""

from __future__ import annotations

import pytest
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


def _flats(spark, texts=TEXTS):
    """Unpersisted dense flat table of ``texts`` (side = id % 2) over the
    corpus idf, plus the tokenized table it was built from."""
    docs = spark.createDataFrame(list(enumerate(texts)), "id LONG, text STRING")
    tok = tfidf_ops.tokenized(docs)
    vocab_idf = [
        (r["token"], float(r["idf"]))
        for r in tfidf_ops.idf_table(tok).orderBy("token").collect()
    ]
    return sim.dense_flat_table_from_tokens(tok, vocab_idf, side=F.col("id") % 2), tok


def test_er_plan_builds_lazily_and_leaves_no_cache(spark):
    sc = spark.sparkContext
    persisted = set(sc._jsc.getPersistentRDDs().keySet())
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
    # subset, not equality: Spark's context cleaner may meanwhile drop
    # RDDs that earlier tests persisted and no longer reference
    assert set(sc._jsc.getPersistentRDDs().keySet()) <= persisted


def test_dense_flat_results_match_sparse(spark):
    """The dense form over a persisted flat table returns the sparse
    join's pairs, cosines and dot products."""
    wa, wb = _weights(spark)
    flats = _flats(spark)[0].persist()
    try:
        for dense, sparse, col in (
            (sim.dense_cosine_similarity(flats), sim.cosine_similarity_join(wa, wb), "sim"),
            (sim.dense_dot_products(flats), sim.dot_products(wa, wb), "dot"),
        ):
            got = {(r["a_id"], r["b_id"]): r[col] for r in dense.collect()}
            want = {(r["a_id"], r["b_id"]): r[col] for r in sparse.collect()}
            assert got.keys() == want.keys() and got
            assert all(abs(got[k] - want[k]) <= 1e-12 for k in got)
    finally:
        flats.unpersist()


def test_cross_similarity_flats_form_matches_join_form(spark):
    """cross_cosine_similarity's flats form equals its join form; the
    all-stopword doc has no flat row and comes back through the zero-pair
    re-attach with sim 0.0."""
    texts = TEXTS + ["the and of it"]
    flats, tok = _flats(spark, texts)
    flats = flats.persist()
    try:
        w = tfidf_ops.tfidf_weights(tok, tfidf_ops.idf_table(tok))
        wa, wb = w.where(F.col("id") % 2 == 0), w.where(F.col("id") % 2 == 1)
        ids_a = tok.where(F.col("id") % 2 == 0).select("id")
        ids_b = tok.where(F.col("id") % 2 == 1).select("id")

        def rows(df):
            return sorted((r["a_id"], r["b_id"], round(r["sim"], 12)) for r in df.collect())

        dense = rows(sim.cross_cosine_similarity(wa, wb, ids_a, ids_b, flats=flats))
        join = rows(sim.cross_cosine_similarity(wa, wb, ids_a, ids_b))
        assert dense == join
        assert len(dense) == 5 * 4
        assert all(s == 0.0 for a, _, s in dense if a == len(TEXTS))
    finally:
        flats.unpersist()


def test_dense_operators_build_lazily(spark):
    """Building the dense operators over a persisted flat table starts
    no Spark job."""
    sc = spark.sparkContext
    flats, tok = _flats(spark)
    wa, wb = _weights(spark)
    group = "test-lazy-dense-plan"
    sc.setJobGroup(group, "build the dense ER plan")
    try:
        flats = flats.persist()
        sim.dense_cosine_similarity(flats)
        sim.dense_dot_products(flats)
        sim.cross_cosine_similarity(
            wa, wb, tok.select("id"), tok.select("id"), flats=flats
        )
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc._jsc.clearJobGroup()
        flats.unpersist()


def test_dense_operators_reject_unpersisted_flats(spark):
    """An unpersisted flat table is refused with ValueError before any
    job runs: it is the plan barrier the dense kernels need."""
    sc = spark.sparkContext
    flats, _ = _flats(spark)
    wa, wb = _weights(spark)
    group = "test-unpersisted-flats"
    sc.setJobGroup(group, "build the dense ER plan")
    try:
        with pytest.raises(ValueError):
            sim.dense_cosine_similarity(flats)
        with pytest.raises(ValueError):
            sim.dense_dot_products(flats)
        with pytest.raises(ValueError):
            sim.cross_cosine_similarity(wa, wb, flats=flats)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc._jsc.clearJobGroup()
