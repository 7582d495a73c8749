"""Recall and sanity checks of the approximate ANN paths (sign-LSH,
IVF, int8-quantized) against the exact brute-force top-k.

These bound recall rather than pin values: value parity of the gated
ANN queries is the DuckDB oracle's job (tests/test_oracle_parity.py).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkbigdatatextanalysis_spark.operators import ann as ann_ops

from conftest import sf_dir


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{sf_dir('0.001')}/embeddings.parquet").cache()
    yield df
    df.unpersist()


def test_adaptive_rows_per_band_rule():
    """Bucket width grows with log2(n): ~TARGET_BUCKET_ROWS rows per
    bucket at any corpus size (the round-1 fixed 4-bit width capped
    buckets at 16 values, degenerating quadratic at large n)."""
    t = ann_ops.TARGET_BUCKET_ROWS
    assert ann_ops.adaptive_rows_per_band(1) == 4  # clamped floor
    assert ann_ops.adaptive_rows_per_band(t * 16) == 4
    assert ann_ops.adaptive_rows_per_band(t * 16 + 1) == 5
    assert ann_ops.adaptive_rows_per_band(1_000_000_000) == 25
    assert ann_ops.adaptive_rows_per_band(10**15) == 32  # clamped ceiling
    # ceiling never exceeds the pre-generated plane pool
    assert ann_ops.LSH_BANDS * 32 <= ann_ops.N_PLANES_MAX


def test_sign_lsh_recall_vs_bruteforce(spark, emb):
    """Deterministic recall floor of the hand-built sign-LSH top-k at the
    adaptive parameters, against the exact brute force. The synthetic
    embeddings have near-background neighbor cosines (~0.3-0.4), the
    hard case for sign-LSH, so the floor is deliberately modest."""
    queries = emb.select("vec_id").orderBy("vec_id").limit(5)
    exact = {
        (r["q_id"], r["n_id"])
        for r in ann_ops.cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    approx = {
        (r["q_id"], r["n_id"])
        for r in ann_ops.cosine_topk_lsh(emb, queries, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, (len(exact), len(approx), recall)


def test_kmeans_centroids_deterministic_and_shaped(spark, emb):
    """Lloyd refinement: stable across recomputation (decimal-exact
    means), correct arity, and full-corpus assignment coverage."""
    c1 = {r["c_id"]: (tuple(r["cv"]), r["cn"])
          for r in ann_ops.kmeans_centroids(emb).collect()}
    c2 = {r["c_id"]: (tuple(r["cv"]), r["cn"])
          for r in ann_ops.kmeans_centroids(emb).collect()}
    assert c1 == c2
    assert 0 < len(c1) <= ann_ops.N_CENTROIDS
    dim = len(emb.first()["embedding"])
    assert all(len(cv) == dim for cv, _ in c1.values())
    cents = ann_ops.kmeans_centroids(emb)
    a = ann_ops._assign_from_lit(
        ann_ops._norm_vecs(emb, "vec_id", "embedding"),
        ann_ops._cents_lit(ann_ops._collect_cents(cents, "test")),
    )
    assert a.count() == emb.count()
    assert a.select("id").distinct().count() == emb.count()


def test_kmeans_ivf_recall_not_worse_than_seed(spark, emb):
    """Refined centroids must not lose recall vs the raw first-k seed
    set at the same probe budget."""
    queries = emb.select("vec_id").orderBy("vec_id").limit(5)
    exact = {
        (r["q_id"], r["n_id"])
        for r in ann_ops.cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    def recall(n_iter):
        cents = ann_ops.kmeans_centroids(emb, n_iter=n_iter)
        got = {
            (r["q_id"], r["n_id"])
            for r in ann_ops.cosine_topk_ivf(
                emb, queries, k=5, cents=cents
            ).collect()
        }
        return len(exact & got) / len(exact)
    assert recall(ann_ops.KMEANS_ITERS) >= recall(0) - 0.2  # no collapse
    assert recall(ann_ops.KMEANS_ITERS) >= 0.3


def test_ivf_recall_vs_exact_sf01(spark):
    """IVF recall/probe trade at sf0.1 (2,000 x 64 vectors), seeded
    queries: candidate sets are NESTED in n_probe (probes are the top-n
    centroid ranking), so recall must be monotone, and the synthetic
    corpus's cluster structure puts a query's true neighbors in its own
    cluster -- n_probe=1 already recalls nearly everything, which is
    exactly the property an IVF layout buys at 100 TB."""
    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    queries = emb.select("vec_id").orderBy("vec_id").limit(8)
    exact = {
        (r["q_id"], r["n_id"])
        for r in ann_ops.cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    recalls = {}
    for n_probe in (1, 2, 4):
        got = {
            (r["q_id"], r["n_id"])
            for r in ann_ops.cosine_topk_ivf(
                emb, queries, k=5, n_probe=n_probe
            ).collect()
        }
        recalls[n_probe] = len(exact & got) / len(exact)
    assert recalls[1] <= recalls[2] <= recalls[4], recalls
    assert recalls[1] >= 0.8, recalls
    assert recalls[4] >= 0.9, recalls


def test_quantized_topk_recall_vs_exact(spark):
    """int8-quantized brute force must recover (nearly) the exact top-k
    — rank displacement confined to near-ties; on the clustered
    synthetic embeddings recall stays high."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.select("vec_id").orderBy("vec_id").limit(8)
    exact = {
        (r["q_id"], r["n_id"])
        for r in ann_ops.cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    quant = {
        (r["q_id"], r["n_id"])
        for r in ann_ops.cosine_topk_quantized(emb, queries, k=5).collect()
    }
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.85, recall


def test_lsh_and_knn_ivf_leave_no_cache_behind(spark, emb):
    """Neither the LSH search nor the IVF labeler persists anything:
    two calls each add no persistent RDD to the session and return
    identical rows."""
    emb.count()  # materialize the fixture's own cache first
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    queries = emb.select("vec_id").orderBy("vec_id").limit(5)
    odd, even = emb.where(F.col("vec_id") % 2 == 1), emb.where(F.col("vec_id") % 2 == 0)
    for run in (
        lambda: ann_ops.cosine_topk_lsh(emb, queries, k=5),
        lambda: ann_ops.knn_label_vote_ivf(odd, even, k=5),
    ):
        first, second = sorted(run().collect()), sorted(run().collect())
        assert first and first == second
        # subset, not equality: Spark's context cleaner may meanwhile
        # drop RDDs that earlier tests persisted and no longer reference
        assert set(jsc.getPersistentRDDs().keySet()) <= before
