"""Pin the documented IVF swaps of the two wave-7/10 brute-force
embedding audits (hubness, triplet margin): with n_probe ==
n_centroids the IVF candidate set IS brute force's, so the derived
audit values must be IDENTICAL -- the same equality discipline the
r9 verdict required of knn_label_vote (test_round9_ops.py:295)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkbigdatatextanalysis_spark.operators import ann as ann_ops

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_hubness_over_ivf_full_probe_equals_bruteforce(spark):
    """The X206 audit is one groupBy over the top-k edge list, so edge
    equality under full probing pins the whole swap."""
    emb = _emb(spark)
    qids = emb.select("vec_id")
    bf = {
        (r["q_id"], r["n_id"], r["rank"])
        for r in ann_ops.cosine_topk_bruteforce(emb, qids, k=5).collect()
    }
    ivf = {
        (r["q_id"], r["n_id"], r["rank"])
        for r in ann_ops.cosine_topk_ivf(
            emb,
            qids,
            k=5,
            n_probe=ann_ops.N_CENTROIDS,
            cents=ann_ops.kmeans_centroids(emb, n_centroids=ann_ops.N_CENTROIDS),
        ).collect()
    }
    assert bf == ivf
    # and therefore the in-degree (hubness) histogram is identical
    def indeg(edges):
        out: dict = {}
        for _, n, _rk in edges:
            out[n] = out.get(n, 0) + 1
        return out

    assert indeg(bf) == indeg(ivf)


def test_triplet_margin_over_ivf_neighbors_full_probe(spark):
    """X217's per-label summary over the k-NN neighbor table: with
    full probing the IVF neighbor table equals brute force's, so the
    margin summary derived from it is identical -- the audit can ride
    the IVF index at scale without changing a number."""
    emb = _emb(spark)
    qids = emb.select("vec_id")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}

    def margin_summary(topk_rows):
        per_q: dict = {}
        for r in topk_rows:
            ql, nl = labels[r["q_id"]], labels[r["n_id"]]
            b = per_q.setdefault(r["q_id"], [None, None])
            if nl == ql:
                b[0] = max(b[0], r["cos"]) if b[0] is not None else r["cos"]
            else:
                b[1] = max(b[1], r["cos"]) if b[1] is not None else r["cos"]
        out: dict = {}
        for q, (bs, bd) in per_q.items():
            if bs is None or bd is None:
                continue
            out.setdefault(labels[q], []).append(round(bs - bd, 9))
        return {
            lab: (len(ms), round(sum(ms) / len(ms), 6))
            for lab, ms in out.items()
        }

    k = 8  # wide enough that most queries see both label classes
    bf = margin_summary(
        ann_ops.cosine_topk_bruteforce(emb, qids, k=k).collect()
    )
    ivf = margin_summary(
        ann_ops.cosine_topk_ivf(
            emb,
            qids,
            k=k,
            n_probe=ann_ops.N_CENTROIDS,
            cents=ann_ops.kmeans_centroids(emb, n_centroids=ann_ops.N_CENTROIDS),
        ).collect()
    )
    assert bf == ivf and len(bf) > 0


def test_mmr_pool_over_ivf_full_probe_equals_bruteforce(spark):
    """r10 verdict stretch 7: X199's 20-NN candidate pool is built by
    the broadcast brute-force top-k; with n_probe == n_centroids the
    IVF top-k is the identical (id, 9dp-cos) set under the same
    (cos desc, n_id) tie-break, so the MMR greedy -- a pure function of
    the pool's ids and rels -- picks the same 5 at scale over the IVF
    index."""
    import __spark_entry__ as entrymod

    _nv, q_id, _qv, _qn, pool = entrymod._mmr_pool(spark, SF)
    assert len(pool) == entrymod._MMR_POOL
    emb = _emb(spark)
    qids = emb.where(F.col("vec_id") == q_id).select("vec_id")
    ivf = ann_ops.cosine_topk_ivf(
        emb,
        qids,
        k=entrymod._MMR_POOL,
        n_probe=ann_ops.N_CENTROIDS,
        cents=ann_ops.kmeans_centroids(emb, n_centroids=ann_ops.N_CENTROIDS),
    ).collect()
    got = {(int(r["n_id"]), round(float(r["cos"]), 9)) for r in ivf}
    assert got == set(pool)
    # and the rank order agrees with the pool's (rel desc, id) order
    order_ivf = [int(r["n_id"]) for r in sorted(ivf, key=lambda r: r["rank"])]
    assert order_ivf == [i for i, _ in pool]
