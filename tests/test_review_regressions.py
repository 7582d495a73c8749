"""Regression tests for the round-2 operator-review findings: metric
consistency, id-space assumptions, and zero-pair semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkbigdatatextanalysis_spark.operators import ann
from sparkbigdatatextanalysis_spark.operators import components as cc
from sparkbigdatatextanalysis_spark.operators import dedup as dd
from sparkbigdatatextanalysis_spark.operators import evaluation as ev
from sparkbigdatatextanalysis_spark.operators import similarity as sim


def test_threshold_sweep_never_negative_fp(spark):
    """Gold pairs missing from the candidates exist with sim 0.0, so
    they are predicted positives at threshold 0 -- tp <= pred_pos must
    hold on every row (fp >= 0, precision <= 1)."""
    sims = spark.createDataFrame(
        [(1, 2, 0.8), (3, 4, 0.2)], "a_id INT, b_id INT, sim DOUBLE"
    )
    gold = spark.createDataFrame(
        [(1, 2), (5, 6), (7, 8), (9, 10), (11, 12)], "a_id INT, b_id INT"
    )
    rows = ev.threshold_sweep(sims, gold).collect()
    for r in rows:
        assert r["fp"] >= 0, r
        assert r["precision"] is None or 0.0 <= r["precision"] <= 1.0, r
    at0 = next(r for r in rows if r["threshold"] == 0.0)
    # 2 candidates + 4 missing gold predicted positive; all 5 gold are tp
    assert (at0["tp"], at0["fp"], at0["fn"]) == (5, 1, 0)


def test_kmeans_seed_centroids_with_offset_ids(spark):
    """Id spaces not starting at 0 must still seed a full centroid set
    (first-n-by-id, not id < n)."""
    rows = [(1000 + i, [float(i), float(i % 3), 1.0]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    cents = ann.kmeans_centroids(emb, n_centroids=4, n_iter=1).collect()
    assert 0 < len(cents) <= 4
    lit = ann._cents_lit(
        ann._collect_cents(ann.kmeans_centroids(emb, n_centroids=4, n_iter=1), "test")
    )
    assign = ann._assign_from_lit(ann._norm_vecs(emb, "vec_id", "embedding"), lit)
    assert assign.count() == 20


def test_connected_components_string_ids(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "a_id STRING, b_id STRING"
    )
    got = {r["node"]: r["comp"] for r in cc.connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_blocked_gemm_string_ids(spark):
    rows = [
        ("doc-1", [1.0, 0.0]),
        ("doc-2", [1.0, 0.0]),   # identical -> cos 1.0
        ("doc-3", [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id STRING, embedding ARRAY<FLOAT>")
    got = {
        (r["a_id"], r["b_id"], round(r["cos"], 6))
        for r in dd.embedding_near_dup_pairs_blocked(
            emb, threshold=0.9, n_blocks=2
        ).collect()
    }
    assert got == {("doc-1", "doc-2", 1.0)}


def test_cross_similarity_wide_vocab_keeps_zero_pairs(spark):
    """cross_cosine_similarity over a vocabulary wider than the dense
    flat table (its join form) must keep zero-dot pairs with sim 0.0."""
    vocab = [f"t{i}" for i in range(300)]  # > DENSE_UNROLL_MAX
    wa = spark.createDataFrame(
        [(0, vocab[0], 1.0)], "id INT, token STRING, weight DOUBLE"
    )
    wb = spark.createDataFrame(
        [(1, vocab[1], 1.0), (2, vocab[0], 1.0)], "id INT, token STRING, weight DOUBLE"
    )
    out = sim.cross_cosine_similarity(wa, wb)
    got = {(r["a_id"], r["b_id"], round(r["sim"], 6)) for r in out.collect()}
    assert got == {(0, 1, 0.0), (0, 2, 1.0)}


def test_bfs_levels_empty_graph_emits_remainder_row(spark):
    """r10 advice: an empty canonical edge set must return the same
    (dist=-1, n_nodes=0) unreachable-remainder row the unrolled SQL
    oracle always emits, never a zero-row frame."""
    edges = spark.createDataFrame([], "u INT, v INT")
    got = [(r["dist"], r["n_nodes"]) for r in cc.bfs_levels(edges).collect()]
    assert got == [(-1, 0)]
    # self-loops only -> canonical set still empty
    loops = spark.createDataFrame([(1, 1), (2, 2)], "u INT, v INT")
    got = [(r["dist"], r["n_nodes"]) for r in cc.bfs_levels(loops).collect()]
    assert got == [(-1, 0)]


def test_skyline_2d_drops_null_coordinates(spark):
    """r10 advice: NULL-coordinate rows are excluded by explicit
    contract (a raw 3VL NOT-EXISTS would keep them vacuously)."""
    from sparkbigdatatextanalysis_spark.operators import relational as rel

    df = spark.createDataFrame(
        [(1, 5, 5), (2, None, 9), (3, 9, None), (4, 9, 1)],
        "id INT, x INT, y INT",
    )
    got = sorted(r["id"] for r in rel.skyline_2d(df, "x", "y").collect())
    assert got == [1, 4]


def test_vocab_and_mmr_caches_are_session_identity_checked():
    """r10 advice: the ferried-state caches must store the owning
    session and compare with `is`, so a reused id() address cannot
    replay stale state (the _DF_CACHE pattern)."""
    import __spark_entry__ as entrymod

    class _FakeSession:
        pass

    s1, s2 = _FakeSession(), _FakeSession()
    entrymod._MMR_CACHE["/tmp/_fake_sf"] = (s1, ("payload",))
    try:
        slot = entrymod._MMR_CACHE.get("/tmp/_fake_sf")
        assert slot[0] is s1 and slot[0] is not s2
        # lookup contract: a different session object misses
        assert not (slot is not None and slot[0] is s2)
    finally:
        del entrymod._MMR_CACHE["/tmp/_fake_sf"]
