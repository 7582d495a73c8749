"""The search request paths are lazy: building a BM25 or an IVF request
starts no Spark job, two identical requests return identical rows, and
the IVF index is cached once per (corpus, centroids), not once per
request. The broadcast-centroid IVF index equals the literal-centroid
assignment and probe order it replaced."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkbigdatatextanalysis_spark.operators import ann
from sparkbigdatatextanalysis_spark.operators import retrieval as rt
from sparkbigdatatextanalysis_spark.operators import tfidf as tfidf_ops
from conftest import sf_dir


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{sf_dir('0.001')}/embeddings.parquet")


@pytest.fixture(scope="module")
def cents(emb):
    return ann.kmeans_centroids(emb)


@pytest.fixture
def release_index(emb, cents):
    """Drop the IVF index the test's searches cached: the same plan
    finds the same cache entry."""
    yield
    ann._ivf_index(ann._norm_vecs(emb, "vec_id", "embedding"), cents).unpersist()


def _tok(spark):
    docs = spark.read.parquet(f"{sf_dir('0.001')}/documents.parquet")
    return tfidf_ops.tokenized(docs.select(F.col("doc_id").alias("id"), "text"))


def _jobs_in_group(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_search_requests_build_lazily_and_share_one_index(spark, emb, cents, release_index):
    sc = spark.sparkContext
    tok = _tok(spark)

    def requests():
        return (
            rt.bm25_topk(tok, ["hash", "join", "dup"], k=10),
            ann.cosine_topk_ivf(emb, spark.range(3, 5), k=10, cents=cents),
        )

    (bm25, ivf), jobs = _jobs_in_group(sc, "test-lazy-search-build", requests)
    assert jobs == []
    first = (bm25.collect(), sorted(ivf.collect()))
    assert first[0] and first[1]
    persisted = set(sc._jsc.getPersistentRDDs().keySet())

    (bm25, ivf), jobs = _jobs_in_group(sc, "test-lazy-search-rebuild", requests)
    assert jobs == []
    assert (bm25.collect(), sorted(ivf.collect())) == first
    # subset, not equality: Spark's context cleaner may meanwhile drop
    # RDDs that earlier tests persisted and no longer reference
    assert set(sc._jsc.getPersistentRDDs().keySet()) <= persisted

    # the same (corpus, centroids) index serves other k and n_probe
    ann.cosine_topk_ivf(emb, spark.range(7, 8), k=3, n_probe=4, cents=cents).collect()
    assert set(sc._jsc.getPersistentRDDs().keySet()) <= persisted


def test_warm_search_requests_job_counts(spark, emb, cents, release_index):
    """A BM25 request is one stats aggregate plus one scoring pass; a
    warm IVF request reads the cached index and collects nothing to the
    driver before it runs."""
    sc = spark.sparkContext
    tok = _tok(spark)

    def ivf():
        return ann.cosine_topk_ivf(emb, spark.range(11, 12), k=10, cents=cents).collect()

    ivf()
    _, bm25_jobs = _jobs_in_group(
        sc, "test-bm25-request", lambda: rt.bm25_topk(tok, ["hash", "dup"], k=10).collect()
    )
    _, ivf_jobs = _jobs_in_group(sc, "test-ivf-request", ivf)
    assert len(bm25_jobs) <= 3, bm25_jobs
    assert len(ivf_jobs) <= 4, ivf_jobs


def test_ivf_index_cluster_equals_ivf_assignments(emb, cents):
    idx = ann._ivf_index(ann._norm_vecs(emb, "vec_id", "embedding"), cents)
    got = {r["id"]: r["cluster"] for r in idx.select("id", "cluster").collect()}
    lit = ann._cents_lit(ann._collect_cents(cents, "test"))
    assign = ann._assign_from_lit(ann._norm_vecs(emb, "vec_id", "embedding"), lit)
    want = {r["id"]: r["cluster"] for r in assign.collect()}
    assert got == want
    assert len(got) == emb.count()


def test_ivf_probe_lists_equal_literal_form(emb, cents):
    """For every n_probe from 1 to the centroid count, each vector's
    probe list from the index equals the literal-centroid form's."""
    nv = ann._norm_vecs(emb, "vec_id", "embedding")
    n = cents.count()

    def probe_lists(ranked):
        return F.array(*[F.slice(ranked, 1, p) for p in range(1, n + 1)]).alias("probes")

    lit = ann._cents_lit(ann._collect_cents(cents, "test"))
    literal = F.expr(f"reverse(array_sort({ann._cent_scores('v', 'norm', lit)}))")
    want = {r["id"]: r["probes"] for r in nv.select("id", probe_lists(literal)).collect()}
    idx = ann._ivf_index(nv, cents)
    got = {r["id"]: r["probes"] for r in idx.select("id", probe_lists(F.col("_rk"))).collect()}
    assert got == want
    assert all(len(p[-1]) == n for p in got.values())


def test_kmeans_passes_run_under_named_descriptions(spark, emb):
    """Each eager collect of the Lloyd refinement names the operator
    and the pass, and the caller's description comes back afterwards
    (none included)."""
    sc = spark.sparkContext
    group = "test-kmeans-descriptions"
    sc.setJobGroup(group, "caller description")
    try:
        ann.kmeans_centroids(emb, n_iter=2)
        restored = sc.getLocalProperty("spark.job.description")
    finally:
        sc._jsc.clearJobGroup()
    assert restored == "caller description"
    store = sc._jsc.sc().statusStore()
    descs = {
        store.job(i).description().get()
        for i in sc.statusTracker().getJobIdsForGroup(group)
    }
    assert descs == {
        "kmeans_centroids: seed centroids",
        "kmeans_centroids: Lloyd pass 1 of 2",
        "kmeans_centroids: Lloyd pass 2 of 2",
    }
    ann.kmeans_centroids(emb, n_iter=1)
    assert sc.getLocalProperty("spark.job.description") is None


def test_lsh_count_runs_under_named_description(spark, emb):
    """The eager corpus count that sizes the LSH buckets names the
    operator, and the caller's description comes back afterwards (none
    included)."""
    sc = spark.sparkContext
    group = "test-lsh-description"
    sc.setJobGroup(group, "caller description")
    try:
        ann.cosine_topk_lsh(emb, spark.range(1), k=3)
        restored = sc.getLocalProperty("spark.job.description")
    finally:
        sc._jsc.clearJobGroup()
    assert restored == "caller description"
    store = sc._jsc.sc().statusStore()
    descs = {
        store.job(i).description().get()
        for i in sc.statusTracker().getJobIdsForGroup(group)
    }
    assert descs == {"cosine_topk_lsh: corpus size for rows_per_band"}
    ann.cosine_topk_lsh(emb, spark.range(1), k=3)
    assert sc.getLocalProperty("spark.job.description") is None


def _bloom_bits(spark, emb):
    from sparkbigdatatextanalysis_spark.operators import pipeline

    pipeline.bloom_bits(spark.createDataFrame([(1, 5), (2, 7)], "id LONG, sh LONG"))


def _semantic_dedup(spark, emb):
    from sparkbigdatatextanalysis_spark.operators import dedup

    dedup.semantic_dedup(emb, 0.35, persist_assignments=False)


def _bpe_learn_local(spark, emb):
    from sparkbigdatatextanalysis_spark.operators import bpe

    tok = spark.createDataFrame([(0, ["low", "lower"])], "id LONG, tokens ARRAY<STRING>")
    bpe.bpe_learn_local(tok, 2)


@pytest.mark.parametrize(
    "build, want",
    [
        (
            lambda spark, emb: ann.top_principal_component(emb, n_iter=2),
            {
                "top_principal_component: dimension",
                "top_principal_component: start vector",
                "top_principal_component: power iteration 1 of 2",
            },
        ),
        (_semantic_dedup, {"semantic_dedup: collect centroids"}),
        (_bloom_bits, {"bloom_bits: collect bitmap"}),
        (_bpe_learn_local, {"bpe_learn_local: word counts"}),
    ],
    ids=["top_principal_component", "collect_cents", "bloom_bits", "bpe_learn_local"],
)
def test_eager_actions_run_under_named_descriptions(request, spark, emb, build, want):
    """The other operators' eager collects name the operator the same
    way, and the caller's description comes back afterwards (none
    included)."""
    sc = spark.sparkContext
    group = request.node.name
    sc.setJobGroup(group, "caller description")
    try:
        build(spark, emb)
        restored = sc.getLocalProperty("spark.job.description")
    finally:
        sc._jsc.clearJobGroup()
    assert restored == "caller description"
    store = sc._jsc.sc().statusStore()
    descs = {
        store.job(i).description().get()
        for i in sc.statusTracker().getJobIdsForGroup(group)
    }
    assert descs == want
    build(spark, emb)
    assert sc.getLocalProperty("spark.job.description") is None


def test_zero_vector_scores_null_and_ranks_last(spark):
    """An all-zero vector has norm 0. Under ANSI division its cosines
    would fail the query; they are NULL instead: the zero vector ranks
    after every real neighbor, scores NULL as a query, and the centroid
    argmax treats it as -inf against every centroid."""
    rows = [(0, [0.0, 0.0, 0.0])] + [(i, [1.0, float(i), float(i % 3)]) for i in range(1, 9)]
    zemb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ann.kmeans_centroids(zemb, n_centroids=2)
    assert cents.count() == 2
    q = spark.range(0, 2)
    bf = sorted(ann.cosine_topk_bruteforce(zemb, q, k=8).collect())
    ivf = ann.cosine_topk_ivf(zemb, q, k=8, n_probe=2, cents=cents)
    try:
        assert sorted(ivf.collect()) == bf
    finally:
        ann._ivf_index(ann._norm_vecs(zemb, "vec_id", "embedding"), cents).unpersist()
    assert [r["cos"] for r in bf if r["q_id"] == 0] == [None] * 8
    from_one = sorted((r["rank"], r["n_id"], r["cos"]) for r in bf if r["q_id"] == 1)
    assert from_one[-1][1:] == (0, None)
    assert all(c is not None for _, _, c in from_one[:-1])
