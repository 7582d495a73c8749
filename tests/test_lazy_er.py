"""The ER hot path is lazy: building the similarity join and the
threshold sweep starts no Spark job, evaluating them twice gives the
same rows, and nothing is left cached in the session. A warm ER job
over parquet catalogs runs a bounded number of Spark jobs and compiles
no codegen class twice; the sweep's edge cases match a plain-Python
sweep. The dense form equals the sparse one and runs only over a
persisted flat table."""

from __future__ import annotations

import math
import random

import pyarrow as pa
import pyarrow.parquet as pq
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


# --------------------------------------------------------------- the ER job


@pytest.fixture(scope="module")
def er_catalogs(tmp_path_factory):
    """Two small parquet catalogs and a gold table, one file each (the
    benchmark's layout): near-duplicate pairs share most of their words,
    every doc draws from one small vocabulary, and one gold pair is
    absent from both catalogs."""
    rng = random.Random(11)
    words = [f"w{i}" for i in range(60)]
    a_rows, b_rows, gold = [], [], []
    for i in range(40):
        text = " ".join(rng.choice(words) for _ in range(8))
        a_rows.append((f"a{i}", text))
        if i % 3 == 0:
            b_rows.append((f"b{i}", text + " " + rng.choice(words)))
            gold.append((f"a{i}", f"b{i}"))
        else:
            b_rows.append((f"b{i}", " ".join(rng.choice(words) for _ in range(8)) + " the"))
    b_rows.append(("b_empty", "the and of"))
    gold.append(("a_missing", "b_missing"))
    root = tmp_path_factory.mktemp("er")
    for name, cols in (
        ("a", {"id": [r[0] for r in a_rows], "text": [r[1] for r in a_rows]}),
        ("b", {"id": [r[0] for r in b_rows], "text": [r[1] for r in b_rows]}),
        ("gold", {"a_id": [g[0] for g in gold], "b_id": [g[1] for g in gold]}),
    ):
        pq.write_table(pa.table(cols), f"{root}/{name}.parquet")
    return str(root)


def _er_sweep(spark, root):
    """The benchmark's ER job: catalogs on disk -> 101-row sweep."""
    a = spark.read.parquet(f"{root}/a.parquet")
    b = spark.read.parquet(f"{root}/b.parquet")
    gold = spark.read.parquet(f"{root}/gold.parquet")
    ta, tb = tfidf_ops.tokenized(a), tfidf_ops.tokenized(b)
    idf = tfidf_ops.idf_table(tfidf_ops.corpus_union(ta, tb))
    wa, wb = tfidf_ops.tfidf_weights(ta, idf), tfidf_ops.tfidf_weights(tb, idf)
    return ev.threshold_sweep(sim.cosine_similarity_join(wa, wb), gold)


def _group_jobs(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_er_job_builds_lazily_and_runs_few_jobs(spark, er_catalogs):
    """Building the whole chain over parquet starts no job once the
    catalogs are read; a warm job, reads included, starts at most 14
    (25 before the token table was pre-normalized and the sweep folded
    into one aggregation)."""
    sc = spark.sparkContext
    a = spark.read.parquet(f"{er_catalogs}/a.parquet")
    b = spark.read.parquet(f"{er_catalogs}/b.parquet")
    gold = spark.read.parquet(f"{er_catalogs}/gold.parquet")

    def build():
        ta, tb = tfidf_ops.tokenized(a), tfidf_ops.tokenized(b)
        idf = tfidf_ops.idf_table(tfidf_ops.corpus_union(ta, tb))
        wa, wb = tfidf_ops.tfidf_weights(ta, idf), tfidf_ops.tfidf_weights(tb, idf)
        return ev.threshold_sweep(sim.cosine_similarity_join(wa, wb), gold)

    _, build_jobs = _group_jobs(sc, "test-er-build", build)
    assert build_jobs == []
    cold = _er_sweep(spark, er_catalogs).collect()
    warm, jobs = _group_jobs(sc, "test-er-warm", lambda: _er_sweep(spark, er_catalogs).collect())
    assert sorted(warm) == sorted(cold) and len(warm) == 101
    assert len(jobs) <= 14, jobs


def test_er_job_compiles_no_codegen_class_twice(spark, er_catalogs):
    """A second identical ER job finds every generated class in the
    codegen cache: class names carry no stage id, so AQE's
    finish-order stage numbering cannot make identical code miss."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    _er_sweep(spark, er_catalogs).collect()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    _er_sweep(spark, er_catalogs).collect()
    assert metrics.METRIC_COMPILATION_TIME().getCount() - before == 0


def test_er_job_sims_equal_the_direct_cosine(spark, er_catalogs):
    """Pre-normalized weights give every candidate pair the cosine of
    its raw TF-IDF vectors (dot over the product of the norms)."""
    a = spark.read.parquet(f"{er_catalogs}/a.parquet")
    b = spark.read.parquet(f"{er_catalogs}/b.parquet")
    ta, tb = tfidf_ops.tokenized(a), tfidf_ops.tokenized(b)
    idf = tfidf_ops.idf_table(tfidf_ops.corpus_union(ta, tb))
    wa, wb = tfidf_ops.tfidf_weights(ta, idf), tfidf_ops.tfidf_weights(tb, idf)
    vec = {}
    for r in wa.unionByName(wb).collect():
        vec.setdefault(r["id"], {})[r["token"]] = r["weight"]
    got = {(r["a_id"], r["b_id"]): r["sim"] for r in sim.cosine_similarity_join(wa, wb).collect()}
    want = {}
    for x in (i for i in vec if i.startswith("a")):
        for y in (i for i in vec if i.startswith("b")):
            shared = vec[x].keys() & vec[y].keys()
            if shared:
                dot = sum(vec[x][t] * vec[y][t] for t in shared)
                norm = math.sqrt(sum(w * w for w in vec[x].values())) * math.sqrt(
                    sum(w * w for w in vec[y].values())
                )
                want[(x, y)] = dot / norm
    assert got.keys() == want.keys() and got
    assert all(abs(got[p] - want[p]) <= 1e-12 for p in got)


def _sweep_ref(sims, gold, n=100):
    """Plain-Python sweep: a pair is a predicted positive at threshold
    i/n when floor(sim * n) >= i (NULL and negative sims never are); a
    gold pair missing from the candidates counts with sim 0.0."""
    cand = dict(((a, b), s) for a, b, s in sims)
    pairs = list(sims) + [(a, b, 0.0) for a, b in gold if (a, b) not in cand]
    gold_set = set(gold)
    n_dups = len(gold)
    rows = []
    for i in range(n + 1):
        pred = [(a, b) for a, b, s in pairs if s is not None and min(math.floor(s * n), n) >= i]
        tp = sum(1 for p in pred if p in gold_set)
        rows.append((
            i / n, tp, len(pred) - tp, n_dups - tp,
            tp / len(pred) if pred else None,
            tp / n_dups if n_dups else None,
            2.0 * tp / (len(pred) + n_dups) if pred or n_dups else None,
        ))
    return rows


@pytest.mark.parametrize(
    "sims, gold",
    [
        # empty gold table: NULL recall everywhere, fn 0
        ([(1, 2, 0.5), (3, 4, 0.9)], []),
        # a gold pair absent from the candidates counts at sim 0.0
        ([(1, 2, 0.8), (3, 4, 0.2)], [(1, 2), (5, 6), (7, 8)]),
        # a negative sim sits in the sentinel bin -1: a candidate, never
        # a predicted positive
        ([(3, 4, -0.3), (5, 6, 0.42), (7, 8, 1.0)], [(3, 4), (7, 8)]),
        # so does a NULL sim (it used to land in the top bin, predicted
        # positive at every threshold)
        ([(1, 2, None), (5, 6, 0.42), (7, 8, 1.0)], [(1, 2), (7, 8)]),
        # sims of exactly i/100 (0.29 * 100 floors to 28)
        ([(1, 2, 0.29), (3, 4, 0.5), (5, 6, 0.0), (7, 8, 0.01), (9, 9, 1.0)], [(1, 2), (9, 9)]),
        # no candidate and no gold pair at all
        ([], []),
    ],
    ids=["empty-gold", "missing-gold", "negative-sim", "null-sim", "sim-on-bin-edge", "all-empty"],
)
def test_threshold_sweep_edge_cases(spark, sims, gold):
    s = spark.createDataFrame(sims, "a_id LONG, b_id LONG, sim DOUBLE")
    g = spark.createDataFrame(gold, "a_id LONG, b_id LONG")
    got = sorted(tuple(r) for r in ev.threshold_sweep(s, g).collect())
    assert got == _sweep_ref(sims, gold)
