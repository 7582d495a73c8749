"""Incremental dedup against corpus history (operators/dedup.py::
incremental_dedup): the daily-batch production composition of exact +
MinHash-LSH dedup with bucketable history probes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkbigdatatextanalysis_spark.functions.lineage import release
from sparkbigdatatextanalysis_spark.operators import dedup as dd

LONG2 = (
    "machine learning systems process large text corpora with distributed "
    "engines across many executor nodes while tracking lineage metadata "
    "for every transformation stage in the daily ingestion pipeline"
)

DAY1 = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, LONG2),
    (3, "a completely different document about cooking pasta with fresh tomatoes"),
]

DAY2 = [
    # exact copy of history doc 1
    (10, "the quick brown fox jumps over the lazy dog near the river bank today"),
    # near copy of history doc 2 (two words appended -> shingle set is a
    # high-Jaccard superset, so an LSH band collision is near-certain)
    (11, LONG2 + " every morning"),
    # internal exact pair
    (12, "brand new content that appears twice in the same daily batch exactly"),
    (13, "brand new content that appears twice in the same daily batch exactly"),
    # genuinely fresh
    (14, "completely novel subject matter involving astronomy telescopes and comets"),
]


@pytest.fixture(scope="module")
def history(spark):
    docs = spark.createDataFrame(DAY1, "doc_id LONG, text STRING")
    hashes = docs.select(F.sha2("text", 256).alias("content_hash"))
    bands = dd.lsh_band_keys_flat(
        dd.minhash_signatures_flat(dd.shingle_hashes(docs, "doc_id", "text"))
    ).select("band", "key")
    return hashes, bands


def _flags(out):
    return {
        r["doc_id"]: (
            r["exact_dup_history"],
            r["exact_dup_batch"],
            r["near_dup_history"],
            r["near_dup_batch"],
            r["keep"],
        )
        for r in out.collect()
    }


def test_classifies_each_dup_kind(spark, history):
    hashes, bands = history
    batch = spark.createDataFrame(DAY2, "doc_id LONG, text STRING")
    r = dd.incremental_dedup(batch, hashes, bands)
    out, delta_hashes, delta_bands = r.result, r.delta_hashes, r.delta_bands
    f = _flags(out)
    assert f[10][0] and not f[10][4]  # exact vs history
    assert f[11][2] and not f[11][4]  # near vs history
    assert not f[12][1] and f[13][1]  # min-id of the internal pair survives
    assert not f[13][4]
    assert f[14] == (False, False, False, False, True)  # fresh doc kept
    # doc 12 also near-collides with its exact twin 13 -- but as the
    # LOWER id it is the representative on both the exact and near axes
    assert not f[12][3] and f[13][3]
    kept = {d for d, v in f.items() if v[4]}
    assert kept == {12, 14}
    # deltas describe exactly the kept docs
    assert delta_hashes.count() == 2
    assert {row["id"] for row in delta_bands.collect()} == kept
    release(r.bands)


def test_second_run_against_updated_history_drops_everything(spark, history):
    hashes, bands = history
    batch = spark.createDataFrame(DAY2, "doc_id LONG, text STRING")
    r1 = dd.incremental_dedup(batch, hashes, bands)
    new_hashes = hashes.unionByName(r1.delta_hashes)
    new_bands = bands.unionByName(r1.delta_bands.select("band", "key"))
    r2 = dd.incremental_dedup(batch, new_hashes, new_bands)
    assert r2.result.where("keep").count() == 0  # idempotent rerun: all dups
    assert r2.delta_hashes.count() == 0
    # releasing the persisted band tables frees their blocks -- the
    # per-daily-run leak regression
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    release(r1.bands)
    release(r2.bands)
    assert jsc.getPersistentRDDs().size() <= max(before - 2, 0) + 1


def test_no_history_degrades_to_batch_only(spark):
    batch = spark.createDataFrame(DAY2, "doc_id LONG, text STRING")
    r = dd.incremental_dedup(batch, None, None)
    f = _flags(r.result)
    release(r.bands)
    assert all(not v[0] and not v[2] for v in f.values())
    kept = {d for d, v in f.items() if v[4]}
    assert kept == {10, 11, 12, 14}


def test_history_probe_is_equi_join(spark, history):
    """Both history probes must be hash equi-joins (the shape a bucketed
    history elides its exchange for) -- no cartesian, no row-Python."""
    hashes, bands = history
    batch = spark.createDataFrame(DAY2, "doc_id LONG, text STRING")
    r = dd.incremental_dedup(batch, hashes, bands)
    plan = r.result._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


# --- incremental substring dedup (dedup.incremental_duplicate_spans) -------


def _spans_set(df):
    return sorted(tuple(r) for r in df.collect())


def test_incremental_spans_equal_batch_over_union(spark):
    """The defining equivalence: incremental(batch, counts(history)) ==
    duplicate_spans(history UNION batch) restricted to batch docs."""
    from sparkbigdatatextanalysis_spark.operators import dedup

    boiler = "shared boilerplate sentence long enough to carry fingerprints."
    hist_docs = spark.createDataFrame(
        [
            (1, "historic document one. " + boiler + " historic tail."),
            (2, "another old document with completely unrelated content here."),
        ],
        "doc_id LONG, text STRING",
    )
    batch = spark.createDataFrame(
        [
            # duplicates ONLY against history -- invisible to a plain
            # batch-local duplicate_spans run
            (10, "fresh prefix!! " + boiler + " fresh tail."),
            (11, "nothing duplicated in this new document at all, truly."),
            # duplicate pair WITHIN the batch
            (12, "twin text: " + boiler * 2),
            (13, "twin text: " + boiler * 2),
        ],
        "doc_id LONG, text STRING",
    )
    hist_counts = (
        dedup.winnow_fingerprints(hist_docs)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    res = dedup.incremental_duplicate_spans(batch, hist_counts)
    union_spans = dedup.duplicate_spans(hist_docs.unionByName(batch)).where(
        F.col("doc_id") >= 10
    )
    assert _spans_set(res.spans) == _spans_set(union_spans)
    # doc 10 dups only vs history; 12/13 vs each other; 11 clean
    got_docs = {r["doc_id"] for r in res.spans.collect()}
    assert got_docs == {10, 12, 13}
    # delta is the batch's own fingerprint counts, ready to merge
    batch_fp = dedup.winnow_fingerprints(batch)
    assert res.delta_counts.agg(F.sum("cnt")).first()[0] == batch_fp.count()
    release(res.fingerprints)


def test_incremental_spans_none_history_equals_plain_batch(spark):
    from sparkbigdatatextanalysis_spark.operators import dedup

    boiler = "a repeated chunk of text that is long enough to fingerprint ok"
    batch = spark.createDataFrame(
        [
            (1, "aa " + boiler),
            (2, "bbbb " + boiler),
            (3, "unique content here, nothing shared with the others at all"),
        ],
        "doc_id LONG, text STRING",
    )
    res = dedup.incremental_duplicate_spans(batch, None)
    assert _spans_set(res.spans) == _spans_set(dedup.duplicate_spans(batch))
    release(res.fingerprints)


def test_incremental_spans_rerun_after_merge_only_widens(spark):
    """Rerunning the SAME batch after its delta_counts merged into
    history flags the batch's own fingerprints as history dups
    (counts >= 2), covering the whole boilerplate in every batch doc.
    This is exactly why the API contract says merge-after-commit (or
    batch-id-keyed merges): the count merge is NOT rerun-idempotent --
    a crash-retry after the merge can only WIDEN spans (never
    resurrect removed text, the property pinned here), up to stripping
    all fingerprinted text of the replayed batch."""
    from sparkbigdatatextanalysis_spark.operators import dedup

    boiler = "one more sufficiently long boilerplate fragment for the test."
    batch = spark.createDataFrame(
        [(1, "xx " + boiler), (2, "yyyy " + boiler)],
        "doc_id LONG, text STRING",
    )
    first = dedup.incremental_duplicate_spans(batch, None)
    merged = first.delta_counts  # empty history + delta = delta
    rerun = dedup.incremental_duplicate_spans(batch, merged)
    first_set = _spans_set(first.spans)
    rerun_rows = {r["doc_id"]: r for r in rerun.spans.collect()}
    # every first-run span is contained in a rerun span
    for did, _idx, s, e, _n in first_set:
        rr = rerun_rows[did]
        assert rr["span_start"] <= s and rr["span_end"] >= e
    release(first.fingerprints)
    release(rerun.fingerprints)


def test_incremental_spans_history_probe_is_equi_join(spark):
    """The '100 TB side touched by ONE equi-join' scale contract,
    plan-pinned like its incremental_dedup sibling: no cartesian, no
    row-Python anywhere in the spans plan, and the audit counts stay
    exchange-bounded."""
    from sparkbigdatatextanalysis_spark.operators import dedup
    from sparkbigdatatextanalysis_spark.plans import audit_plan

    boiler = "shared boilerplate sentence long enough to carry fingerprints."
    hist_docs = spark.createDataFrame(
        [(1, "historic document one. " + boiler)], "doc_id LONG, text STRING"
    )
    batch = spark.createDataFrame(
        [(10, "fresh prefix!! " + boiler)], "doc_id LONG, text STRING"
    )
    hc = (
        dedup.winnow_fingerprints(hist_docs)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    res = dedup.incremental_duplicate_spans(batch, hc)
    a = audit_plan(res.spans)
    assert a.cartesian_products == 0 and a.row_python_stages == 0
    plan = res.spans._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # the result's fingerprint table is a lazy checkpoint -- release it
    # so its blocks free now rather than at the next driver GC
    release(res.fingerprints)


# --- incremental semantic dedup (dedup.incremental_semantic_dedup) ---------


def _mkemb(spark, rows):
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")


@pytest.fixture(scope="module")
def sem_corpus(spark):
    """Two well-separated directions in dim 8 plus noise vectors: ids
    0..5 history (all < batch ids, so the union equivalence is exact),
    ids 10..14 batch."""
    import random

    rng = random.Random(3)

    def noisy(base, eps):
        return [b + rng.uniform(-eps, eps) for b in base]

    d1 = [1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0]
    d2 = [0.0, 1.0, 0.0, 1.0, 0.0, 0.0, 1.0, 0.0]
    hist_rows = [
        (0, list(d1)),
        (1, noisy(d1, 0.05)),
        (2, list(d2)),
        (3, noisy(d2, 0.05)),
        (4, [rng.gauss(0, 1) for _ in range(8)]),
        (5, [rng.gauss(0, 1) for _ in range(8)]),
    ]
    batch_rows = [
        (10, list(d1)),                       # dup of history direction 1
        (11, [rng.gauss(0, 1) for _ in range(8)]),  # fresh noise
        (12, noisy(d2, 0.01)),                # dup of history direction 2
        (13, [0.0, 0.0, 5.0, 0.0, 0.0, 5.0, 0.0, 5.0]),  # new direction, kept
        (14, [0.0, 0.0, 5.0, 0.0, 0.0, 5.0, 0.0, 5.0]),  # its batch twin
    ]
    from sparkbigdatatextanalysis_spark.operators import ann

    hist = _mkemb(spark, hist_rows)
    batch = _mkemb(spark, batch_rows)
    full = _mkemb(spark, hist_rows + batch_rows)
    cents = ann.kmeans_centroids(hist, n_centroids=4)
    return hist, batch, full, cents


SEM_T = 0.95


def test_incremental_semantic_flags_each_kind(spark, sem_corpus):
    hist, batch, _full, cents = sem_corpus
    # history state: every history vector as a representative (the
    # all-reps configuration; kept-only is exercised by the loop test)
    hr = dd.incremental_semantic_dedup(hist, None, SEM_T, cents)
    reps = hr.assignments  # (id, cluster, v, norm) -- the rep schema
    r = dd.incremental_semantic_dedup(batch, reps, SEM_T, cents)
    f = {
        row["vec_id"]: (
            row["near_dup_history"],
            row["near_dup_batch"],
            row["keep"],
        )
        for row in r.result.collect()
    }
    assert f[10][0] and not f[10][2]          # dup of history dir 1
    assert f[12][0] and not f[12][2]          # dup of history dir 2
    assert f[11] == (False, False, True)      # fresh noise kept
    assert f[13][2] and not f[13][1]          # min-id of batch twin pair
    assert f[14][1] and not f[14][2]          # its higher-id twin dropped
    # delta = kept reps only
    assert {row["id"] for row in r.delta_reps.collect()} == {11, 13}
    release(hr.assignments)
    release(r.assignments)


def test_incremental_semantic_equals_union_restricted(spark, sem_corpus):
    """The defining equivalence (the X111/X112 contract shape): with
    history ids all below batch ids and EVERY history vector kept as a
    representative, incremental(batch, reps) computes exactly
    semantic_dedup(history UNION batch) restricted to batch ids."""
    hist, batch, full, cents = sem_corpus
    full_keep = {
        r["vec_id"]: bool(r["keep"])
        for r in dd.semantic_dedup(
            full, SEM_T, cents=cents
        ).collect()
        if r["vec_id"] >= 10
    }
    hr = dd.incremental_semantic_dedup(
        hist, None, SEM_T, cents
    )
    r = dd.incremental_semantic_dedup(
        batch, hr.assignments, SEM_T, cents
    )
    inc_keep = {row["vec_id"]: bool(row["keep"]) for row in r.result.collect()}
    assert inc_keep == full_keep
    # clusters agree too (same pinned centroids, same argmax)
    full_cl = {
        r["vec_id"]: r["cluster"]
        for r in dd.semantic_dedup(
            full, SEM_T, cents=cents
        ).collect()
    }
    inc_cl = {row["vec_id"]: row["cluster"] for row in r.result.collect()}
    assert all(full_cl[i] == c for i, c in inc_cl.items())


def test_incremental_semantic_daily_loop_drops_rerun(spark, sem_corpus):
    """Day-2 rerun of the same batch against history UPDATED with the
    day-1 delta: every batch vector now matches its own committed rep
    (cos(v, v) = 1 >= threshold), so everything drops and the delta is
    empty -- the kept-reps daily loop is rerun-safe (contrast the
    incremental spans COUNT merge, which is documented as not being
    so)."""
    hist, batch, _full, cents = sem_corpus
    hr = dd.incremental_semantic_dedup(hist, None, SEM_T, cents)
    day1 = dd.incremental_semantic_dedup(batch, hr.assignments, SEM_T, cents)
    updated = hr.assignments.select("cluster", "v", "norm").unionByName(
        day1.delta_reps.select("cluster", "v", "norm")
    )
    day2 = dd.incremental_semantic_dedup(batch, updated, SEM_T, cents)
    assert day2.result.where("keep").count() == 0
    assert day2.delta_reps.count() == 0
    release(hr.assignments)
    release(day1.assignments)
    release(day2.assignments)


def test_incremental_semantic_history_probe_shape(spark, sem_corpus):
    """The history probe must be a cluster equi-join over the map-only
    literal-centroid assignment: no cartesian, no row-Python -- the
    shape a cluster-bucketed 100 TB history table elides its exchange
    for."""
    hist, batch, _full, cents = sem_corpus
    hr = dd.incremental_semantic_dedup(
        hist, None, SEM_T, cents
    )
    r = dd.incremental_semantic_dedup(
        batch, hr.assignments, SEM_T, cents
    )
    plan = r.result._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


# --- incremental line dedup (pipeline.incremental_dedup_lines) -------------


LINES_HIST = [
    (0, "keep me alone\ncookie banner text\n\nunique alpha line"),
    (2, "cookie banner text\nanother unique beta line"),
    (4, "totally distinct gamma content\nnav bar boilerplate"),
]
LINES_BATCH = [
    # 'cookie banner text' already twice in history -> removed here;
    # 'nav bar boilerplate' once in history + once here -> total 2 > 1
    (1, "cookie banner text\nfresh delta line\n\nnav bar boilerplate"),
    # within-batch repeat: 'repeated epsilon' twice in one batch
    (3, "repeated epsilon\nrepeated epsilon\nsingleton zeta"),
    (5, "entirely new eta document"),
]


def _line_rows(out):
    return {
        r["doc_id"]: (r["text_dedup"], r["n_lines"], r["n_removed"])
        for r in out.collect()
    }


def test_incremental_lines_equal_batch_over_union(spark):
    """The defining equivalence: incremental(batch, line_counts(history))
    == dedup_lines(history UNION batch) restricted to batch docs --
    history count + batch count IS the union count."""
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    hist = spark.createDataFrame(LINES_HIST, "doc_id LONG, text STRING")
    batch = spark.createDataFrame(LINES_BATCH, "doc_id LONG, text STRING")
    full = spark.createDataFrame(
        LINES_HIST + LINES_BATCH, "doc_id LONG, text STRING"
    )
    want = {
        k: v
        for k, v in _line_rows(pl.dedup_lines(full)).items()
        if k % 2 == 1
    }
    got = _line_rows(
        pl.incremental_dedup_lines(batch, pl.line_counts(hist)).result
    )
    assert got == want
    # spot semantics: the history boilerplate vanished, blanks survived
    assert got[1][0] == "fresh delta line\n"
    assert got[1][2] == 2
    # within-batch repeats removed on both occurrences (count 2 > 1)
    assert got[3][0] == "singleton zeta"
    assert got[5] == ("entirely new eta document", 1, 0)


def test_incremental_lines_none_history_equals_plain_batch(spark):
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    batch = spark.createDataFrame(LINES_BATCH, "doc_id LONG, text STRING")
    want = _line_rows(pl.dedup_lines(batch))
    r = pl.incremental_dedup_lines(batch, None)
    assert _line_rows(r.result) == want
    # delta counts every non-blank batch line occurrence
    d = {row["line"]: row["cnt"] for row in r.delta_counts.collect()}
    assert d["repeated epsilon"] == 2
    assert d["cookie banner text"] == 1


def test_incremental_lines_history_probe_is_equi_join(spark):
    """The history probe must be a hash equi-join on the raw line (the
    shape a line-bucketed history elides its exchange for) -- no
    cartesian, no row-Python."""
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    hist = spark.createDataFrame(LINES_HIST, "doc_id LONG, text STRING")
    batch = spark.createDataFrame(LINES_BATCH, "doc_id LONG, text STRING")
    r = pl.incremental_dedup_lines(batch, pl.line_counts(hist))
    plan = r.result._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


# --- one materialization rule per family ------------------------------------

_BOILER = "a shared boilerplate paragraph long enough to carry fingerprints"
_RULE_DOCS = [
    (1, "alpha intro line\n" + _BOILER),
    (2, "beta intro line\n" + _BOILER),
    (3, "gamma document whose text shares nothing with the other two"),
]


def _rule_spans(docs, emb, cents):
    return dd.duplicate_spans(docs), []


def _rule_incremental_spans(docs, emb, cents):
    r = dd.incremental_duplicate_spans(docs, None)
    return r.spans, [r.fingerprints]


def _rule_semantic(docs, emb, cents):
    return dd.semantic_dedup(emb, SEM_T, cents=cents), []


def _rule_incremental_semantic(docs, emb, cents):
    r = dd.incremental_semantic_dedup(emb, None, SEM_T, cents)
    return r.result, [r.assignments]


def _rule_lines(docs, emb, cents):
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    return pl.dedup_lines(docs), []


@pytest.mark.parametrize(
    "run",
    [
        _rule_spans,
        _rule_incremental_spans,
        _rule_semantic,
        _rule_incremental_semantic,
        _rule_lines,
    ],
    ids=[
        "duplicate_spans",
        "incremental_duplicate_spans",
        "semantic_dedup",
        "incremental_semantic_dedup",
        "dedup_lines",
    ],
)
def test_dedup_family_leaves_no_cached_table(spark, sem_corpus, run):
    """Each dedup family has one materialization rule and none of them
    is a CacheManager entry: the fingerprints sit behind a lazy
    localCheckpoint and the semantic assignments are not materialized.
    Two runs, each followed by releasing its handles, give identical
    rows and leave the session's cache empty."""
    _hist, _batch, full, cents = sem_corpus
    docs = spark.createDataFrame(_RULE_DOCS, "doc_id LONG, text STRING")
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    runs = []
    for _ in range(2):
        df, handles = run(docs, full, cents)
        runs.append(sorted(tuple(r) for r in df.collect()))
        for h in handles:
            release(h)
        assert cache.isEmpty()
    assert runs[0] and runs[0] == runs[1]


# --- the composed nightly-ingest verdict -------------------------------------


def test_incremental_ingest_verdict_equals_its_four_contracts(spark):
    """The composition must be exactly the join of the four individually
    tested contracts -- no drift, no policy surprises."""
    from sparkbigdatatextanalysis_spark.operators import ann, pipeline as pl

    hist_docs = spark.createDataFrame(DAY1, "doc_id LONG, text STRING")
    batch_docs = spark.createDataFrame(DAY2, "doc_id LONG, text STRING")
    hh = hist_docs.select(F.sha2(F.col("text"), 256).alias("content_hash")).distinct()
    hb = dd.lsh_band_keys_flat(
        dd.minhash_signatures_flat(dd.shingle_hashes(hist_docs))
    ).select("band", "key")
    hc = (
        dd.winnow_fingerprints(hist_docs)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hl = pl.line_counts(hist_docs)
    # embeddings keyed by doc id: doc 14 is an exact semantic copy of
    # history doc 3's vector; docs 12/13 are a within-batch semantic pair
    vecs = {
        1: [1.0, 0.0, 0.0], 2: [0.0, 1.0, 0.0], 3: [0.0, 0.0, 1.0],
        10: [0.7, 0.7, 0.0], 12: [0.6, 0.0, 0.8], 13: [0.6, 0.02, 0.8],
        14: [0.0, 0.0, 1.0],
    }
    emb = spark.createDataFrame(
        [(k, v) for k, v in vecs.items()], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    hist_emb = emb.where(F.col("vec_id") < 10)
    batch_emb = emb.where(F.col("vec_id") >= 10)
    cents = ann.kmeans_centroids(emb, n_centroids=2)
    hr = dd.incremental_semantic_dedup(
        hist_emb, None, 0.95, cents
    )
    res = pl.incremental_ingest_verdict(
        batch_docs, hh, hb, hc, hl, batch_emb, hr.assignments, cents, 0.95,
        persist_intermediates=False,
    )
    got = {r["doc_id"]: r.asDict() for r in res.result.collect()}
    assert set(got) == {10, 11, 12, 13, 14}

    # arm 1: hash/band flags equal incremental_dedup's
    flags = {
        r["doc_id"]: r
        for r in dd.incremental_dedup(
            batch_docs, hh, hb, persist_bands=False
        ).result.collect()
    }
    for i, r in got.items():
        for c in ("content_hash", "exact_dup_history", "exact_dup_batch",
                  "near_dup_history", "near_dup_batch"):
            assert r[c] == flags[i][c], (i, c)
    assert got[10]["exact_dup_history"] and got[13]["exact_dup_batch"]
    assert got[11]["near_dup_history"]

    # arm 2: span audit equals the aggregated incremental spans
    sp = dd.incremental_duplicate_spans(
        batch_docs, hc
    ).spans.collect()
    by_doc: dict = {}
    for r in sp:
        a = by_doc.setdefault(r["doc_id"], [0, 0])
        a[0] += 1
        a[1] += r["span_end"] - r["span_start"] + 1
    for i, r in got.items():
        n, chars = by_doc.get(i, (0, 0))
        assert r["n_dup_spans"] == n and r["dup_span_chars"] == chars, i

    # arm 3: line audit equals incremental_dedup_lines
    ln = {
        r["doc_id"]: r
        for r in pl.incremental_dedup_lines(batch_docs, hl).result.collect()
    }
    for i, r in got.items():
        assert r["n_lines"] == ln[i]["n_lines"]
        assert r["n_lines_removed"] == ln[i]["n_removed"]
    assert got[10]["n_lines_removed"] == 1  # its only line is history's

    # arm 4: semantic flags equal incremental_semantic_dedup's (NULL for
    # the embedding-less doc 11)
    sem = {
        r["vec_id"]: r
        for r in dd.incremental_semantic_dedup(
            batch_emb, hr.assignments, 0.95, cents
        ).result.collect()
    }
    for i, r in got.items():
        if i in sem:
            assert r["sem_dup_history"] == sem[i]["near_dup_history"]
            assert r["sem_dup_batch"] == sem[i]["near_dup_batch"]
        else:
            assert r["sem_dup_history"] is None and r["sem_dup_batch"] is None
    assert got[14]["sem_dup_history"]  # vector copy of history doc 3
    assert got[11]["sem_dup_history"] is None

    # verdict: any exact/near/semantic dup drops; spans/lines only audit
    for i, r in got.items():
        expect = not (
            r["exact_dup_history"] or r["exact_dup_batch"]
            or r["near_dup_history"] or r["near_dup_batch"]
            or bool(r["sem_dup_history"]) or bool(r["sem_dup_batch"])
        )
        assert r["keep"] == expect, i
    assert not got[10]["keep"] and not got[14]["keep"] and got[12]["keep"]


def test_incremental_ingest_verdict_plan_shape(spark):
    """The composed verdict inherits each arm's scale shape: no
    cartesian anywhere, no row-Python, and the semantic probe side
    broadcast (the batch never shuffles against history reps)."""
    from sparkbigdatatextanalysis_spark.operators import ann, pipeline as pl

    hist_docs = spark.createDataFrame(DAY1, "doc_id LONG, text STRING")
    batch_docs = spark.createDataFrame(DAY2, "doc_id LONG, text STRING")
    hh = hist_docs.select(F.sha2(F.col("text"), 256).alias("content_hash")).distinct()
    hb = dd.lsh_band_keys_flat(
        dd.minhash_signatures_flat(dd.shingle_hashes(hist_docs))
    ).select("band", "key")
    hc = (
        dd.winnow_fingerprints(hist_docs)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hl = pl.line_counts(hist_docs)
    emb = spark.createDataFrame(
        [(i, [float(i % 3 == 0), float(i % 3 == 1), float(i % 3 == 2)])
         for i in (1, 2, 3, 10, 12, 13, 14)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    cents = ann.kmeans_centroids(emb, n_centroids=2)
    hr = dd.incremental_semantic_dedup(
        emb.where(F.col("vec_id") < 10), None, 0.95, cents
    )
    res = pl.incremental_ingest_verdict(
        batch_docs, hh, hb, hc, hl,
        emb.where(F.col("vec_id") >= 10), hr.assignments, cents, 0.95,
        persist_intermediates=False,
    )
    plan = res.result._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_embedding_decontamination_plan_shape(spark):
    """The decontamination probe must be ONE broadcast equi-join on the
    cluster id (protected side broadcast -- the 100 TB train side never
    shuffles for the probe): no cartesian, no row-Python."""
    from sparkbigdatatextanalysis_spark.operators import ann, pipeline as pl

    train = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    prot = spark.createDataFrame(
        [(100, [1.0, 1.0])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    cents = ann.kmeans_centroids(train, n_centroids=2)
    out = pl.embedding_decontamination(train, prot, 0.9, cents)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


# --- rerun-idempotent keyed history merge ------------------------------------


def test_merge_counts_keyed_replay_is_noop(spark):
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    hist = spark.createDataFrame(
        [(0, "alpha", 2), (0, "beta", 1)], "batch_id LONG, line STRING, cnt LONG"
    )
    delta = spark.createDataFrame(
        [("alpha", 3), ("gamma", 1)], "line STRING, cnt LONG"
    )
    m1 = pl.merge_counts_keyed(hist, delta, 1)
    m2 = pl.merge_counts_keyed(m1.history, delta, 1, m1.manifest)  # replay
    m3 = pl.merge_counts_keyed(m2.history, delta, 1)  # replay, derived manifest
    view = {
        r["line"]: r["cnt"]
        for r in m3.history.groupBy("line").agg(F.sum("cnt").alias("cnt")).collect()
    }
    assert view == {"alpha": 5, "beta": 1, "gamma": 1}
    # a genuinely NEW batch id with the same content does merge
    m4 = pl.merge_counts_keyed(m3.history, delta, 2, m3.manifest)
    view4 = {
        r["line"]: r["cnt"]
        for r in m4.history.groupBy("line").agg(F.sum("cnt").alias("cnt")).collect()
    }
    assert view4 == {"alpha": 8, "beta": 1, "gamma": 2}
    assert sorted(r["batch_id"] for r in m4.manifest.collect()) == [0, 1, 2]


def test_merge_counts_keyed_heals_partial_commit(spark):
    """The r9-advice crash window: a multi-file parquet append dies
    mid-commit, leaving PARTIAL rows for the batch in history. The
    replayed merge must append exactly the rows the crash lost (per-
    (batch_id, key) reconcile) -- a whole-batch-id guard would see the
    batch as merged and silently undercount forever."""
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    # history after the crash: batch 0 complete, batch 1 PARTIAL
    # (only 'alpha' of the {'alpha','gamma'} delta landed)
    hist = spark.createDataFrame(
        [(0, "alpha", 2), (0, "beta", 1), (1, "alpha", 3)],
        "batch_id LONG, line STRING, cnt LONG",
    )
    delta = spark.createDataFrame(
        [("alpha", 3), ("gamma", 1)], "line STRING, cnt LONG"
    )
    m = pl.merge_counts_keyed(hist, delta, 1)
    appended = {(r["line"], r["cnt"]) for r in m.appended.collect()}
    assert appended == {("gamma", 1)}  # only the lost row, never twice
    view = {
        r["line"]: r["cnt"]
        for r in m.history.groupBy("line").agg(F.sum("cnt").alias("cnt")).collect()
    }
    assert view == {"alpha": 5, "beta": 1, "gamma": 1}
    # and the healed batch replays as a structural no-op
    m2 = pl.merge_counts_keyed(m.history, delta, 1)
    assert m2.appended.count() == 0


def test_merge_counts_keyed_guards(spark):
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    hist = spark.createDataFrame([(0, "a", 1)], "batch_id LONG, line STRING, cnt LONG")
    bad_delta = spark.createDataFrame([(1, "a", 1)], "batch_id LONG, line STRING, cnt LONG")
    with pytest.raises(ValueError, match="batch_id"):
        pl.merge_counts_keyed(hist, bad_delta, 1)
