"""Round-9 operator semantics on hand-built fixtures: interval union
(islands), Markov transitions, k-core peeling, grouped OLS, MAD
outliers, k-NN label vote, and co-occurrence pair mining."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkbigdatatextanalysis_spark.operators import ann as ann_ops
from sparkbigdatatextanalysis_spark.operators import components as cc
from sparkbigdatatextanalysis_spark.operators import relational as rel
from sparkbigdatatextanalysis_spark.operators import stats as st
from sparkbigdatatextanalysis_spark.operators import timeseries as tsx


# --- interval_union ----------------------------------------------------------


def _iv(spark, rows):
    return spark.createDataFrame(rows, "k LONG, start_s LONG, end_s LONG")


def test_interval_union_merges_overlaps_and_touching(spark):
    # [0,10) + [5,12) overlap -> [0,12); [12,15) touches -> same island
    # (half-open adjacency); [20,25) separate
    df = _iv(spark, [(1, 0, 10), (1, 5, 12), (1, 12, 15), (1, 20, 25)])
    got = tsx.interval_union(df, "k").collect()[0]
    assert (got["n_intervals"], got["n_islands"], got["covered"]) == (4, 2, 20)


def test_interval_union_contained_and_zero_length(spark):
    # [0,100) contains everything; zero-length [50,50) joins the island
    df = _iv(spark, [(1, 0, 100), (1, 10, 20), (1, 50, 50)])
    got = tsx.interval_union(df, "k").collect()[0]
    assert (got["n_islands"], got["covered"]) == (1, 100)


def test_interval_union_per_key_and_nulls(spark):
    df = _iv(spark, [(1, 0, 5), (2, 0, 3), (2, 10, 11), (3, None, 5)])
    got = {r["k"]: r for r in tsx.interval_union(df, "k").collect()}
    assert got[1]["covered"] == 5
    assert (got[2]["n_islands"], got[2]["covered"]) == (2, 4)
    assert 3 not in got  # NULL-bound interval dropped, key vanishes


def test_interval_union_partition_invariance(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i % 5, s, s + rng.randrange(0, 50))
        for i in range(200)
        for s in [rng.randrange(0, 500)]
    ]
    df = _iv(spark, rows)
    a = {tuple(r) for r in tsx.interval_union(df, "k").collect()}
    b = {tuple(r) for r in tsx.interval_union(df.repartition(11), "k").collect()}
    assert a == b


# --- markov_transitions ------------------------------------------------------


def test_markov_transitions_counts_and_probs(spark):
    rows = [
        (1, 1, "a"), (1, 2, "b"), (1, 3, "a"),   # a->b, b->a
        (2, 1, "a"), (2, 2, "b"), (2, 3, "c"),   # a->b, b->c
    ]
    df = spark.createDataFrame(
        [(u, e, s, float(e)) for (u, e, s) in rows],
        "user_id LONG, event_id LONG, event_type STRING, tsd DOUBLE",
    ).withColumn("ts", F.timestamp_seconds("tsd"))
    got = {
        (r["prev_state"], r["next_state"]): (r["n_transitions"], r["p_transition"])
        for r in tsx.markov_transitions(df).collect()
    }
    assert got[("a", "b")] == (2, 1.0)
    assert got[("b", "a")] == (1, 0.5)
    assert got[("b", "c")] == (1, 0.5)
    assert ("a", "c") not in got  # never adjacent


def test_markov_transitions_sequence_is_per_key(spark):
    # interleaved users must not create cross-user transitions
    rows = [(1, 1, 1.0, "a"), (2, 2, 2.0, "x"), (1, 3, 3.0, "b")]
    df = spark.createDataFrame(
        rows, "user_id LONG, event_id LONG, tsd DOUBLE, event_type STRING"
    ).withColumn("ts", F.timestamp_seconds("tsd"))
    got = {
        (r["prev_state"], r["next_state"])
        for r in tsx.markov_transitions(df).collect()
    }
    assert got == {("a", "b")}


# --- kcore_peel --------------------------------------------------------------


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "a_id BIGINT, b_id BIGINT")


def test_kcore_k2_triangle_survives_chain_peels(spark):
    # triangle 1-2-3 plus tail 3-4-5: k=2 peels 5 then 4; triangle stays
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)])
    got = {
        r["node"]: (r["degree"], r["in_core"])
        for r in cc.kcore_peel(e, "a_id", "b_id", k=2, rounds=3).collect()
    }
    assert got[1] == (2, True) and got[2] == (2, True) and got[3] == (2, True)
    assert got[4] == (0, False) and got[5] == (0, False)


def test_kcore_k3_k4_survives_triangle_does_not(spark):
    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    tri = [(10, 11), (11, 12), (10, 12)]
    got = {
        r["node"]: r["in_core"]
        for r in cc.kcore_peel(
            _edges(spark, k4 + tri), "a_id", "b_id", k=3, rounds=3
        ).collect()
    }
    assert all(got[n] for n in range(4))
    assert not any(got[n] for n in (10, 11, 12))


def test_kcore_round_bounded_partial_peel(spark):
    # chain 1-2-3-4-5-6 under k=2: each round peels both current ends'
    # neighbors' support; 1 round leaves 2..5 (ends 1,6 peeled)
    chain = [(i, i + 1) for i in range(1, 6)]
    one = {
        r["node"]: r["in_core"]
        for r in cc.kcore_peel(_edges(spark, chain), "a_id", "b_id", k=2, rounds=1).collect()
    }
    assert not one[1] and not one[6] and one[3]
    full = {
        r["node"]: r["in_core"]
        for r in cc.kcore_peel(_edges(spark, chain), "a_id", "b_id", k=2, rounds=5).collect()
    }
    assert not any(full.values())  # a chain has no 2-core


def test_kcore_partition_invariance(spark):
    import itertools
    import random

    rng = random.Random(12)
    pairs = [
        (i, j)
        for i, j in itertools.combinations(range(30), 2)
        if rng.random() < 0.15
    ]
    e = _edges(spark, pairs)
    a = {tuple(r) for r in cc.kcore_peel(e, "a_id", "b_id", k=3, rounds=4).collect()}
    b = {
        tuple(r)
        for r in cc.kcore_peel(
            e.repartition(7), "a_id", "b_id", k=3, rounds=4
        ).collect()
    }
    assert a == b


# --- grouped_linreg ----------------------------------------------------------


def test_linreg_exact_line(spark):
    rows = [("g", float(x), 2.0 * x + 3.0) for x in range(10)]
    df = spark.createDataFrame(rows, "g STRING, x DOUBLE, y DOUBLE")
    got = st.grouped_linreg(df, ["g"], "x", "y").collect()[0]
    assert got["n_points"] == 10
    assert got["slope"] == pytest.approx(2.0)
    assert got["intercept"] == pytest.approx(3.0)
    assert got["r2"] == pytest.approx(1.0)


def test_linreg_degenerate_groups(spark):
    rows = [
        ("one_point", 1.0, 5.0),
        ("no_xvar", 2.0, 1.0), ("no_xvar", 2.0, 9.0),
        ("no_yvar", 1.0, 7.0), ("no_yvar", 2.0, 7.0),
        ("nulls", None, 1.0), ("nulls", 1.0, None), ("nulls", 1.0, 1.0),
    ]
    df = spark.createDataFrame(rows, "g STRING, x DOUBLE, y DOUBLE")
    got = {r["g"]: r for r in st.grouped_linreg(df, ["g"], "x", "y").collect()}
    assert got["one_point"]["slope"] is None
    assert got["no_xvar"]["slope"] is None
    assert got["no_yvar"]["slope"] == pytest.approx(0.0)
    assert got["no_yvar"]["r2"] is None
    assert got["nulls"]["n_points"] == 1  # null x/y rows dropped


def test_linreg_partition_invariance_bit_exact(spark):
    rows = [("g", float((i * 7) % 13), float((i * 31) % 17)) for i in range(500)]
    df = spark.createDataFrame(rows, "g STRING, x DOUBLE, y DOUBLE")
    a = st.grouped_linreg(df, ["g"], "x", "y").collect()[0]
    b = st.grouped_linreg(df.repartition(13), ["g"], "x", "y").collect()[0]
    assert a == b  # DECIMAL sums -> bit-identical doubles


# --- mad_outliers ------------------------------------------------------------


def test_mad_flags_extreme_not_masked(spark):
    # one wild value among tight data: MAD flags it; values inside stay
    vals = [10.0, 10.5, 11.0, 9.5, 9.0, 10.2, 1000.0]
    df = spark.createDataFrame(
        [(i, "t", v) for i, v in enumerate(vals)], "i LONG, g STRING, value DOUBLE"
    )
    got = {r["i"]: r for r in st.mad_outliers(df, "value", ["g"]).collect()}
    assert got[6]["is_outlier"] is True
    assert not any(got[i]["is_outlier"] for i in range(6))
    assert got[0]["group_median"] == pytest.approx(10.2)


def test_mad_null_value_and_guard(spark):
    df = spark.createDataFrame(
        [(1, "g", 1.0), (2, "g", None)], "i LONG, g STRING, value DOUBLE"
    )
    got = {r["i"]: r for r in st.mad_outliers(df, "value", ["g"]).collect()}
    assert got[2]["is_outlier"] is None
    with pytest.raises(ValueError, match="relative_error"):
        st.mad_outliers(df, "value", ["g"], relative_error=2.0)


# --- knn_label_vote ----------------------------------------------------------


def test_knn_majority_and_tie_break(spark):
    # axis clusters: labels by quadrant; query near label-1 cluster
    corpus = [
        (1, [1.0, 0.0], 1), (2, [0.9, 0.1], 1), (3, [0.95, 0.05], 1),
        (4, [0.0, 1.0], 2), (5, [0.1, 0.9], 2),
    ]
    queries = [(100, [1.0, 0.05], None), (101, [0.05, 1.0], None)]
    schema = "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    got = {
        r["vec_id"]: r
        for r in ann_ops.knn_label_vote(
            spark.createDataFrame(queries, schema),
            spark.createDataFrame(corpus, schema),
            k=3,
        ).collect()
    }
    assert got[100]["pred_label"] == 1 and got[100]["n_votes"] == 3
    assert got[101]["pred_label"] == 2 and got[101]["n_votes"] == 2
    assert got[101]["n_neighbors"] == 3


def test_knn_excludes_null_labels_and_small_corpus(spark):
    schema = "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    corpus = [(1, [1.0, 0.0], 7), (2, [0.5, 0.5], None)]
    queries = [(9, [1.0, 0.1], None)]
    got = ann_ops.knn_label_vote(
        spark.createDataFrame(queries, schema),
        spark.createDataFrame(corpus, schema),
        k=5,
    ).collect()[0]
    assert got["pred_label"] == 7 and got["n_neighbors"] == 1


def test_knn_exclude_self_flag_for_independent_id_spaces(spark):
    """r9 advice: query id 1 collides with corpus id 1 but names a
    DIFFERENT item. Default (shared-id-space) semantics drop that
    corpus row from the vote; exclude_self=False lets the legitimate
    nearest neighbor vote."""
    schema = "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    corpus = [(1, [1.0, 0.0], 7), (2, [0.0, 1.0], 8)]
    queries = [(1, [1.0, 0.05], None)]  # colliding id, near corpus #1
    q = spark.createDataFrame(queries, schema)
    c = spark.createDataFrame(corpus, schema)
    default = ann_ops.knn_label_vote(q, c, k=1).collect()[0]
    assert default["pred_label"] == 8  # self-excluded: the far vector wins
    fixed = ann_ops.knn_label_vote(q, c, k=1, exclude_self=False).collect()[0]
    assert fixed["pred_label"] == 7 and fixed["n_votes"] == 1


def _knn_fixture(spark, n=60, dim=8, n_labels=3, seed=23):
    """Seeded Gaussian label clusters: label L centers at 3*e_L, so
    nearest neighbors are overwhelmingly same-cluster -- the fixture
    shape the ann recall tests use."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        lbl = i % n_labels
        v = [rng.gauss(0.0, 0.4) for _ in range(dim)]
        v[lbl] += 3.0
        rows.append((i, v, lbl if i % 2 == 0 else None))
    return spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label INT"
    )


def _knn_cents(c):
    """4 Lloyd-refined (2 passes) centroids over the labeled corpus."""
    return ann_ops.kmeans_centroids(
        c.where(F.col("label").isNotNull()), n_centroids=4, n_iter=2
    )


def test_knn_ivf_full_probe_equals_bruteforce(spark):
    """With n_probe == centroid count every cluster is probed, so the IVF
    candidate set IS brute force's and the votes must be IDENTICAL --
    the equality pin behind knn_label_vote's 'swap at scale' claim
    (r9 verdict item 4)."""
    emb = _knn_fixture(spark)
    q = emb.where(F.col("vec_id") % 2 == 1)
    c = emb.where(F.col("vec_id") % 2 == 0)
    bf = {tuple(r) for r in ann_ops.knn_label_vote(q, c, k=5).collect()}
    ivf = {
        tuple(r)
        for r in ann_ops.knn_label_vote_ivf(
            q, c, k=5, n_probe=4, cents=_knn_cents(c)
        ).collect()
    }
    assert bf == ivf and len(bf) == 30


def test_knn_ivf_default_probe_agrees_on_clustered_fixture(spark):
    """Default (partial) probing on well-separated label clusters: the
    predicted labels must agree with brute force for every query (the
    recall property; rank sets may differ at cluster fringes, the
    majority vote must not)."""
    emb = _knn_fixture(spark)
    q = emb.where(F.col("vec_id") % 2 == 1)
    c = emb.where(F.col("vec_id") % 2 == 0)
    bf = {
        r["vec_id"]: r["pred_label"]
        for r in ann_ops.knn_label_vote(q, c, k=5).collect()
    }
    ivf = {
        r["vec_id"]: r["pred_label"]
        for r in ann_ops.knn_label_vote_ivf(
            q, c, k=5, n_probe=2, cents=_knn_cents(c)
        ).collect()
    }
    assert set(ivf) == set(bf)
    assert all(ivf[k] == bf[k] for k in bf)


def test_knn_ivf_plan_has_no_query_broadcast(spark):
    """The production-shape claim, machine-checked: the IVF labeler's
    plan must contain no cartesian and no row-Python, and its only
    broadcast exchanges are the tiny vote-side joins -- the query table
    itself rides a plain shuffle equi-join on the cluster id."""
    from sparkbigdatatextanalysis_spark.plans import audit_plan

    emb = _knn_fixture(spark)
    q = emb.where(F.col("vec_id") % 2 == 1)
    c = emb.where(F.col("vec_id") % 2 == 0)
    out = ann_ops.knn_label_vote_ivf(q, c, k=5, n_probe=2, cents=_knn_cents(c))
    a = audit_plan(out)
    assert a.cartesian_products == 0 and a.row_python_stages == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


# --- cooccurrence_pairs ------------------------------------------------------


def test_cooccurrence_counts_and_support(spark):
    rows = [
        (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "b"), (3, "b"),  # duplicate item: one set entry
        (4, "c"),
    ]
    df = spark.createDataFrame(rows, "g LONG, item STRING")
    got = {
        (r["item_a"], r["item_b"]): (r["n_together"], r["support"])
        for r in rel.cooccurrence_pairs(df, "g", "item", min_support=2).collect()
    }
    assert got == {("a", "b"): (3, 0.75)}
    all_pairs = {
        (r["item_a"], r["item_b"]): r["n_together"]
        for r in rel.cooccurrence_pairs(df, "g", "item", min_support=1).collect()
    }
    assert all_pairs[("a", "c")] == 1 and all_pairs[("b", "c")] == 1


def test_cooccurrence_guard(spark):
    df = spark.createDataFrame([(1, "a")], "g LONG, item STRING")
    with pytest.raises(ValueError, match="min_support"):
        rel.cooccurrence_pairs(df, "g", "item", min_support=0)


# --- containment_pairs -------------------------------------------------------


def test_containment_subset_doc_directed(spark):
    from sparkbigdatatextanalysis_spark.operators import dedup as dd

    long_text = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    short_text = "alpha bravo charlie delta echo foxtrot golf hotel"
    docs = spark.createDataFrame(
        [(1, long_text), (2, short_text), (3, "totally unrelated words here now")],
        "doc_id LONG, text STRING",
    )
    got = {
        (r["a_id"], r["b_id"]): r["containment"]
        for r in dd.containment_pairs(docs, min_containment=0.9).collect()
    }
    # short doc fully contained in long one: containment(2 -> 1) = 1.0;
    # the reverse direction is far below 0.9; unrelated doc appears nowhere
    assert got == {(2, 1): 1.0}
    with pytest.raises(ValueError, match="min_containment"):
        dd.containment_pairs(docs, min_containment=0.0)


def test_containment_vs_jaccard_asymmetry(spark):
    from sparkbigdatatextanalysis_spark.operators import dedup as dd

    base = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    quoted = " ".join(f"w{i} x{i} y{i}" for i in range(6))
    docs = spark.createDataFrame(
        [(10, base), (20, quoted)], "doc_id LONG, text STRING"
    )
    cont = {
        (r["a_id"], r["b_id"])
        for r in dd.containment_pairs(docs, min_containment=0.9).collect()
    }
    jac = dd.ngram_jaccard_pairs(docs, min_jaccard=0.5).collect()
    assert (20, 10) in cont  # containment catches the quote...
    assert jac == [] or all(r["jaccard"] < 0.5 for r in jac)  # ...Jaccard misses it


# --- band_join ---------------------------------------------------------------


def test_band_join_exactly_once_and_boundaries(spark):
    rows = [(1, 1.00), (2, 1.005), (3, 1.02), (4, 5.0), (5, 1.00)]
    df = spark.createDataFrame(rows, "id LONG, v DOUBLE")
    got = {
        (r["a_id"], r["b_id"])
        for r in rel.band_join(df, "v", eps=0.01, id_col="id").collect()
    }
    # (1,2): dv=.005 <= eps; (1,5): equal values, id order; (2,5): .005;
    # (2,3): dv=.015 > eps excluded; (3,*) and (4,*) isolated
    assert got == {(1, 2), (1, 5), (5, 2)} or got == {(1, 2), (1, 5), (2, 5)} \
        or got == {(1, 2), (5, 2), (1, 5)}, got
    with pytest.raises(ValueError, match="eps"):
        rel.band_join(df, "v", eps=0.0, id_col="id")


def test_band_join_matches_bruteforce_random(spark):
    import itertools
    import random

    rng = random.Random(17)
    rows = [(i, round(rng.uniform(0, 3), 3)) for i in range(300)]
    df = spark.createDataFrame(rows, "id LONG, v DOUBLE")
    eps = 0.01
    got = {
        (r["a_id"], r["b_id"])
        for r in rel.band_join(df, "v", eps=eps, id_col="id").collect()
    }
    want = set()
    for (i, vi), (j, vj) in itertools.combinations(rows, 2):
        if abs(vi - vj) <= eps:
            a, b = ((i, vi), (j, vj)) if (vi, i) < (vj, j) else ((j, vj), (i, vi))
            want.add((a[0], b[0]))
    assert got == want
    assert len(got) == len(
        rel.band_join(df, "v", eps=eps, id_col="id").collect()
    )  # no duplicate emissions


def test_band_join_exact_eps_boundary_large_magnitude(spark):
    """The IEEE headroom claim behind the 2*eps bucket width (ADVICE
    r9): pairs at gap EXACTLY eps, placed at magnitudes where the
    quotient v/eps is ~1e14 (half-ulp of the quotient ~0.008 -- far
    beyond real-arithmetic slop), must all be emitted. With a width-eps
    bucketing the adjacent-bucket invariant holds only in real
    arithmetic; width 2*eps caps the true quotient gap at 0.5, so the
    two rounded divisions can never straddle two integers. Brute force
    is the oracle, same as the random property above."""
    import itertools

    import math

    rows = []
    rid = 0
    eps = 0.01
    for k in range(10**14, 10**14 + 400, 7):
        b = k * eps  # lands next to a bucket boundary of width eps
        # fl(b - eps) can round to a gap a hair ABOVE eps (ulp(b) here
        # is ~1.2e-4); walk a up until the computed gap qualifies, so
        # every fixture pair sits exactly AT the eps boundary
        a = b - eps
        while b - a > eps:
            a = math.nextafter(a, b)
        rows.append((rid, a))
        rows.append((rid + 1, b))
        rid += 2
    df = spark.createDataFrame(rows, "id LONG, v DOUBLE")
    got = {
        (r["a_id"], r["b_id"])
        for r in rel.band_join(df, "v", eps=eps, id_col="id").collect()
    }
    want = set()
    for (i, vi), (j, vj) in itertools.combinations(rows, 2):
        if 0 <= abs(vi - vj) <= eps:
            a, b = ((i, vi), (j, vj)) if (vi, i) < (vj, j) else ((j, vj), (i, vi))
            want.add((a[0], b[0]))
    assert want, "fixture must produce boundary pairs"
    assert got == want
