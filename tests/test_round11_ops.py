"""Round-11 operator unit tests: Mann-Whitney U, Welch's t, and the
entry-level additions of the r11 wave, each pinned against a naive
Python/numpy reference on data with ties, skew, and degenerate edges.
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from sparkbigdatatextanalysis_spark.operators import stats as st


def _brute_mwu(a_vals, b_vals):
    """Naive midrank Mann-Whitney with tie-corrected z."""
    pooled = sorted([(v, "a") for v in a_vals] + [(v, "b") for v in b_vals])
    n = len(pooled)
    ranks: dict = {}
    i = 0
    while i < n:
        j = i
        while j < n and pooled[j][0] == pooled[i][0]:
            j += 1
        mid = (i + 1 + j) / 2  # average of ranks i+1..j
        ranks[pooled[i][0]] = mid
        i = j
    ra = sum(ranks[v] for v in a_vals)
    na, nb = len(a_vals), len(b_vals)
    u = ra - na * (na + 1) / 2
    from collections import Counter

    ties = sum(c**3 - c for c in Counter(v for v, _ in pooled).values())
    var = na * nb / 12 * ((n + 1) - ties / (n * (n - 1)))
    z = (u - na * nb / 2) / math.sqrt(var) if var > 0 else None
    rb = 2 * u / (na * nb) - 1
    return u, z, rb


@pytest.mark.parametrize("seed", [1, 5])
def test_mann_whitney_matches_brute_force(spark, seed):
    rng = random.Random(seed)
    a = [rng.randrange(30) for _ in range(250)]  # heavy ties
    b = [rng.randrange(10, 45) for _ in range(180)]
    rows = [(v, True) for v in a] + [(v, False) for v in b]
    df = spark.createDataFrame(rows, "v LONG, is_a BOOLEAN")
    got = st.mann_whitney_u(df, "v", F.col("is_a")).collect()[0]
    u, z, rb = _brute_mwu(a, b)
    assert (got["n_a"], got["n_b"]) == (len(a), len(b))
    assert abs(got["u_stat"] - u) < 1e-9
    assert abs(got["z_score"] - z) < 1e-8
    assert abs(got["rank_biserial"] - rb) < 1e-8


def test_mann_whitney_continuous_bucketed(spark):
    rng = random.Random(9)
    a = [round(rng.gauss(0, 1), 9) for _ in range(300)]
    b = [round(rng.gauss(0.5, 1), 9) for _ in range(200)]
    rows = [(v, True) for v in a] + [(v, False) for v in b]
    df = spark.createDataFrame(rows, "v DOUBLE, is_a BOOLEAN")
    u, z, rb = _brute_mwu(a, b)
    for kwargs in ({"n_buckets": 8}, {"n_buckets": 8, "relative_error": 0.01}):
        got = st.mann_whitney_u(df, "v", F.col("is_a"), **kwargs).collect()[0]
        assert abs(got["u_stat"] - u) < 1e-9
        assert abs(got["z_score"] - z) < 1e-8


def test_mann_whitney_degenerate(spark):
    # all values tied -> variance 0 -> z NULL, u still defined
    rows = [(5, True)] * 4 + [(5, False)] * 6
    df = spark.createDataFrame(rows, "v LONG, is_a BOOLEAN")
    got = st.mann_whitney_u(df, "v", F.col("is_a")).collect()[0]
    assert got["z_score"] is None
    assert abs(got["u_stat"] - 4 * 6 / 2) < 1e-9
    # one empty sample -> everything but counts NULL
    df2 = spark.createDataFrame([(1, True), (2, True)], "v LONG, is_a BOOLEAN")
    got2 = st.mann_whitney_u(df2, "v", F.col("is_a")).collect()[0]
    assert got2["n_b"] == 0 and got2["u_stat"] is None


def test_welch_t_matches_reference(spark):
    rng = random.Random(4)
    a = [rng.gauss(10, 2) for _ in range(120)]
    b = [rng.gauss(11, 5) for _ in range(80)]
    rows = [(v, True) for v in a] + [(v, False) for v in b]
    df = spark.createDataFrame(rows, "v DOUBLE, is_a BOOLEAN")
    got = st.welch_t(df, "v", F.col("is_a")).collect()[0]

    def mean(xs):
        return sum(xs) / len(xs)

    def var(xs):
        m = mean(xs)
        return sum((x - m) ** 2 for x in xs) / (len(xs) - 1)

    qa, qb = var(a) / len(a), var(b) / len(b)
    t = (mean(a) - mean(b)) / math.sqrt(qa + qb)
    dfw = (qa + qb) ** 2 / (qa**2 / (len(a) - 1) + qb**2 / (len(b) - 1))
    assert abs(got["mean_a"] - mean(a)) < 1e-6
    assert abs(got["t_stat"] - t) < 1e-6
    assert abs(got["df_welch"] - dfw) < 1e-5


def test_welch_t_degenerate(spark):
    # n_b = 1 -> undefined variance -> NULLs
    rows = [(1.0, True), (2.0, True), (3.0, False)]
    df = spark.createDataFrame(rows, "v DOUBLE, is_a BOOLEAN")
    got = st.welch_t(df, "v", F.col("is_a")).collect()[0]
    assert got["t_stat"] is None and got["df_welch"] is None
    # both variances zero -> NULL t (0/0 guarded)
    rows2 = [(2.0, True)] * 3 + [(2.0, False)] * 3
    got2 = st.welch_t(
        spark.createDataFrame(rows2, "v DOUBLE, is_a BOOLEAN"),
        "v",
        F.col("is_a"),
    ).collect()[0]
    assert got2["t_stat"] is None


# --- graph: local clustering + Adamic-Adar -----------------------------------


def _rand_graph(seed, n=60, m=150):
    rng = random.Random(seed)
    edges = set()
    while len(edges) < m:
        u, v = rng.randrange(n), rng.randrange(n)
        if u != v:
            edges.add((min(u, v), max(u, v)))
    return sorted(edges)


def _adj(edges):
    nb: dict = {}
    for u, v in edges:
        nb.setdefault(u, set()).add(v)
        nb.setdefault(v, set()).add(u)
    return nb


@pytest.mark.parametrize("seed", [2, 7])
def test_local_clustering_matches_brute_force(spark, seed):
    from sparkbigdatatextanalysis_spark.operators import components as cc

    edges = _rand_graph(seed)
    nb = _adj(edges)
    df = spark.createDataFrame(edges, "u LONG, v LONG")
    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["clustering"])
        for r in cc.local_clustering(df).collect()
    }
    assert set(got) == set(nb)
    for node, neigh in nb.items():
        ns = sorted(neigh)
        tri = sum(
            1
            for i in range(len(ns))
            for j in range(i + 1, len(ns))
            if ns[j] in nb[ns[i]]
        )
        deg = len(neigh)
        c = 2 * tri / (deg * (deg - 1)) if deg >= 2 else None
        gdeg, gtri, gc = got[node]
        assert (gdeg, gtri) == (deg, tri)
        if c is None:
            assert gc is None
        else:
            assert abs(gc - c) < 1e-8


@pytest.mark.parametrize("seed", [3, 11])
def test_adamic_adar_matches_brute_force(spark, seed):
    from sparkbigdatatextanalysis_spark.operators import components as cc

    edges = _rand_graph(seed)
    nb = _adj(edges)
    df = spark.createDataFrame(edges, "u LONG, v LONG")
    got = {
        (r["a_id"], r["b_id"]): (r["n_common"], r["adamic_adar"])
        for r in cc.adamic_adar_edges(df).collect()
    }
    assert set(got) == set(edges)
    for u, v in edges:
        common = nb[u] & nb[v]
        aa = sum(round(1.0 / math.log(len(nb[w])), 12) for w in common)
        n_c, g_aa = got[(u, v)]
        assert n_c == len(common)
        assert abs(g_aa - round(aa, 6)) < 1e-9


def test_adamic_adar_dedup_of_reversed_edges(spark):
    from sparkbigdatatextanalysis_spark.operators import components as cc

    # triangle given with duplicates/reversals + a self-loop + pendant
    df = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (1, 3), (3, 3), (3, 4)], "u LONG, v LONG"
    )
    got = {
        (r["a_id"], r["b_id"]): (r["n_common"], r["adamic_adar"])
        for r in cc.adamic_adar_edges(df).collect()
    }
    # deg: 1->2, 2->2, 3->3, 4->1
    assert got[(1, 2)] == (1, round(round(1 / math.log(3), 12), 6))
    assert got[(1, 3)] == (1, round(round(1 / math.log(2), 12), 6))
    assert got[(3, 4)] == (0, 0.0)


# --- Spearman ----------------------------------------------------------------


def _brute_spearman(xs, ys):
    def midranks(vals):
        s = sorted(vals)
        first: dict = {}
        from collections import Counter

        cnt = Counter(vals)
        pos = 0
        seen: dict = {}
        for v in s:
            if v not in seen:
                seen[v] = pos + (cnt[v] + 1) / 2
            pos += 1
        return [seen[v] for v in vals]

    rx, ry = midranks(xs), midranks(ys)
    n = len(xs)
    mx, my = sum(rx) / n, sum(ry) / n
    cov = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    vx = sum((a - mx) ** 2 for a in rx)
    vy = sum((b - my) ** 2 for b in ry)
    return cov / math.sqrt(vx * vy)


@pytest.mark.parametrize("seed", [6, 13])
def test_spearman_matches_brute_force(spark, seed):
    rng = random.Random(seed)
    xs = [rng.randrange(40) for _ in range(300)]  # heavy ties
    ys = [x + rng.randrange(25) for x in xs]  # monotone-ish + noise
    df = spark.createDataFrame(list(zip(xs, ys)), "x LONG, y LONG")
    got = st.spearman_rho(df, "x", "y").collect()[0]
    assert got["n"] == 300
    assert abs(got["spearman_rho"] - _brute_spearman(xs, ys)) < 1e-8


def test_spearman_continuous_and_edges(spark):
    rng = random.Random(21)
    xs = [round(rng.gauss(0, 1), 9) for _ in range(250)]
    ys = [round(-x + rng.gauss(0, 0.3), 9) for x in xs]
    df = spark.createDataFrame(list(zip(xs, ys)), "x DOUBLE, y DOUBLE")
    got = st.spearman_rho(df, "x", "y", n_buckets=8).collect()[0]
    assert abs(got["spearman_rho"] - _brute_spearman(xs, ys)) < 1e-8
    assert got["spearman_rho"] < -0.8
    # constant column -> NULL rho
    dfc = spark.createDataFrame([(1, 5), (2, 5), (3, 5)], "x LONG, y LONG")
    assert st.spearman_rho(dfc, "x", "y").collect()[0]["spearman_rho"] is None
    # perfect monotone -> exactly 1.0
    dfm = spark.createDataFrame([(i, i * i) for i in range(10)], "x LONG, y LONG")
    assert st.spearman_rho(dfm, "x", "y").collect()[0]["spearman_rho"] == 1.0


# --- ANN recall curve --------------------------------------------------------


def test_ann_recall_monotone_and_full_probe_exact(spark):
    """recall@k is monotone nondecreasing in n_probe (a truth pair
    caught at probe p cannot be displaced at a larger p: any candidate
    outscoring a global top-k item is itself global top-k), and under
    full probing the IVF candidate set is the corpus, so recall == 1.0
    exactly."""
    import __spark_entry__ as entrymod
    from sparkbigdatatextanalysis_spark.operators import ann as ann_ops

    sf = "/root/testdata/sf0.001"
    rows = {
        r["n_probe"]: (r["n_caught"], r["n_truth"], r["recall"])
        for r in entrymod.q_embeddings_ann_recall_curve(spark, sf).collect()
    }
    assert sorted(rows) == sorted(entrymod._ANN_RECALL_PROBES)
    probes = sorted(rows)
    for lo, hi in zip(probes, probes[1:]):
        assert rows[lo][0] <= rows[hi][0]
    # full probing == brute force
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    qids = emb.select("vec_id")
    truth = {
        (r["q_id"], r["n_id"])
        for r in ann_ops.cosine_topk_bruteforce(
            emb, qids, k=entrymod.ANN_K
        ).collect()
    }
    full = {
        (r["q_id"], r["n_id"])
        for r in ann_ops.cosine_topk_ivf(
            emb,
            qids,
            k=entrymod.ANN_K,
            n_probe=ann_ops.N_CENTROIDS,
            cents=ann_ops.kmeans_centroids(emb, n_centroids=ann_ops.N_CENTROIDS),
        ).collect()
    }
    assert full == truth


# ---------------------------------------------------------------- wave 3


def _brute_mann_kendall(xs):
    """Naive S / tie-corrected var / tau-b over an ordered series."""
    from collections import Counter

    n = len(xs)
    s = sum(
        (1 if xs[j] > xs[i] else -1 if xs[j] < xs[i] else 0)
        for i in range(n)
        for j in range(i + 1, n)
    )
    ties = Counter(xs).values()
    var = (n * (n - 1) * (2 * n + 5) - sum(t * (t - 1) * (2 * t + 5) for t in ties)) / 18
    if var > 0:
        z = (s - 1) / math.sqrt(var) if s > 0 else (s + 1) / math.sqrt(var) if s < 0 else 0.0
    else:
        z = None
    d = n * (n - 1) / 2
    t1 = sum(t * (t - 1) for t in ties) / 2
    tau = s / math.sqrt((d - t1) * d) if (d - t1) * d > 0 else None
    return s, var, z, tau


@pytest.mark.parametrize("seed", [2, 7])
def test_mann_kendall_matches_brute_force(spark, seed):
    from sparkbigdatatextanalysis_spark.operators import timeseries as tsx

    rng = random.Random(seed)
    # trending with heavy ties: integer steps + noise quantized to 5
    xs = [5 * ((i // 4) + rng.randrange(-2, 3)) for i in range(60)]
    df = spark.createDataFrame(list(enumerate(xs)), "t LONG, x LONG")
    got = tsx.mann_kendall(df, "t", "x").collect()[0]
    s, var, z, tau = _brute_mann_kendall(xs)
    assert got["n_periods"] == 60 and got["s_stat"] == s
    assert abs(got["var_s"] - round(var, 6)) < 1e-6
    assert abs(got["z_score"] - z) < 1e-8
    assert abs(got["tau_b"] - tau) < 1e-8


def test_mann_kendall_degenerate(spark):
    from sparkbigdatatextanalysis_spark.operators import timeseries as tsx

    # constant series: S = 0, all pairs tied -> var 0 -> z NULL
    df = spark.createDataFrame([(i, 3) for i in range(10)], "t LONG, x LONG")
    got = tsx.mann_kendall(df, "t", "x").collect()[0]
    assert got["s_stat"] == 0 and got["z_score"] is None and got["tau_b"] is None
    # strictly increasing: S = n(n-1)/2, z > 0, tau_b == 1
    df2 = spark.createDataFrame([(i, i) for i in range(12)], "t LONG, x LONG")
    got2 = tsx.mann_kendall(df2, "t", "x").collect()[0]
    assert got2["s_stat"] == 12 * 11 // 2
    assert got2["z_score"] > 0 and abs(got2["tau_b"] - 1.0) < 1e-9


def _brute_pettitt(xs):
    n = len(xs)
    best = None
    for t in range(1, n):  # U_t for t = 1..n-1 (1-based prefix length)
        u = sum(
            (1 if xs[j] > xs[i] else -1 if xs[j] < xs[i] else 0)
            for i in range(t)
            for j in range(t, n)
        )
        if best is None or abs(u) > best[0]:
            best = (abs(u), t, u)
    k, t, u = best
    p = min(1.0, 2.0 * math.exp(-6.0 * k * k / (n**3 + n**2)))
    return k, t, u, p


@pytest.mark.parametrize("seed", [3, 11])
def test_pettitt_matches_brute_force(spark, seed):
    from sparkbigdatatextanalysis_spark.operators import timeseries as tsx

    rng = random.Random(seed)
    # level shift at 2/3 with ties
    xs = [rng.randrange(10) for _ in range(40)] + [
        rng.randrange(6, 16) for _ in range(20)
    ]
    df = spark.createDataFrame(list(enumerate(xs)), "t LONG, x LONG")
    got = tsx.pettitt(df, "t", "x").collect()[0]
    k, t, u, p = _brute_pettitt(xs)
    assert got["n_periods"] == 60 and got["k_stat"] == k
    # changepoint_t is the t-th period 0-indexed: prefix of length t ends
    # at index t-1
    assert got["changepoint_t"] == t - 1
    assert got["u_at_changepoint"] == u
    assert abs(got["p_approx"] - p) < 1e-8


def test_pettitt_earliest_argmax_and_edges(spark):
    from sparkbigdatatextanalysis_spark.operators import timeseries as tsx

    # symmetric V shape: |U| ties resolve to the EARLIEST period
    xs = [3, 2, 1, 2, 3]
    df = spark.createDataFrame(list(enumerate(xs)), "t LONG, x LONG")
    got = tsx.pettitt(df, "t", "x").collect()[0]
    k, t, u, _ = _brute_pettitt(xs)
    assert got["k_stat"] == k and got["changepoint_t"] == t - 1
    # single period: no valid 1 <= t < n split -> empty result
    df1 = spark.createDataFrame([(0, 5)], "t LONG, x LONG")
    assert tsx.pettitt(df1, "t", "x").count() == 0


def test_anisotropy_identity_vs_pair_brute_force(spark):
    """|S|^2 - T == sum over ordered pairs of cosines, so the map-only
    key must equal the quadratic pair mean it replaces."""
    import numpy as np

    import __spark_entry__ as em

    got = em.queries()["embeddings_anisotropy"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    emb = np.array(
        [
            r["embedding"]
            for r in spark.read.parquet(
                "/root/testdata/sf0.001/embeddings.parquet"
            ).collect()
            if r["embedding"] is not None
        ],
        dtype=np.float64,
    )
    norms = np.linalg.norm(emb, axis=1)
    u = emb[norms > 0] / norms[norms > 0, None]
    n = len(u)
    cos = u @ u.T
    brute = (cos.sum() - np.trace(cos)) / (n * (n - 1))
    assert got["n_vectors"] == n
    assert abs(got["mean_pairwise_cos"] - brute) < 1e-6
    assert abs(got["mean_direction_norm"] - np.linalg.norm(u.sum(0)) / n) < 1e-6


def test_mixture_temperature_properties(spark):
    """Weights sum to 1 per alpha; lower alpha flattens the mixture
    (entropy increases); exact values match a Python replay."""
    import __spark_entry__ as em

    rows = em.queries()["docs_mixture_temperature"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_alpha: dict = {}
    for r in rows:
        by_alpha.setdefault(r["alpha"], []).append(r)
    assert set(by_alpha) == {0.3, 0.5, 0.7}
    ent = {}
    for a, rs in by_alpha.items():
        tot = sum(r["w_temperature"] for r in rs)
        assert abs(tot - 1.0) < 1e-6
        ent[a] = -sum(
            w * math.log(w) for w in (r["w_temperature"] for r in rs) if w > 0
        )
        # python replay of the documented formula
        raw = {r["source"]: round(round(r["p_natural"], 9) ** a, 12) for r in rs}
        den = sum(raw.values())
        for r in rs:
            assert abs(r["w_temperature"] - raw[r["source"]] / den) < 1e-8
    assert ent[0.3] >= ent[0.5] >= ent[0.7]


# ---------------------------------------------------------------- wave 4


def test_streaming_anomaly_replay_equals_batch(spark):
    """The gated 3-batch replay must emit exactly the batch monitor's
    anomaly set (same events, same z-scores) despite the Welford state
    crossing two micro-batch boundaries."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    got = {
        (r["user_id"], r["event_id"]): (r["zscore"], r["n_prior"])
        for r in em.queries()["streaming_anomaly_replay"](spark, sf).collect()
    }
    want = {
        (r["user_id"], r["event_id"]): (r["zscore"], r["n_prior"])
        for r in em.queries()["events_anomaly"](spark, sf).collect()
    }
    assert got == want and len(got) > 0


def test_sorted_neighborhood_matches_naive(spark):
    """SNM pairs == the naive sorted-list window pairs over the same
    normalized prefix ordering, with exact candidate count w*(n-w) +
    C(w,2) shy of the tail."""
    import re

    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    def key(text):
        k = re.sub(r"\W+", "", text.lower())[:8].ljust(8)
        packed = 0
        for ch in k:
            packed = packed * 128 + ord(ch)
        return packed
    order = sorted((key(r["text"]), r["doc_id"]) for r in docs)
    want = set()
    for i in range(len(order)):
        for g in range(1, 4):
            if i + g < len(order):
                want.add((order[i][1], order[i + g][1], g,
                          order[i][0] == order[i + g][0]))
    got = {
        (r["a_id"], r["b_id"], r["rank_gap"], r["same_prefix"])
        for r in em.queries()["dedup_sorted_neighborhood"](
            spark, sf
        ).collect()
    }
    assert got == want
    n, w = len(order), 3
    assert len(got) == w * n - w * (w + 1) // 2


def test_user_brand_hits_matches_python_replay(spark):
    """The 2-round ferried HITS must equal a Python replay of the same
    rounded recurrence, and reduce to degree shares at round 0."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    got = {
        r["brand"]: (r["n_users"], r["authority"])
        for r in em.queries()["user_brand_hits"](spark, sf).collect()
    }
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    part = spark.read.parquet(f"{sf}/part.parquet").select(
        "p_partkey", "p_brand"
    )
    orders = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    edges = {
        (r["o_custkey"], r["p_brand"])
        for r in li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_custkey", "p_brand")
        .distinct()
        .collect()
    }
    from collections import defaultdict

    deg = defaultdict(int)
    for _, b in edges:
        deg[b] += 1
    ne = sum(deg.values())
    a = {b: round(d / ne, 9) for b, d in deg.items()}
    for _ in range(2):
        hub_raw = defaultdict(float)
        for u, b in edges:
            hub_raw[u] += a[b]  # 9dp terms: float sum == decimal here
        h = sum(hub_raw.values())
        hub = {u: round(v / h, 12) for u, v in hub_raw.items()}
        ar = defaultdict(float)
        for u, b in edges:
            ar[b] += hub[u]
        asum = sum(ar.values())
        a = {b: round(v / asum, 9) for b, v in ar.items()}
    assert set(got) == set(a)
    for b in a:
        assert got[b][0] == deg[b]
        assert abs(got[b][1] - a[b]) < 1e-6
    # authorities are a distribution
    assert abs(sum(v for _, v in got.values()) - 1.0) < 1e-6


def test_overlap_curve_monotone_in_n(spark):
    """Longer shingles can only reduce contamination: every n-gram hit
    at n implies hits at every n' < n (each long shingle contains a
    short one from the same doc), so doc contamination is
    non-increasing in n. Rates are well-formed."""
    import __spark_entry__ as em

    rows = {
        r["n_gram"]: r
        for r in em.queries()["train_test_overlap_curve"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert set(rows) == {3, 5, 8}
    assert (
        rows[3]["n_docs_contaminated"]
        >= rows[5]["n_docs_contaminated"]
        >= rows[8]["n_docs_contaminated"]
    )
    for r in rows.values():
        assert r["n_test_docs"] >= r["n_docs_contaminated"] >= 0
        assert r["n_test_shingles"] >= r["n_shingle_hits"] >= 0
        assert 0.0 <= r["doc_contamination_rate"] <= 1.0
        assert 0.0 <= r["shingle_hit_rate"] <= 1.0


# ---------------------------------------------------------------- wave 5


def test_streaming_funnel_replay_equals_batch_reach(spark):
    """The replayed funnel's row-level reach events must equal a naive
    first-touch chain over the same events, and aggregate to the
    funnel_conversion step counts."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    got = {
        (r["user_id"], r["step_idx"]): r["reach_us"]
        for r in em.queries()["streaming_funnel_replay"](spark, sf).collect()
    }
    ev = (
        em._events(spark, sf)
        .where("ts IS NOT NULL")
        .selectExpr("user_id", "event_type", "unix_micros(ts) AS tus")
        .collect()
    )
    from collections import defaultdict

    per = defaultdict(list)
    for r in ev:
        per[r["user_id"]].append((r["tus"], r["event_type"]))
    want = {}
    for u, rows in per.items():
        last = -(2**62)
        for idx, step in enumerate(["view", "click", "purchase"]):
            cand = [t for t, et in rows if et == step and t > last]
            if not cand:
                break
            last = min(cand)
            want[(u, idx)] = last
    assert got == want and len(got) > 0
    # aggregates match the gated batch funnel
    counts = defaultdict(int)
    for (_, idx) in got:
        counts[idx] += 1
    fc = {
        r["step_idx"]: r["n_users"]
        for r in em.queries()["funnel_conversion"](spark, sf).collect()
    }
    assert {i: counts.get(i, 0) for i in fc} == fc


def test_silhouette_in_range_and_consistent_with_inertia(spark):
    """Silhouette values live in [-1, 1]; cluster ids and member
    counts agree exactly with the inertia audit (same assignment
    kernel)."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    sil = {
        r["cluster"]: r
        for r in em.queries()["embeddings_silhouette"](spark, sf).collect()
    }
    inr = {
        r["cluster"]: r["n_vectors"]
        for r in em.queries()["embeddings_cluster_inertia"](
            spark, sf
        ).collect()
    }
    assert {c: r["n_vectors"] for c, r in sil.items()} == inr
    for r in sil.values():
        assert -1.0 <= r["min_silhouette"] <= r["mean_silhouette"] <= 1.0


def test_corr_matrix_matches_numpy(spark):
    import numpy as np

    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    got = {
        (r["metric_a"], r["metric_b"]): r["pearson_r"]
        for r in em.queries()["orders_metric_corr_matrix"](
            spark, sf
        ).collect()
    }
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    per = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("double").alias("n_items"),
        F.sum("l_quantity").cast("double").alias("sum_qty"),
        F.sum("l_discount").cast("double").alias("sum_discount"),
    )
    rows = (
        o.selectExpr("o_orderkey", "o_totalprice AS total_price")
        .join(per, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("total_price", "n_items", "sum_qty", "sum_discount")
        .collect()
    )
    mat = np.array([[r[c] for c in
                     ("total_price", "n_items", "sum_qty", "sum_discount")]
                    for r in rows])
    cm = np.corrcoef(mat.T)
    names = ["total_price", "n_items", "sum_qty", "sum_discount"]
    for (a, b), v in got.items():
        ia, ib = names.index(a), names.index(b)
        assert abs(v - cm[ia, ib]) < 1e-6, (a, b, v, cm[ia, ib])
    assert len(got) == 6


def test_rule_firing_matrix_consistent_with_flags(spark):
    """Matrix sums re-aggregate the per-doc rule flags exactly."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    got = {
        r["source"]: r
        for r in em.queries()["docs_rule_firing_matrix"](spark, sf).collect()
    }
    flags = {
        r["doc_id"]: r
        for r in em.queries()["docs_curation_rules"](spark, sf).collect()
    }
    src = {
        r["doc_id"]: r["source"]
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "source")
        .collect()
    }
    from collections import defaultdict

    agg = defaultdict(lambda: defaultdict(int))
    for d, fl in flags.items():
        s = src[d]
        agg[s]["n_docs"] += 1
        agg[s]["n_keep"] += fl["keep"]
        agg[s]["pass_n_tokens"] += fl["r_n_tokens"]
        agg[s]["pass_alpha_ratio"] += fl["r_alpha_ratio"]
    for s, r in got.items():
        assert r["n_docs"] == agg[s]["n_docs"]
        assert r["n_keep"] == agg[s]["n_keep"]
        assert r["pass_n_tokens"] == agg[s]["pass_n_tokens"]
        assert r["pass_alpha_ratio"] == agg[s]["pass_alpha_ratio"]


# ---------------------------------------------------------------- wave 6


def test_bcubed_matches_python_replay(spark):
    """B-cubed P/R/F from the cell decomposition must equal the naive
    per-item definition."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    got = em.queries()["dedup_bcubed_eval"](spark, sf).collect()[0]
    pred = {
        r["doc_id"]: r["keep_id"]
        for r in em.queries()["dedup_near_clusters"](spark, sf).collect()
    }
    # gold pairs are (even, even+1) generated from EXISTING even docs:
    # an odd doc's truth label is its even base iff that base exists;
    # an even doc is always its own label (its +1 partner row, if any,
    # never relabels it)
    truth = {
        d: (d - (d % 2) if (d % 2 == 0 or (d - 1) in pred) else d)
        for d in pred
    }
    from collections import defaultdict

    pc, tc = defaultdict(set), defaultdict(set)
    for d in pred:
        pc[pred[d]].add(d)
        tc[truth[d]].add(d)
    n = len(pred)
    p = sum(
        len(pc[pred[d]] & tc[truth[d]]) / len(pc[pred[d]]) for d in pred
    ) / n
    r = sum(
        len(pc[pred[d]] & tc[truth[d]]) / len(tc[truth[d]]) for d in pred
    ) / n
    assert got["n_docs"] == n
    assert abs(got["bcubed_precision"] - p) < 1e-6
    assert abs(got["bcubed_recall"] - r) < 1e-6
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    assert abs(got["bcubed_f1"] - f1) < 1e-6
    assert 0 < got["bcubed_precision"] <= 1 and 0 < got["bcubed_recall"] <= 1


def test_quantization_error_small_and_overlap_high(spark):
    """int8 on 64-dim unit-scale vectors: errors must be tiny (the
    audit's green-light regime) and rank-1 overlap near-perfect; n_pairs
    per rank equals the query count."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    rows = {
        r["rank"]: r
        for r in em.queries()["embeddings_quantization_error"](
            spark, sf
        ).collect()
    }
    assert set(rows) == {1, 2, 3, 4, 5}
    nq = rows[1]["n_pairs"]
    for r in rows.values():
        assert r["n_pairs"] == nq
        assert r["mean_abs_err"] < 0.01
        assert r["max_abs_err"] < 0.05
        assert 0.0 <= r["quant_topk_overlap"] <= 1.0
    assert rows[1]["quant_topk_overlap"] >= 0.9


def test_debounce_greedy_equivalence_and_conservation(spark):
    """Each (user,type)'s kept+suppressed counts conserve the event
    count, and the kept set matches a naive gap-chain replay."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    got = em.queries()["events_debounce"](spark, sf).collect()
    ev = (
        em._events(spark, sf)
        .where("ts IS NOT NULL")
        .selectExpr("user_id", "event_type", "event_id",
                    "unix_micros(ts) AS us")
        .collect()
    )
    from collections import defaultdict

    per = defaultdict(list)
    for r in ev:
        per[(r["user_id"], r["event_type"])].append((r["us"], r["event_id"]))
    want = {}
    for k, rows in per.items():
        rows.sort()
        cur_first, cur_n = None, 0
        last = None
        for us, eid in rows:
            if last is None or us - last > 300 * 1_000_000:
                if cur_first is not None:
                    want[(k[0], k[1], cur_first[1])] = (cur_first[0], cur_n - 1)
                cur_first, cur_n = (us, eid), 1
            else:
                cur_n += 1
            last = us
        want[(k[0], k[1], cur_first[1])] = (cur_first[0], cur_n - 1)
    got_m = {
        (r["user_id"], r["event_type"], r["event_id"]): (
            r["kept_us"], r["n_suppressed"]
        )
        for r in got
    }
    assert got_m == want
    assert sum(v[1] + 1 for v in got_m.values()) == len(ev)
