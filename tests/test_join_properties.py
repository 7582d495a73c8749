"""Property-based checks of the custom join operators against naive
Python reference implementations: hypothesis generates small random
tables (dup keys, tie timestamps, unmatched rows) and the distributed
forms must agree exactly.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sparkbigdatatextanalysis_spark.operators import relational as rel
from sparkbigdatatextanalysis_spark.operators import similarity as sim
from sparkbigdatatextanalysis_spark.operators import skew

PROP = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

KEYS = st.integers(min_value=0, max_value=3)
TS = st.integers(min_value=0, max_value=20)

LEFT = st.lists(st.tuples(KEYS, TS), min_size=1, max_size=12)
RIGHT = st.lists(st.tuples(KEYS, TS), min_size=0, max_size=12)


@PROP
@given(
    left=LEFT,
    right=RIGHT,
    strict=st.booleans(),
    direction=st.sampled_from(["backward", "forward"]),
)
def test_asof_matches_naive(spark, left, right, strict, direction):
    # de-dup right rows on (key, ts): the operator documents ties among
    # right rows at identical (key, ts) as caller-resolved
    seen = set()
    right = [r for r in right if not (r in seen or seen.add(r))]
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "lid INT, k INT, ts INT"
    )
    rdf = spark.createDataFrame(
        [(j, k, t) for j, (k, t) in enumerate(right)], "rid INT, k INT, ts INT"
    )
    out = rel.asof_join(
        ldf, rdf, key="k", right_payload=["rid"], strict=strict,
        direction=direction,
    )
    got = {r["lid"]: r["rid"] for r in out.collect()}
    want = {}
    for i, (k, t) in enumerate(left):
        if direction == "backward":
            cands = [
                (rt, j) for j, (rk, rt) in enumerate(right)
                if rk == k and (rt < t if strict else rt <= t)
            ]
            want[i] = max(cands)[1] if cands else None
        else:
            cands = [
                (rt, j) for j, (rk, rt) in enumerate(right)
                if rk == k and (rt > t if strict else rt >= t)
            ]
            want[i] = min(cands)[1] if cands else None
    assert got == want


@PROP
@given(left=LEFT, right=RIGHT, span=st.integers(min_value=0, max_value=6))
def test_interval_join_matches_naive(spark, left, right, span):
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "lid INT, k1 INT, t1 INT"
    )
    rdf = spark.createDataFrame(
        [(j, k, t) for j, (k, t) in enumerate(right)], "rid INT, k2 INT, t2 INT"
    )
    out = rel.interval_join(
        ldf, rdf, "k1", "k2",
        (F.col("t2") > F.col("t1")) & (F.col("t2") <= F.col("t1") + span),
    )
    got = {(r["lid"], r["rid"]) for r in out.collect()}
    want = {
        (i, j)
        for i, (k, t) in enumerate(left)
        for j, (rk, rt) in enumerate(right)
        if rk == k and t < rt <= t + span
    }
    assert got == want


@PROP
@given(left=LEFT, right=RIGHT, how=st.sampled_from(["inner", "left"]))
def test_salted_join_matches_plain(spark, left, right, how):
    ldf = spark.createDataFrame(
        [(i, k) for i, (k, _) in enumerate(left)], "lid INT, k INT"
    )
    rdf = spark.createDataFrame(
        [(j, k) for j, (k, _) in enumerate(right)], "rid INT, rk INT"
    )
    salted = skew.salted_join(ldf, rdf, "k", "rk", n_salts=3, salt_from="lid", how=how)
    plain = ldf.join(rdf, ldf.k == rdf.rk, how)
    assert sorted(
        (r["lid"], r["rid"]) for r in salted.collect()
    ) == sorted((r["lid"], r["rid"]) for r in plain.collect())


# Token sets over a tiny vocabulary -- the regime where the bitmask
# strategy (incl. its mask-equivalence-class popcount) activates.
# Duplicate token sets across docs are likely by construction, so class
# expansion is genuinely exercised.
TOKSET = st.sets(st.sampled_from(["t0", "t1", "t2", "t3", "t4"]), max_size=5)
DOCS = st.lists(TOKSET, min_size=0, max_size=10)


@PROP
@given(docs_a=DOCS, docs_b=DOCS)
def test_bitmask_class_pairs_match_sparse_and_naive(spark, docs_a, docs_b):
    def postings(docs, prefix):
        rows = [(t, f"{prefix}{i}") for i, ts in enumerate(docs) for t in ts]
        return spark.createDataFrame(rows or [("x", "y")], "token STRING, id STRING").where(
            F.lit(bool(rows))
        )

    idx_a, idx_b = postings(docs_a, "a"), postings(docs_b, "b")
    want = {
        (f"a{i}", f"b{j}", len(sa & sb))
        for i, sa in enumerate(docs_a)
        for j, sb in enumerate(docs_b)
        if sa & sb
    }
    # the stated vocabulary picks the form: its real size -> bitmask,
    # unknown -> sparse
    n_vocab = len(set().union(*docs_a, *docs_b))
    for vocab_n in (n_vocab, None):
        got = {
            (r["a_id"], r["b_id"], r["n_common"])
            for r in sim.common_token_pairs(idx_a, idx_b, vocab_n=vocab_n).collect()
        }
        assert got == want, vocab_n


SKEWED = st.lists(
    st.one_of(st.just(0), KEYS),  # key 0 over-represented ~half the time
    min_size=1,
    max_size=30,
)


@PROP
@given(probe_keys=SKEWED, build_keys=RIGHT, how=st.sampled_from(["inner", "left"]))
def test_salted_join_auto_matches_plain(spark, probe_keys, build_keys, how):
    """The hybrid measure-then-salt join is result-identical to a plain
    join whatever the hot-key set turns out to be (including empty)."""
    ldf = spark.createDataFrame(
        [(i, k) for i, k in enumerate(probe_keys)], "lid INT, k INT"
    )
    rdf = spark.createDataFrame(
        [(j, k) for j, (k, _) in enumerate(build_keys)], "rid INT, rk INT"
    )
    auto = skew.salted_join_auto(
        ldf, rdf, "k", "rk", n_salts=3, factor=1.5, salt_from="lid", how=how
    )
    plain = ldf.join(rdf, ldf.k == rdf.rk, how)
    assert sorted(
        (r["lid"], r["rid"]) for r in auto.collect()
    ) == sorted((r["lid"], r["rid"]) for r in plain.collect())


def test_salted_join_auto_splits_hot_key(spark):
    """Deterministic case: one dominant key. The hot path must actually
    engage (the hot-key slice is non-empty) and results stay exact."""
    probe = [(i, 7 if i % 4 else i % 3) for i in range(200)]
    build = [(j, j % 10) for j in range(30)]
    ldf = spark.createDataFrame(probe, "lid INT, k INT")
    rdf = spark.createDataFrame(build, "rid INT, rk INT")
    from sparkbigdatatextanalysis_spark.operators.stats import heavy_hitters

    hot = [r["k"] for r in heavy_hitters(ldf, "k", factor=2.0).collect()]
    assert hot == [7]
    auto = skew.salted_join_auto(
        ldf, rdf, "k", "rk", n_salts=4, factor=2.0, salt_from="lid"
    )
    plain = ldf.join(rdf, ldf.k == rdf.rk)
    assert sorted((r["lid"], r["rid"]) for r in auto.collect()) == sorted(
        (r["lid"], r["rid"]) for r in plain.collect()
    )
