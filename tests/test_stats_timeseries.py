"""Unit tests for the round-2 batch: merge_upsert, gap_fill,
grouped_pearson, heavy_hitters, group_centroids."""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkbigdatatextanalysis_spark.operators import relational as rel
from sparkbigdatatextanalysis_spark.operators import stats as st
from sparkbigdatatextanalysis_spark.operators import timeseries as tso
from sparkbigdatatextanalysis_spark.operators import vectors as vec


# ---------------------------------------------------------------------------
# merge_upsert
# ---------------------------------------------------------------------------


def test_merge_upsert_actions(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k INT, s STRING, v DOUBLE"
    )
    source = spark.createDataFrame(
        [(2, "B", 22.0), (4, "d", 40.0)], "k INT, s STRING, v DOUBLE"
    )
    out = rel.merge_upsert(target, source, ["k"])
    rows = {r["k"]: (r["s"], r["v"], r["action"]) for r in out.collect()}
    assert rows == {
        1: ("a", 10.0, "keep"),
        2: ("B", 22.0, "update"),
        3: ("c", 30.0, "keep"),
        4: ("d", 40.0, "insert"),
    }


def test_merge_upsert_empty_source_and_target(spark):
    schema = "k INT, v DOUBLE"
    t = spark.createDataFrame([(1, 1.0)], schema)
    empty = spark.createDataFrame([], schema)
    all_keep = rel.merge_upsert(t, empty, ["k"]).collect()
    assert [(r["k"], r["action"]) for r in all_keep] == [(1, "keep")]
    all_insert = rel.merge_upsert(empty, t, ["k"]).collect()
    assert [(r["k"], r["action"]) for r in all_insert] == [(1, "insert")]


def test_merge_upsert_validates(spark):
    t = spark.createDataFrame([(1, 1.0)], "k INT, v DOUBLE")
    s_bad = spark.createDataFrame([(1, "x")], "k INT, other STRING")
    with pytest.raises(ValueError, match="schemas differ"):
        rel.merge_upsert(t, s_bad, ["k"])
    t_clash = spark.createDataFrame([(1, "keep")], "k INT, action STRING")
    with pytest.raises(ValueError, match="already exists"):
        rel.merge_upsert(t_clash, t_clash, ["k"])


# ---------------------------------------------------------------------------
# gap_fill
# ---------------------------------------------------------------------------


def _ts(h: int, m: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, h, m)


def test_gap_fill_inserts_zero_rows(spark):
    ev = spark.createDataFrame(
        [
            (1, _ts(0, 10), 5.0),
            (1, _ts(0, 50), 7.0),
            (1, _ts(3, 0), 1.0),  # hours 1 and 2 are gaps
            (2, _ts(5, 0), 2.0),  # single-bucket key: no gap rows
        ],
        "user_id INT, ts TIMESTAMP, value DOUBLE",
    )
    out = tso.gap_fill(
        ev,
        key="user_id",
        aggs={
            "n_events": F.count(F.lit(1)),
            "sum_value": F.sum("value"),
        },
        fill={"sum_value": 0.0},
    )
    rows = {
        (r["user_id"], r["bucket"].hour): (r["n_events"], r["sum_value"])
        for r in out.collect()
    }
    assert rows == {
        (1, 0): (2, 12.0),
        (1, 1): (0, 0.0),
        (1, 2): (0, 0.0),
        (1, 3): (1, 1.0),
        (2, 5): (1, 2.0),
    }


def test_gap_fill_day_bucket(spark):
    ev = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 9), 1.0), (1, dt.datetime(2024, 1, 4, 9), 1.0)],
        "user_id INT, ts TIMESTAMP, value DOUBLE",
    )
    out = tso.gap_fill(ev, key="user_id", bucket="1 day").collect()
    days = sorted(r["bucket"].day for r in out)
    assert days == [1, 2, 3, 4]
    assert sum(r["n_events"] for r in out) == 2


# ---------------------------------------------------------------------------
# grouped_pearson
# ---------------------------------------------------------------------------


def test_grouped_pearson_matches_numpy(spark):
    rng = np.random.default_rng(7)
    rows = []
    for g in ("a", "b"):
        x = rng.uniform(0, 1000, 200)
        y = 0.4 * x + rng.normal(0, 50, 200) if g == "a" else rng.uniform(0, 1, 200)
        rows += [(g, float(xi), float(yi)) for xi, yi in zip(x, y)]
    df = spark.createDataFrame(rows, "g STRING, x DOUBLE, y DOUBLE")
    got = {
        r["g"]: (r["n"], r["pearson_r"])
        for r in st.grouped_pearson(df, "x", "y", ["g"]).collect()
    }
    for g in ("a", "b"):
        xs = np.array([x for gg, x, _ in rows if gg == g])
        ys = np.array([y for gg, _, y in rows if gg == g])
        expected = np.corrcoef(xs, ys)[0, 1]
        assert got[g][0] == 200
        assert got[g][1] == pytest.approx(expected, abs=1e-9)


def test_grouped_pearson_degenerate_and_nulls(spark):
    df = spark.createDataFrame(
        [("a", 1.0, 1.0), ("a", 1.0, 2.0), ("b", 1.0, None), ("b", 2.0, 4.0)],
        "g STRING, x DOUBLE, y DOUBLE",
    )
    got = {r["g"]: (r["n"], r["pearson_r"]) for r in
           st.grouped_pearson(df, "x", "y", ["g"]).collect()}
    # group a: zero x-variance -> NULL r, not NaN/crash
    assert got["a"] == (2, None)
    # group b: the NULL-y row is dropped (pairwise complete)
    assert got["b"][0] == 1


# ---------------------------------------------------------------------------
# heavy_hitters
# ---------------------------------------------------------------------------


def test_heavy_hitters_flags_hot_key(spark):
    rows = [(1,)] * 60 + [(2,)] * 20 + [(3,)] * 20  # mean load ~33.3
    df = spark.createDataFrame(rows, "k INT")
    out = st.heavy_hitters(df, "k", factor=1.5)
    got = {r["k"]: (r["n_rows"], r["share"]) for r in out.collect()}
    assert got == {1: (60, 0.6)}


def test_heavy_hitters_uniform_none(spark):
    df = spark.createDataFrame([(i % 4,) for i in range(100)], "k INT")
    assert st.heavy_hitters(df, "k", factor=1.5).count() == 0


# ---------------------------------------------------------------------------
# group_centroids
# ---------------------------------------------------------------------------


def test_group_centroids_matches_numpy(spark):
    rng = np.random.default_rng(3)
    data = [
        (int(lbl), [float(v) for v in rng.uniform(-1, 1, 8)])
        for lbl in rng.integers(0, 3, 50)
    ]
    df = spark.createDataFrame(data, "label INT, embedding ARRAY<DOUBLE>")
    got = {
        (r["label"], r["dim"]): (r["centroid"], r["n_vectors"])
        for r in vec.group_centroids(df).collect()
    }
    for lbl in range(3):
        vecs = np.array([v for l, v in data if l == lbl])
        mean = vecs.mean(axis=0)
        for d in range(8):
            c, n = got[(lbl, d)]
            assert n == len(vecs)
            assert c == pytest.approx(round(float(mean[d]), 9), abs=1e-8)


def test_group_centroids_null_and_ragged(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (0, None), (0, [3.0])],
        "label INT, embedding ARRAY<DOUBLE>",
    )
    got = {(r["label"], r["dim"]): (r["centroid"], r["n_vectors"])
           for r in vec.group_centroids(df).collect()}
    # NULL vector skipped entirely; ragged vector contributes only dim 0
    assert got == {(0, 0): (2.0, 2), (0, 1): (2.0, 1)}


# ---------------------------------------------------------------------------
# pii_scrub
# ---------------------------------------------------------------------------


def test_pii_scrub_dirty_text(spark):
    from sparkbigdatatextanalysis_spark.operators import textstats as ts

    df = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@example.co.uk or call 0123456789 now"),
            (2, "clean text with short 12345 digits"),  # 5 digits: kept
            (3, "ids 111111 and 222222222"),
            (4, "digits inside email a123456@b.com count once"),
            (5, None),
        ],
        "doc_id INT, text STRING",
    )
    got = {r["doc_id"]: (r["scrubbed_text"], r["n_redactions"])
           for r in ts.pii_scrub(df).collect()}
    assert got[1] == ("contact <EMAIL> or call <NUM> now", 2)
    assert got[2] == ("clean text with short 12345 digits", 0)
    assert got[3] == ("ids <NUM> and <NUM>", 2)
    assert got[4] == ("digits inside email <EMAIL> count once", 1)
    assert got[5] == (None, None)


def test_pii_scrub_matches_duckdb_on_dirty_text(spark):
    """The Spark operator and the oracle SQL's regex semantics agree on
    text that actually contains PII (the driver corpus is clean, so this
    is the real cross-engine check)."""
    import duckdb

    from sparkbigdatatextanalysis_spark.operators import textstats as ts

    rows = [
        (1, "mail x@y.io and 9876543 end"),
        (2, "a@b.cd c@d.ef 123456789012"),
        (3, "no pii here"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    got = sorted(
        (r["doc_id"], r["scrubbed_text"], r["n_redactions"])
        for r in ts.pii_scrub(df).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    import __spark_entry__ as entry_mod

    exp = sorted(con.execute(entry_mod.oracle_sql()["docs_pii_scrub"]).fetchall())
    assert got == exp


# ---------------------------------------------------------------------------
# merge_upsert randomized invariants
# ---------------------------------------------------------------------------


def test_merge_upsert_randomized_invariants(spark):
    rng = np.random.default_rng(11)
    tkeys = sorted(rng.choice(1000, 80, replace=False).tolist())
    skeys = sorted(rng.choice(1000, 40, replace=False).tolist())
    target = spark.createDataFrame([(k, f"t{k}") for k in tkeys], "k INT, v STRING")
    source = spark.createDataFrame([(k, f"s{k}") for k in skeys], "k INT, v STRING")
    out = rel.merge_upsert(target, source, ["k"]).collect()
    by_action = {}
    for r in out:
        by_action.setdefault(r["action"], set()).add(r["k"])
    tset, sset = set(tkeys), set(skeys)
    assert by_action.get("keep", set()) == tset - sset
    assert by_action.get("update", set()) == tset & sset
    assert by_action.get("insert", set()) == sset - tset
    assert len(out) == len(tset | sset)
    # source wins on every source key
    vals = {r["k"]: r["v"] for r in out}
    for k in skeys:
        assert vals[k] == f"s{k}"


def test_gap_fill_multi_unit_bucket(spark):
    """15-minute buckets: aggregation buckets and grid stride must agree
    (regression: date_trunc-to-minute buckets vs 15-minute grid strides
    silently dropped aggregated rows)."""
    ev = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 0, 7), 1.0),   # 00:00 bucket
            (1, dt.datetime(2024, 1, 1, 0, 22), 2.0),  # 00:15 bucket
            (1, dt.datetime(2024, 1, 1, 1, 3), 3.0),   # 01:00 bucket
        ],
        "user_id INT, ts TIMESTAMP, value DOUBLE",
    )
    out = tso.gap_fill(ev, key="user_id", bucket="15 minutes")
    rows = {
        (r["bucket"].hour, r["bucket"].minute): r["n_events"]
        for r in out.collect()
    }
    assert rows == {
        (0, 0): 1, (0, 15): 1, (0, 30): 0, (0, 45): 0, (1, 0): 1,
    }
    assert sum(rows.values()) == 3  # no aggregated row lost


def test_gap_fill_rejects_bad_bucket(spark):
    ev = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1.0)], "user_id INT, ts TIMESTAMP, value DOUBLE"
    )
    with pytest.raises(ValueError, match="interval must be"):
        tso.gap_fill(ev, key="user_id", bucket="hour")
    with pytest.raises(ValueError, match="unsupported interval unit"):
        tso.gap_fill(ev, key="user_id", bucket="2 months")
    with pytest.raises(ValueError, match="count must be >= 1"):
        tso.gap_fill(ev, key="user_id", bucket="0 minutes")


def test_merge_upsert_rejects_reserved_column(spark):
    t = spark.createDataFrame([(1, 1)], "k INT, _in_target INT")
    with pytest.raises(ValueError, match="_in_target"):
        rel.merge_upsert(t, t, ["k"])


# ---------------------------------------------------------------------------
# gap_fill properties
# ---------------------------------------------------------------------------


def test_gap_fill_properties_random(spark):
    """Random events: per key the output buckets form a CONTIGUOUS range
    at the bucket stride, counts sum to the input count, and zero-count
    rows appear exactly at the empty buckets."""
    rng = np.random.default_rng(21)
    rows = [
        (int(k), dt.datetime(2024, 1, 1) + dt.timedelta(minutes=int(m)), 1.0)
        for k, m in zip(rng.integers(0, 4, 300), rng.integers(0, 600, 300))
    ]
    ev = spark.createDataFrame(rows, "user_id INT, ts TIMESTAMP, value DOUBLE")
    out = tso.gap_fill(ev, key="user_id", bucket="15 minutes").collect()
    per_key: dict[int, dict] = {}
    for r in out:
        per_key.setdefault(r["user_id"], {})[r["bucket"]] = r["n_events"]
    assert sum(sum(d.values()) for d in per_key.values()) == len(rows)
    for k, d in per_key.items():
        bks = sorted(d)
        for a, b in zip(bks, bks[1:]):
            assert (b - a).total_seconds() == 900  # contiguous 15-min stride
        # expected counts from raw rows
        from collections import Counter

        exp = Counter(
            dt.datetime(2024, 1, 1)
            + dt.timedelta(seconds=((t - dt.datetime(2024, 1, 1)).total_seconds() // 900) * 900)
            for kk, t, _ in rows
            if kk == k
        )
        assert {b: c for b, c in d.items() if c > 0} == dict(exp)


# ---------------------------------------------------------------------------
# winsorize
# ---------------------------------------------------------------------------


def test_winsorize_matches_numpy(spark):
    rng = np.random.default_rng(17)
    rows = [
        (g, float(v))
        for g in ("a", "b")
        for v in rng.normal(0, 100, 200)
    ]
    df = spark.createDataFrame(rows, "g STRING, v DOUBLE")
    out = st.winsorize(df, "v", ["g"], lower=0.05, upper=0.95).collect()
    import numpy as _np

    for g in ("a", "b"):
        vals = _np.array([v for gg, v in rows if gg == g])
        lo = _np.quantile(vals, 0.05)  # linear interpolation, same as SQL percentile
        hi = _np.quantile(vals, 0.95)
        got = [(r["v"], r["v_wins"], r["was_clipped"]) for r in out if r["g"] == g]
        assert len(got) == 200
        for v, w, clipped in got:
            assert w == pytest.approx(min(max(v, lo), hi), rel=1e-12)
            assert clipped == (v < lo or v > hi)
    n_clipped = sum(r["was_clipped"] for r in out)
    assert 0 < n_clipped <= 0.11 * len(rows)


def test_winsorize_validates(spark):
    df = spark.createDataFrame([("a", 1.0)], "g STRING, v DOUBLE")
    with pytest.raises(ValueError, match="lower < upper"):
        st.winsorize(df, "v", ["g"], lower=0.9, upper=0.1)


# ---------------------------------------------------------------------------
# sample_to_token_budget
# ---------------------------------------------------------------------------


def test_sample_to_token_budget_properties(spark):
    from sparkbigdatatextanalysis_spark.operators.pipeline import (
        sample_to_token_budget,
    )

    rng = np.random.default_rng(23)
    docs = [(i, int(rng.integers(50, 500))) for i in range(2000)]
    total = sum(n for _, n in docs)
    budget = total // 4
    df = spark.createDataFrame(docs, "doc_id LONG, n_tokens LONG")
    kept = sample_to_token_budget(df, budget, n_shards=8)
    rows = kept.collect()
    kept_tokens = sum(r["n_tokens"] for r in rows)
    max_doc = max(n for _, n in docs)
    # budget respected within the documented overshoot bound, and not
    # wildly undershot (each shard fills to its share)
    assert kept_tokens < budget + 8 * max_doc
    assert kept_tokens > 0.8 * budget
    # deterministic: same result under a different partitioning
    rows2 = sample_to_token_budget(df.repartition(13), budget, n_shards=8).collect()
    assert sorted(r["doc_id"] for r in rows) == sorted(r["doc_id"] for r in rows2)
    with pytest.raises(ValueError, match="budget must be"):
        sample_to_token_budget(df, 0)


def test_winsorize_null_value_and_null_group(spark):
    """NULL values stay NULL (not fabricated into the lower bound) and
    NULL group keys keep their rows (null-safe bounds join)."""
    rows = [("a", float(v)) for v in range(100)] + [
        ("a", None),
        (None, 5.0),
        (None, 500.0),
        (None, None),
    ]
    df = spark.createDataFrame(rows, "g STRING, v DOUBLE")
    out = st.winsorize(df, "v", ["g"], lower=0.1, upper=0.9).collect()
    assert len(out) == len(rows)  # no row lost
    null_v = [r for r in out if r["g"] == "a" and r["v"] is None]
    assert null_v[0]["v_wins"] is None
    assert null_v[0]["was_clipped"] is False
    null_g = {r["v"]: r["v_wins"] for r in out if r["g"] is None}
    # NULL group: bounds from {5.0, 500.0}; both endpoints unclipped
    # (they ARE the percent bounds' interpolation range)
    assert set(null_g) == {5.0, 500.0, None}


def test_winsorize_reserved_columns(spark):
    df = spark.createDataFrame([("a", 1.0, 2.0)], "g STRING, v DOUBLE, _lo DOUBLE")
    with pytest.raises(ValueError, match="_lo"):
        st.winsorize(df, "v", ["g"])


def test_sample_to_token_budget_validates_shards(spark):
    from sparkbigdatatextanalysis_spark.operators.pipeline import (
        sample_to_token_budget,
    )

    df = spark.createDataFrame([(1, 10)], "doc_id LONG, n_tokens LONG")
    for bad in (0, -8):
        with pytest.raises(ValueError, match="n_shards"):
            sample_to_token_budget(df, 100, n_shards=bad)


def _dequantize(qemb):
    """Inverse of ``quantize_embeddings``, the reference its round trip
    is checked against: (vec_id, embedding ARRAY<DOUBLE>) with
    embedding[i] = scale * qvec[i]; a NULL qvec stays NULL."""
    return qemb.select(
        "vec_id",
        F.when(F.col("qvec").isNull(), F.lit(None).cast("array<double>"))
        .otherwise(
            F.transform("qvec", lambda x: x.cast("double") * F.col("scale"))
        )
        .alias("embedding"),
    )


def _hashed_embeddings(tok, dim):
    """(id, embedding) arrays assembled from ``hashed_doc_components``'s
    (id, pos, component) rows."""
    return (
        vec.hashed_doc_components(tok, dim=dim)
        .groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "component"))).alias("_c"))
        .select("id", F.col("_c.component").alias("embedding"))
    )


class TestQuantizeEmbeddings:
    def _emb(self, spark):
        return spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).limit(200)

    def test_roundtrip_error_bounded(self, spark):
        from sparkbigdatatextanalysis_spark.operators.vectors import (
            quantize_embeddings,
        )

        emb = self._emb(spark)
        deq = _dequantize(quantize_embeddings(emb))
        joined = emb.select(
            "vec_id", F.col("embedding").alias("orig")
        ).join(deq, "vec_id")
        rows = joined.collect()
        assert len(rows) == 200
        for r in rows:
            orig = [float(x) for x in r["orig"]]
            back = list(r["embedding"])
            scale = max(abs(x) for x in orig) / 127.0
            for o, b in zip(orig, back):
                # symmetric rounding: error <= scale/2 per element
                assert abs(o - b) <= scale / 2 + 1e-12, (o, b, scale)

    def test_cosine_geometry_preserved_and_integer_path_exact(self, spark):
        import math

        from sparkbigdatatextanalysis_spark.operators.vectors import (
            quantize_embeddings,
            quantized_cosine,
        )

        emb = self._emb(spark)
        q = quantize_embeddings(emb)
        a = q.limit(20).select(
            F.col("vec_id").alias("a_id"),
            F.col("scale").alias("a_scale"),
            F.col("qvec").alias("a_q"),
        )
        b = q.limit(20).select(
            F.col("vec_id").alias("b_id"),
            F.col("scale").alias("b_scale"),
            F.col("qvec").alias("b_q"),
        )
        pairs = a.crossJoin(b).where(F.col("a_id") < F.col("b_id"))
        got = pairs.select(
            "a_id",
            "b_id",
            quantized_cosine(
                F.col("a_scale"), F.col("a_q"), F.col("b_scale"), F.col("b_q")
            ).alias("qcos"),
        )
        raw = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.limit(20).collect()}

        def cos(u, v):
            d = sum(x * y for x, y in zip(u, v))
            return d / math.sqrt(sum(x * x for x in u)) / math.sqrt(
                sum(y * y for y in v)
            )

        for r in got.collect():
            exact = cos(raw[r["a_id"]], raw[r["b_id"]])
            assert abs(r["qcos"] - exact) < 0.02, (r["a_id"], r["b_id"])

    def test_null_and_zero_vectors_roundtrip(self, spark):
        from sparkbigdatatextanalysis_spark.operators.vectors import (
            quantize_embeddings,
        )

        df = spark.createDataFrame(
            [(1, [0.0, 0.0]), (2, None), (3, [1.5, -3.0])],
            "vec_id LONG, embedding ARRAY<DOUBLE>",
        )
        q = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
        assert q[1]["scale"] == 0.0 and list(q[1]["qvec"]) == [0, 0]
        assert q[2]["scale"] is None and q[2]["qvec"] is None
        assert q[3]["qvec"][1] in (-127, 127)
        back = {
            r["vec_id"]: r["embedding"]
            for r in _dequantize(quantize_embeddings(df)).collect()
        }
        assert back[1] == [0.0, 0.0]
        assert back[2] is None
        assert abs(back[3][0] - 1.5) <= (3.0 / 127) / 2

    def test_stays_jvm_side(self, spark):
        from sparkbigdatatextanalysis_spark.operators.vectors import (
            quantize_embeddings,
        )

        plan = (
            quantize_embeddings(self._emb(spark))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


class TestEquiDepthBins:
    def test_matches_numpy_digitize(self, spark):
        import numpy as np

        from sparkbigdatatextanalysis_spark.operators.stats import (
            equi_depth_bins,
        )

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").where(
            F.col("value").isNotNull()
        )
        out = {
            r["event_id"]: r["value_bin"]
            for r in equi_depth_bins(ev, "value", n_bins=8).collect()
        }
        vals = {r["event_id"]: r["value"] for r in ev.collect()}
        arr = np.array(list(vals.values()))
        # numpy linear-interpolated quantiles == Spark percentile
        cuts = np.quantile(arr, [i / 8 for i in range(1, 8)])
        for eid, v in vals.items():
            assert out[eid] == int(np.digitize(v, cuts, right=False)), eid

    def test_bins_are_balanced(self, spark):
        from sparkbigdatatextanalysis_spark.operators.stats import (
            equi_depth_bins,
        )

        df = spark.range(0, 10000).select(
            F.col("id").alias("event_id"),
            (F.hash(F.col("id").cast("string")) % 100000).cast("double").alias("value"),
        )
        out = equi_depth_bins(df, "value", n_bins=10)
        counts = [
            r["n"]
            for r in out.groupBy("value_bin").agg(F.count("*").alias("n")).collect()
        ]
        assert len(counts) == 10
        assert max(counts) - min(counts) <= 10000 * 0.02

    def test_grouped_and_null_safe(self, spark):
        from sparkbigdatatextanalysis_spark.operators.stats import (
            equi_depth_bins,
        )

        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
             (None, 10.0), (None, 20.0), ("a", None)],
            "g STRING, value DOUBLE",
        )
        out = equi_depth_bins(df, "value", n_bins=2, group=["g"])
        rows = out.collect()
        assert len(rows) == 7  # NULL group and NULL value rows survive
        null_bin = [r["value_bin"] for r in rows if r["value"] is None]
        assert null_bin == [None]
        for r in rows:
            if r["g"] is None and r["value"] == 20.0:
                assert r["value_bin"] == 1

    def test_validates(self, spark):
        from sparkbigdatatextanalysis_spark.operators.stats import (
            equi_depth_bins,
        )

        df = spark.createDataFrame([("a", 1.0)], "g STRING, value DOUBLE")
        with pytest.raises(ValueError):
            equi_depth_bins(df, "value", n_bins=1)
        with pytest.raises(ValueError):
            equi_depth_bins(df.withColumn("value_bin", F.lit(1)), "value")


class TestHashedDocEmbeddings:
    def _tok(self, spark):
        import __spark_entry__ as em

        return em._tok(spark, "/root/testdata/sf0.001")

    def test_shape_norm_and_determinism(self, spark):
        tok = self._tok(spark)
        emb = _hashed_embeddings(tok, dim=32)
        rows = {r["id"]: list(r["embedding"]) for r in emb.collect()}
        assert len(rows) == 500
        for v in rows.values():
            assert len(v) == 32
            assert abs(sum(x * x for x in v) - 1.0) < 1e-9
        again = {
            r["id"]: list(r["embedding"])
            for r in _hashed_embeddings(tok.repartition(7), dim=32).collect()
        }
        assert again == rows

    def test_identical_docs_identical_vectors_and_similarity_orders(self, spark):
        docs = spark.createDataFrame(
            [
                (1, ["apple", "banana", "cherry", "date", "elderberry"]),
                (2, ["apple", "banana", "cherry", "date", "elderberry"]),
                (3, ["apple", "banana", "cherry", "date", "fig"]),
                (4, ["x1", "x2", "x3", "x4", "x5"]),
            ],
            "id LONG, tokens ARRAY<STRING>",
        )
        vecs = {
            r["id"]: list(r["embedding"])
            for r in _hashed_embeddings(docs, dim=64).collect()
        }
        assert vecs[1] == vecs[2]

        def cos(u, v):
            return sum(a * b for a, b in zip(u, v))  # unit vectors

        assert math.isclose(cos(vecs[1], vecs[2]), 1.0, abs_tol=1e-9)
        # 4/6-token overlap beats disjoint vocab
        assert cos(vecs[1], vecs[3]) > cos(vecs[1], vecs[4]) + 0.3

    def test_feeds_ann_topk(self, spark):
        from sparkbigdatatextanalysis_spark.operators import ann as ann_ops

        emb = _hashed_embeddings(self._tok(spark), dim=32).withColumnRenamed(
            "id", "vec_id"
        )
        queries = emb.select("vec_id").orderBy("vec_id").limit(3)
        out = ann_ops.cosine_topk_bruteforce(emb, queries, k=4)
        assert out.count() == 12


class TestQuantizeEdgeCases:
    def test_nonfinite_vectors_degrade_to_null(self, spark):
        """NaN/Inf elements must NOT throw CAST_OVERFLOW under ANSI mode
        -- the row degrades to (NULL, NULL) like a NULL input."""
        from sparkbigdatatextanalysis_spark.operators.vectors import (
            quantize_embeddings,
        )

        df = spark.createDataFrame(
            [
                (1, [1.0, float("nan")]),
                (2, [float("inf"), 2.0]),
                (3, [-float("inf"), 2.0]),
                (4, [1.0, 2.0]),
            ],
            "vec_id LONG, embedding ARRAY<DOUBLE>",
        )
        q = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
        for vid in (1, 2, 3):
            assert q[vid]["scale"] is None and q[vid]["qvec"] is None, vid
        assert q[4]["qvec"] is not None

    def test_zero_vector_in_corpus_does_not_kill_topk(self, spark):
        """A degenerate all-zero embedding must not DIVIDE_BY_ZERO the
        whole quantized top-k batch; it scores NULL and ranks last."""
        from sparkbigdatatextanalysis_spark.operators import ann as ann_ops

        rows = [(i, [float(i), 1.0, 2.0]) for i in range(1, 8)] + [
            (99, [0.0, 0.0, 0.0])
        ]
        emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
        queries = emb.select("vec_id").where("vec_id <= 2")
        out = ann_ops.cosine_topk_quantized(emb, queries, k=3).collect()
        assert len(out) == 6
        assert all(r["n_id"] != 99 for r in out)


def test_hashed_embeddings_keep_tokenless_docs_as_zero_vectors(spark):
    docs = spark.createDataFrame(
        [(1, ["alpha", "beta"]), (2, []), (3, None), (4, [None, ""])],
        "id LONG, tokens ARRAY<STRING>",
    )
    rows = {r["id"]: list(r["embedding"]) for r in _hashed_embeddings(docs, dim=8).collect()}
    assert set(rows) == {1, 2, 3, 4}  # nobody silently vanishes
    for vid in (2, 3, 4):
        assert rows[vid] == [0.0] * 8, vid
    assert any(x != 0 for x in rows[1])


def test_equi_depth_bins_validates_relative_error(spark):
    from sparkbigdatatextanalysis_spark.operators.stats import equi_depth_bins

    df = spark.createDataFrame([("a", 1.0)], "g STRING, value DOUBLE")
    with pytest.raises(ValueError, match="relative_error"):
        equi_depth_bins(df, "value", relative_error=2.0)
