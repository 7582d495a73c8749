"""The mixture / global-shuffle corpus construction operators
(operators/pipeline.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkbigdatatextanalysis_spark.operators import pipeline as pl


def _domain_df(spark):
    rows = (
        [(i, "web") for i in range(1000)]
        + [(10_000 + i, "code") for i in range(500)]
        + [(20_000 + i, "papers") for i in range(250)]
        + [(30_000 + i, "junk") for i in range(100)]
    )
    return spark.createDataFrame(rows, "doc_id LONG, domain STRING")


class TestMixtureSample:
    WEIGHTS = {"web": 0.5, "code": 0.3, "papers": 0.2}

    def test_composition_and_scarcest_domain(self, spark):
        df = _domain_df(spark)
        out = pl.mixture_sample(df, "domain", self.WEIGHTS)
        counts = {
            r["domain"]: r["n"]
            for r in out.groupBy("domain").agg(F.count("*").alias("n")).collect()
        }
        # N_out = min(1000/.5, 500/.3, 250/.2) = 1250 -> targets
        # web 625, code 375, papers 250 (papers is the binding domain
        # and must be kept in FULL -- rate 1.0, hash noise can't drop it)
        assert counts["papers"] == 250
        assert abs(counts["web"] - 625) < 80
        assert abs(counts["code"] - 375) < 65
        assert "junk" not in counts  # not in the recipe -> dropped
        shares = {d: counts[d] / sum(counts.values()) for d in counts}
        for d, w in self.WEIGHTS.items():
            assert abs(shares[d] - w) < 0.06, (d, shares)

    def test_deterministic_and_partitioning_invariant(self, spark):
        df = _domain_df(spark)
        a = sorted(r["doc_id"] for r in pl.mixture_sample(df, "domain", self.WEIGHTS).collect())
        b = sorted(
            r["doc_id"]
            for r in pl.mixture_sample(
                df.repartition(13), "domain", self.WEIGHTS
            ).collect()
        )
        assert a == b

    def test_scale_shrinks_proportionally(self, spark):
        df = _domain_df(spark)
        full = pl.mixture_sample(df, "domain", self.WEIGHTS).count()
        half = pl.mixture_sample(df, "domain", self.WEIGHTS, scale=0.5).count()
        assert abs(half - full / 2) < full * 0.12
        # scaled sample is a SUBSET of the full one (same hash, lower cutoff)
        ids_full = {r["doc_id"] for r in pl.mixture_sample(df, "domain", self.WEIGHTS).collect()}
        ids_half = {
            r["doc_id"]
            for r in pl.mixture_sample(df, "domain", self.WEIGHTS, scale=0.5).collect()
        }
        assert ids_half <= ids_full

    def test_validates(self, spark):
        df = _domain_df(spark)
        with pytest.raises(ValueError):
            pl.mixture_sample(df, "domain", {})
        with pytest.raises(ValueError):
            pl.mixture_sample(df, "domain", {"web": -1.0})
        with pytest.raises(ValueError):
            pl.mixture_sample(df, "domain", self.WEIGHTS, scale=0.0)


class TestShuffleShards:
    def test_permutation_dense_and_deterministic(self, spark):
        df = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
        out = pl.shuffle_shards(df, n_shards=8)
        rows = out.collect()
        assert len(rows) == 2000
        assert {r["doc_id"] for r in rows} == set(range(2000))
        # (shard, pos) is a dense rank within each shard
        by_shard: dict[int, list[int]] = {}
        for r in rows:
            by_shard.setdefault(r["shard"], []).append(r["pos"])
        assert set(by_shard) <= set(range(8))
        for shard, poss in by_shard.items():
            assert sorted(poss) == list(range(len(poss))), shard
        # partitioning-invariant determinism
        again = pl.shuffle_shards(
            df.repartition(17), n_shards=8
        ).collect()
        assert {(r["doc_id"], r["shard"], r["pos"]) for r in again} == {
            (r["doc_id"], r["shard"], r["pos"]) for r in rows
        }

    def test_order_is_decorrelated_from_ingest_order(self, spark):
        df = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
        out = pl.shuffle_shards(df, n_shards=1)
        ordered = [r["doc_id"] for r in out.orderBy("pos").collect()]
        # longest run of consecutive ingest ids should be tiny
        run = max_run = 1
        for a, b in zip(ordered, ordered[1:]):
            run = run + 1 if b == a + 1 else 1
            max_run = max(max_run, run)
        assert max_run <= 4, max_run

    def test_validates(self, spark):
        df = spark.range(3).select(F.col("id").alias("doc_id"))
        with pytest.raises(ValueError):
            pl.shuffle_shards(df, n_shards=0)
        with pytest.raises(ValueError):
            pl.shuffle_shards(df.withColumn("pos", F.lit(1)))


def test_mixture_sample_rejects_reserved_columns(spark):
    df = _domain_df(spark).withColumn("mix_rate", F.lit(0.5))
    with pytest.raises(ValueError, match="mix_rate"):
        pl.mixture_sample(df, "domain", {"web": 1.0})
