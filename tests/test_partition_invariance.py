"""Partition-count invariance: the property that makes oracle parity
scale-stable.

Every float a query emits is either (a) per-row scalar arithmetic on
identical inputs (bit-identical by IEEE semantics) or (b) a SUM routed
through DECIMAL (associative, so fold order cannot matter). If that
discipline slipped anywhere, results would drift with the partition
count — exactly how double summation breaks cross-engine hashing at
larger SFs. These tests re-run decimal-disciplined operators at 1, 3
and 16 partitions and require BIT-IDENTICAL results, plus a control
showing plain double summation does drift on the same data (if the
control ever stops drifting, the guard is vacuous and needs harder
data, not deletion).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkbigdatatextanalysis_spark.operators import stats as st
from sparkbigdatatextanalysis_spark.operators import vectors as vec


def _rows(n=4000, seed=5):
    rng = np.random.default_rng(seed)
    # Wide magnitude spread maximizes double-summation order sensitivity.
    mags = rng.uniform(-12, 12, n)
    vals = np.sign(rng.standard_normal(n)) * 10.0 ** mags
    return [(int(i % 7), float(v), float(v) * 1.5 + 1e-6) for i, v in enumerate(vals)]


def _at_partitions(spark, rows, n_parts):
    return spark.createDataFrame(rows, "g INT, x DOUBLE, y DOUBLE").repartition(
        n_parts
    )


def test_double_sum_control_drifts(spark):
    """Control: plain double SUM over the same data differs across
    partition counts (fold order changes). This is the failure mode the
    decimal discipline exists to prevent."""
    rows = _rows()
    sums = []
    for p in (1, 16):
        df = _at_partitions(spark, rows, p)
        sums.append(
            df.groupBy("g").agg(F.sum("x").alias("s")).orderBy("g").collect()
        )
    drifted = any(
        a["s"] != b["s"] for a, b in zip(*sums)
    )
    assert drifted, (
        "double sums were identical across partitionings -- the control "
        "needs harder data for the invariance tests to mean anything"
    )


def test_grouped_pearson_partition_invariant(spark):
    rows = _rows()
    results = []
    for p in (1, 3, 16):
        df = _at_partitions(spark, rows, p)
        got = {
            r["g"]: (r["n"], r["pearson_r"])
            for r in st.grouped_pearson(df, "x", "y", ["g"]).collect()
        }
        results.append(got)
    assert results[0] == results[1] == results[2]


def test_group_centroids_partition_invariant(spark):
    rng = np.random.default_rng(9)
    data = [
        (int(i % 5), [float(v) for v in 10.0 ** rng.uniform(-8, 8, 6)])
        for i in range(2000)
    ]
    results = []
    for p in (1, 3, 16):
        df = spark.createDataFrame(
            data, "label INT, embedding ARRAY<DOUBLE>"
        ).repartition(p)
        got = {
            (r["label"], r["dim"]): (r["centroid"], r["n_vectors"])
            for r in vec.group_centroids(df).collect()
        }
        results.append(got)
    assert results[0] == results[1] == results[2]


def test_decimal_money_sum_partition_invariant(spark):
    """The pricing_rollup/sales_cube DECIMAL idiom: bit-stable across
    partitionings (the sf0.1 sweep originally caught plain doubles
    drifting in grand totals)."""
    rows = _rows()
    results = []
    for p in (1, 3, 16):
        df = _at_partitions(spark, rows, p)
        got = (
            df.groupBy("g")
            .agg(
                F.round(F.sum(F.col("x").cast("decimal(38,10)")), 4)
                .cast("double")
                .alias("s")
            )
            .orderBy("g")
            .collect()
        )
        results.append([(r["g"], r["s"]) for r in got])
    assert results[0] == results[1] == results[2]


# --- r5 additions: winnowing spans, semantic dedup, batch BM25 -------------


def _span_corpus(spark, n_parts):
    base = "the quick brown fox jumps over the lazy dog near the riverbank"
    rows = [
        (1, "alpha " * 5 + base + " tail one"),
        (2, "a completely different and much longer prefix!! " + base),
        (3, "no repeats in this one at all, just some filler words here"),
        (4, base + " and " + base),
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING").repartition(
        n_parts
    )


def test_duplicate_spans_partition_invariant(spark):
    """Winnowing selection is content-defined and the merge is in-row:
    the span set must be IDENTICAL at 1, 3 and 16 partitions."""
    from sparkbigdatatextanalysis_spark.operators import dedup

    results = []
    for p in (1, 3, 16):
        got = sorted(
            tuple(r)
            for r in dedup.duplicate_spans(_span_corpus(spark, p)).collect()
        )
        results.append(got)
    assert results[0] == results[1] == results[2]
    assert len(results[0]) > 0


def test_semantic_dedup_partition_invariant(spark):
    """Assignment cosines are round-9 in-row scores over plan-literal
    centroids and the pair predicate is a deterministic fold: keep/
    cluster labels cannot depend on partitioning."""
    import random

    from sparkbigdatatextanalysis_spark.operators import dedup

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    results = []
    for p in (1, 3, 16):
        emb = spark.createDataFrame(
            rows, "vec_id LONG, embedding ARRAY<DOUBLE>"
        ).repartition(p)
        got = sorted(
            tuple(r)
            for r in dedup.semantic_dedup(
                emb, threshold=0.7
            ).collect()
        )
        results.append(got)
    assert results[0] == results[1] == results[2]


def test_bm25_batch_rounded_rank_partition_invariant(spark):
    """The ranked cut is on the round-6 score with id tie-break: the
    (query, doc, rank) table must be identical across partitionings.
    (Raw double scores may differ in low bits -- that is exactly why
    the rank rounds first.)"""
    import random

    from sparkbigdatatextanalysis_spark.operators import retrieval as rt

    rng = random.Random(13)
    vocab = ["hash", "join", "scan", "sort", "dup", "merge", "probe"]
    rows = [
        (i, [rng.choice(vocab) for _ in range(rng.randint(2, 12))])
        for i in range(200)
    ]
    qrows = [("a", "hash"), ("a", "dup"), ("b", "sort"), ("b", "merge")]
    results = []
    for p in (1, 3, 16):
        tok = spark.createDataFrame(
            rows, "id LONG, tokens ARRAY<STRING>"
        ).repartition(p)
        q = spark.createDataFrame(qrows, "query_id STRING, term STRING")
        got = sorted(
            (r["query_id"], r["id"], r["rank"], r["n_matched"], r["score"])
            for r in rt.bm25_batch_topk(tok, q, k=10).collect()
        )
        results.append(got)
    assert results[0] == results[1] == results[2]
