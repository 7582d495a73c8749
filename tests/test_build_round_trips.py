"""Building a search request or an ER job is cheap on the driver: each
hot kernel is one SQL expression, so a build makes a bounded number of
py4j round trips whatever the query length or the stopword list, and
PySpark's per-Column call-site capture is off in every session
``get_spark`` builds.

Round trips are counted by wrapping py4j's ``send_command`` and keeping
the calls made on the test's own thread. The cyclic garbage collector
is held off while a build runs, so the count does not depend on when a
collection happens to release py4j proxies. Each budget is the count
measured when it was pinned plus a small slack; before the kernels were
rewritten the same builds took about ten times as many."""

from __future__ import annotations

import gc
import threading

import py4j.clientserver
import pytest
from pyspark.sql import functions as F

from sparkbigdatatextanalysis_spark.operators import ann
from sparkbigdatatextanalysis_spark.operators import evaluation as ev
from sparkbigdatatextanalysis_spark.operators import retrieval as rt
from sparkbigdatatextanalysis_spark.operators import similarity as sim
from sparkbigdatatextanalysis_spark.operators import tfidf as tfidf_ops
from conftest import sf_dir


@pytest.fixture
def count_round_trips(monkeypatch):
    """``count_round_trips(build)`` -> (result, round trips made on this
    thread while ``build`` ran)."""
    send = py4j.clientserver.ClientServerConnection.send_command
    me = threading.get_ident()
    n = [0]

    def counting(self, command):
        if threading.get_ident() == me:
            n[0] += 1
        return send(self, command)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)

    def run(build):
        gc.collect()
        gc.disable()
        n[0] = 0
        try:
            out = build()
        finally:
            gc.enable()
        return out, n[0]

    return run


@pytest.fixture(scope="module")
def tok(spark):
    docs = spark.read.parquet(f"{sf_dir('0.001')}/documents.parquet")
    return tfidf_ops.tokenized(docs.select(F.col("doc_id").alias("id"), "text"))


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{sf_dir('0.001')}/embeddings.parquet")


@pytest.fixture(scope="module")
def cents(emb):
    return ann.kmeans_centroids(emb)


def test_get_spark_turns_dataframe_debugging_off(spark):
    """The test session is built by ``get_spark``."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_bm25_request_build_round_trips(tok, count_round_trips):
    """The query is one literal array: ten terms cost no more round
    trips than two. Measured 60 for both."""
    rt.bm25_topk(tok, ["hash", "join"], k=10)
    _, two = count_round_trips(lambda: rt.bm25_topk(tok, ["hash", "join"], k=10))
    terms = ["hash", "join", "dup", "scan", "sort", "o'brien", "naïve", "select", "a\\b", "x"]
    _, ten = count_round_trips(lambda: rt.bm25_topk(tok, terms, k=10))
    assert two <= 66, two
    assert ten == two


def test_ivf_request_build_round_trips(spark, emb, cents, count_round_trips):
    """Measured 128."""
    ann.cosine_topk_ivf(emb, spark.range(3, 5), k=10, cents=cents)
    try:
        _, n = count_round_trips(
            lambda: ann.cosine_topk_ivf(emb, spark.range(3, 5), k=10, cents=cents)
        )
    finally:
        ann._ivf_index(ann._norm_vecs(emb, "vec_id", "embedding"), cents).unpersist()
    assert n <= 140, n


def test_er_chain_build_round_trips(spark, count_round_trips):
    """Tokenize both catalogs, idf, weights, the similarity join and
    the threshold sweep, from in-memory catalogs (reads not counted).
    The 127-word stopword list is one IN list, not 127 literals.
    Measured 898."""
    a = spark.createDataFrame([("a0", "red apple pie"), ("a1", "green pear")], "id STRING, text STRING")
    b = spark.createDataFrame([("b0", "red apple tart"), ("b1", "blue cheese")], "id STRING, text STRING")
    gold = spark.createDataFrame([("a0", "b0")], "a_id STRING, b_id STRING")

    def build():
        ta, tb = tfidf_ops.tokenized(a), tfidf_ops.tokenized(b)
        idf = tfidf_ops.idf_table(tfidf_ops.corpus_union(ta, tb))
        wa, wb = tfidf_ops.tfidf_weights(ta, idf), tfidf_ops.tfidf_weights(tb, idf)
        return ev.threshold_sweep(sim.cosine_similarity_join(wa, wb), gold)

    build()
    _, n = count_round_trips(build)
    assert n <= 950, n
