"""End-to-end parity with the reference pipeline on its own fixture CSVs
(read directly from the read-only reference checkout; skipped when absent).

Goldens from EntityResolutionTest.scala:39-209 and
ScalableEntityResolutionTest.scala:49-98 -- see BASELINE.md.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkbigdatatextanalysis_spark.functions.vector import vec_dot
from sparkbigdatatextanalysis_spark.operators.similarity import (
    common_token_pairs,
    cosine_similarity_join,
    cross_cosine_similarity,
    document_similarity,
    inverted_index,
    pair_similarity_lookup,
)
from sparkbigdatatextanalysis_spark.operators.tfidf import (
    corpus_union,
    idf_table,
    tfidf_weights,
    tokenized,
)
from sparkbigdatatextanalysis_spark.sources.catalog_csv import (
    read_catalog_csv,
    read_gold_pairs_csv,
)

GOOGLE_TOP = "http://www.google.com/base/feeds/snippets/17242822440574356561"


@pytest.fixture(scope="module")
def small(spark, reference_resources):
    amazon = read_catalog_csv(
        spark, f"{reference_resources}/Amazon_small.csv", strict_reference_parse=True
    ).cache()
    google = read_catalog_csv(
        spark,
        f"{reference_resources}/Google_small.csv",
        title_col="name",
        strict_reference_parse=True,
    ).cache()
    gold = read_gold_pairs_csv(
        spark, f"{reference_resources}/Amazon_Google_perfectMapping.csv"
    ).cache()
    tok_a = tokenized(amazon).cache()
    tok_b = tokenized(google).cache()
    corpus = corpus_union(tok_a, tok_b)
    idf = idf_table(corpus).cache()
    wa = tfidf_weights(tok_a, idf).cache()
    wb = tfidf_weights(tok_b, idf).cache()
    return dict(
        amazon=amazon, google=google, gold=gold, tok_a=tok_a, tok_b=tok_b,
        corpus=corpus, idf=idf, wa=wa, wb=wb,
    )


def test_catalog_counts(small):
    assert small["amazon"].count() == 200
    assert small["google"].count() == 200
    assert small["gold"].count() == 1300


def test_total_tokens(small):
    total = (
        small["tok_a"].unionByName(small["tok_b"])
        .agg(F.sum(F.size("tokens")).alias("n"))
        .first()["n"]
    )
    assert total == 22520


def test_biggest_record(small):
    top = (
        small["tok_a"]
        .orderBy(F.size("tokens").desc(), "id")
        .select("id", F.size("tokens").alias("n"))
        .first()
    )
    assert top["id"] == "b000o24l3q"
    assert top["n"] == 1547


def test_corpus_and_vocabulary(small):
    assert small["corpus"].count() == 400
    assert small["idf"].count() == 4772


def test_tfidf_golden_doc(small):
    rows = small["wa"].where(F.col("id") == "b000hkgj8k").collect()
    got = {r["token"]: r["weight"] for r in rows}
    expected = {
        "autocad": 33.33333333333333,
        "autodesk": 8.333333333333332,
        "courseware": 66.66666666666666,
        "psg": 33.33333333333333,
        "2007": 3.5087719298245617,
        "customizing": 16.666666666666664,
        "interface": 3.0303030303030303,
    }
    assert got == pytest.approx(expected, abs=1e-9)


def test_dense_vector_goldens(spark):
    df = spark.createDataFrame(
        [([4.0, 7.0, 5.0, 0.0], [2.0, 50.0, 0.0, 100.0], [5.0, 0.0, 2.0, 7.0])],
        ["v1", "v2", "v3"],
    )
    row = df.select(
        vec_dot("v1", "v2").alias("dot"),
        F.sqrt(vec_dot("v1", "v1")).alias("norm"),
        (
            vec_dot("v1", "v3")
            / F.sqrt(vec_dot("v1", "v1") * vec_dot("v3", "v3"))
        ).alias("cos"),
    ).first()
    assert row["dot"] == pytest.approx(358.0)
    assert row["norm"] == pytest.approx(9.486832980505, abs=1e-6)
    assert row["cos"] == pytest.approx(0.35805743701971, abs=1e-6)


def test_document_similarity_golden(spark, small):
    idf_map = small["idf"].agg(
        F.map_from_entries(F.collect_list(F.struct("token", "idf"))).alias("m")
    )
    row = idf_map.select(
        document_similarity("'Adobe Photoshop'", "'Adobe Illustrator'", F.col("m")).alias("sim")
    ).first()
    assert row["sim"] == pytest.approx(0.0577243382163, abs=1e-6)


def test_token_blocked_similarity_golden_pair(small):
    sims = cosine_similarity_join(small["wa"], small["wb"])
    got = pair_similarity_lookup(sims, "b000o24l3q", GOOGLE_TOP).first()["sim"]
    assert got == pytest.approx(0.000303171940451, abs=1e-6)


def test_cross_similarity_pair_count_and_golden(small):
    sims = cross_cosine_similarity(
        small["wa"], small["wb"],
        ids_a=small["tok_a"].select("id"), ids_b=small["tok_b"].select("id"),
    ).cache()
    assert sims.count() == 40000
    got = pair_similarity_lookup(sims, "b000o24l3q", GOOGLE_TOP).first()["sim"]
    assert got == pytest.approx(0.000303171940451, abs=1e-6)


def test_evaluate_model_goldens(small):
    # EntityResolutionTest.scala:202-209: evaluateModel on the cartesian
    # similarities = (146 dups, avg dup sim 0.264332573435, avg non-dup
    # sim 0.00123476304656).
    from sparkbigdatatextanalysis_spark.operators.evaluation import evaluate_gold

    sims = cross_cosine_similarity(
        small["wa"], small["wb"],
        ids_a=small["tok_a"].select("id"), ids_b=small["tok_b"].select("id"),
    )
    g = small["gold"]
    g = g.select(F.col(g.columns[0]).alias("a_id"), F.col(g.columns[1]).alias("b_id"))
    rows = {r["is_dup"]: r for r in evaluate_gold(sims, g).collect()}
    assert rows[True]["n"] == 146
    assert rows[True]["avg_sim"] == pytest.approx(0.264332573435, abs=1e-6)
    assert rows[False]["avg_sim"] == pytest.approx(0.00123476304656, abs=1e-9)


def test_inverted_index_and_candidates_small(small):
    idx_a = inverted_index(small["tok_a"])
    idx_b = inverted_index(small["tok_b"])
    pairs = common_token_pairs(idx_a, idx_b)
    n = pairs.count()
    assert 0 < n < 40000  # blocking must prune the cartesian
