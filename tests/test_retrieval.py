"""BM25 retrieval (operators/retrieval.py) vs a straight-line Python
reference of the Okapi/+1-smoothed-IDF formula."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row

from sparkbigdatatextanalysis_spark.operators import retrieval as rt

K1, B = 1.2, 0.75


def _ref_bm25(corpus: dict[int, list[str]], query: list[str]):
    n = len(corpus)
    avgdl = sum(len(t) for t in corpus.values()) / n
    out = {}
    for did, toks in corpus.items():
        score, matched = 0.0, 0
        for t in dict.fromkeys(query):
            tf = toks.count(t)
            if tf == 0:
                continue
            df = sum(1 for ts in corpus.values() if t in ts)
            idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
            score += idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * len(toks) / avgdl))
            matched += 1
        if matched:
            out[did] = (matched, score)
    return out


CORPUS = {
    0: ["hash", "join", "hash", "scan"],
    1: ["join", "sort"],
    2: ["dup", "dup", "hash"],
    3: ["sort", "scan", "filter"],
    4: ["hash"],
}


def _tok_df(spark):
    return spark.createDataFrame(
        [Row(id=i, tokens=t) for i, t in CORPUS.items()]
    )


def test_bm25_matches_reference(spark):
    got = {
        r["id"]: (r["n_matched"], r["score"])
        for r in rt.bm25_scores(_tok_df(spark), ["hash", "dup"], K1, B).collect()
    }
    ref = _ref_bm25(CORPUS, ["hash", "dup"])
    assert set(got) == set(ref)
    for did, (m, s) in ref.items():
        assert got[did][0] == m
        assert got[did][1] == pytest.approx(s, rel=1e-12)


def test_bm25_matches_reference_on_edge_corpus(spark):
    """A NULL token array and an empty one (both documents of length 0,
    counted in N and avgdl), a term repeated inside one doc, a query
    term no doc contains, a duplicated query term, and terms that would
    break a SQL string if spliced raw: a quote, a backslash, non-ASCII
    text and SQL keywords."""
    corpus = {
        0: ["hash", "hash", "hash", "join"],
        1: None,
        2: [],
        3: ["join", "sort", "hash"],
        4: ["sort"],
        5: ["o'brien", "back\\slash", "naïve", "select", "hash"],
        6: ["x' or '1'='1", "straße", "東京", "o'brien"],
    }
    tok = spark.createDataFrame(list(corpus.items()), "id LONG, tokens ARRAY<STRING>")
    query = ["hash", "absent", "join", "hash", "o'brien", "back\\slash", "naïve", "select",
             "x' or '1'='1", "東京", "from"]
    got = {
        r["id"]: (r["n_matched"], r["score"])
        for r in rt.bm25_scores(tok, query, K1, B).collect()
    }
    ref = _ref_bm25({d: t or [] for d, t in corpus.items()}, query)
    assert set(got) == set(ref) == {0, 3, 5, 6}
    for did, (m, s) in ref.items():
        assert got[did][0] == m
        assert got[did][1] == pytest.approx(s, rel=1e-12)


def test_bm25_rare_term_outranks_common(spark):
    # idf('dup') >> idf('hash'): the doc holding the rare term must top
    # the ranking even though others match the common term more often
    top = rt.bm25_topk(_tok_df(spark), ["hash", "dup"], k=3)
    rows = sorted(top.collect(), key=lambda r: r["rank"])
    assert rows[0]["id"] == 2
    assert [r["rank"] for r in rows] == [1, 2, 3]


def test_bm25_duplicate_query_terms_count_once(spark):
    once = rt.bm25_scores(_tok_df(spark), ["hash"]).collect()
    twice = rt.bm25_scores(_tok_df(spark), ["hash", "hash"]).collect()
    assert sorted(map(tuple, once)) == sorted(map(tuple, twice))


def test_bm25_non_matching_docs_absent_and_guards(spark):
    got = {r["id"] for r in rt.bm25_scores(_tok_df(spark), ["dup"]).collect()}
    assert got == {2}
    with pytest.raises(ValueError, match="non-empty"):
        rt.bm25_scores(_tok_df(spark), [])
    with pytest.raises(ValueError, match="k1"):
        rt.bm25_scores(_tok_df(spark), ["hash"], k1=-1)


# ---------------------------------------------------------------------------
# Batch form (bm25_batch_scores / bm25_batch_topk)
# ---------------------------------------------------------------------------


def _qdf(spark, rows):
    return spark.createDataFrame(rows, "query_id STRING, term STRING")


def test_bm25_batch_equals_per_query_single(spark):
    """The batch job must reproduce bm25_scores query by query: same
    docs, same n_matched, same score to float tolerance."""
    queries = {"a": ["hash", "dup"], "b": ["sort"], "c": ["hash", "join", "scan"]}
    rows = [(q, t) for q, ts in queries.items() for t in ts]
    got = {
        (r["query_id"], r["id"]): (r["n_matched"], r["score"])
        for r in rt.bm25_batch_scores(_tok_df(spark), _qdf(spark, rows), K1, B).collect()
    }
    for q, ts in queries.items():
        single = {
            r["id"]: (r["n_matched"], r["score"])
            for r in rt.bm25_scores(_tok_df(spark), ts, K1, B).collect()
        }
        batch_q = {d: v for (qq, d), v in got.items() if qq == q}
        assert set(batch_q) == set(single), q
        for d, (m, s) in single.items():
            assert batch_q[d][0] == m
            assert batch_q[d][1] == pytest.approx(s, rel=1e-12)


def test_bm25_batch_dedups_query_terms_and_stats_are_corpus_level(spark):
    """Duplicate (query_id, term) rows score once, and df/avgdl are
    corpus statistics (identical contribution of a term across
    queries), not per-query."""
    rows = [("a", "hash"), ("a", "hash"), ("b", "hash")]
    got = rt.bm25_batch_scores(_tok_df(spark), _qdf(spark, rows), K1, B).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], {})[r["id"]] = (r["n_matched"], r["score"])
    assert by_q["a"] == by_q["b"]  # same single-term query -> same scores
    ref = _ref_bm25(CORPUS, ["hash"])
    for d, (m, s) in ref.items():
        assert by_q["a"][d][0] == m
        assert by_q["a"][d][1] == pytest.approx(s, rel=1e-12)


def test_bm25_batch_topk_rank_and_cut(spark):
    out = rt.bm25_batch_topk(
        _tok_df(spark), _qdf(spark, [("a", "hash"), ("b", "sort")]), k=2
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["id"]))
    assert all(len(v) <= 2 for v in by_q.values())
    for q, pairs in by_q.items():
        ranks = sorted(p[0] for p in pairs)
        assert ranks == list(range(1, len(pairs) + 1))
    # doc 2 has tf(hash)=1 but short dl... exact order comes from the
    # reference; just pin that rank 1 for 'a' is the best-scoring doc
    ref = _ref_bm25(CORPUS, ["hash"])
    best = max(ref, key=lambda d: (round(ref[d][1], 6), -d))
    assert dict(by_q["a"])[1] == best


def test_bm25_batch_no_extra_corpus_pass(spark, tmp_path):
    """Corpus reads of each form over a parquet corpus (the audit counts
    file scans only, so an in-memory corpus would read 0 on both):

    * single query: 2 -- the stats aggregate (N, avgdl, the terms' dfs)
      and the scoring pass over the docs that share a query term;
    * batch: 3 -- the stats aggregate, plus the pruned explode read
      twice, once for the df table it aggregates and once for the
      scoring path (a barrier there measured neutral-to-slower);

    neither form has a cartesian product or a row-Python stage. A scan
    added to either form, for any number of queries, fails here."""
    from sparkbigdatatextanalysis_spark.plans import audit_plan

    _tok_df(spark).write.parquet(str(tmp_path / "tok"))
    tok = spark.read.parquet(str(tmp_path / "tok"))
    single = audit_plan(rt.bm25_topk(tok, ["hash", "dup"], k=2))
    queries = _qdf(spark, [("a", "hash"), ("a", "dup"), ("b", "sort"), ("c", "join")])
    batch = audit_plan(rt.bm25_batch_topk(tok, queries, k=2))
    assert single.scans == 2, single
    assert batch.scans == 3, batch
    for audit in (single, batch):
        assert audit.cartesian_products == 0 and audit.row_python_stages == 0, audit
