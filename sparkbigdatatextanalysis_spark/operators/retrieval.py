"""BM25 keyword retrieval over tokenized corpora.

The standard lexical ranking function (Robertson/Sparck Jones BM25, the
Okapi formulation with the +1-smoothed IDF Lucene uses) -- the retrieval
twin of the TF-IDF cosine operators: where `similarity.py` ranks
document PAIRS, this ranks documents against a QUERY, which is the shape
search/RAG retrieval actually needs.

    score(d, q) = sum over t in q of
        ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
        * tf_td * (k1 + 1) / (tf_td + k1 * (1 - b + b * dl_d / avgdl))

Scale shape (single query): ONE aggregate over the corpus yields N,
avgdl and every query term's df; that one-row table broadcasts into the
documents where ``arrays_overlap(tokens, q)`` holds, and each term's tf
is counted in-row, so the scored row set is the matching documents,
never (document x term) rows, and no join goes back to the corpus.
Top-k is a TakeOrdered cut over the scored set. The batch form explodes
once, pruned to the union of its queries' terms (see
:func:`bm25_batch_scores`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sql import sql_double, sql_str


def _check_params(fn: str, k1: float, b: float) -> None:
    if k1 < 0 or not 0 <= b <= 1:
        raise ValueError(f"{fn}: need k1 >= 0 and 0 <= b <= 1, got {k1}, {b}")


def _corpus_stats(tokens: str) -> tuple[str, str]:
    """(_n, _avgdl) aggregate expressions (SQL text) over the token
    array ``tokens``: N and avgdl over the SAME row set -- size(NULL) is
    NULL (or -1 under legacy sizeOfNull) and avg() skips NULLs, so a
    bare avg(size(tokens)) would drop NULL-token rows from avgdl while
    count(*) keeps them in N, skewing IDF vs the documented formula (r4
    advice). A NULL/empty token array is an empty document: length 0,
    counted in both stats."""
    dl = f"CASE WHEN {tokens} IS NULL THEN 0 ELSE size({tokens}) END"
    return "count(1) AS _n", f"avg({dl}) AS _avgdl"


def _term_score(tf: str, dl: str, df: str, n: str, avgdl: str, k1: float, b: float) -> str:
    """SQL text of the Okapi/+1-smoothed-IDF per-(doc, term) score --
    ONE definition shared by the single-query and batch forms so the
    formula cannot drift between them (r5 review finding). The operand
    order and grouping are the evaluation order of the score, so both
    forms round identically."""
    idf = f"ln(({n} - {df} + 0.5D) / ({df} + 0.5D) + 1.0D)"
    norm = f"(({dl} * {sql_double(b)}) / {avgdl} + {sql_double(1.0 - b)}) * {sql_double(k1)}"
    return f"({idf} * ({tf} * {sql_double(k1 + 1.0)})) / ({tf} + {norm})"


def bm25_scores(
    tok_df: DataFrame,
    query_tokens: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """(id, n_matched, score): BM25 score of every document matching at
    least one query term. ``score`` is unrounded (callers round for
    cross-engine comparison: ln and the final sum differ in low-order
    bits between engines); ``n_matched`` counts distinct matched terms.
    Duplicate query terms are deduplicated (scoring a term twice would
    double its contribution).

    One aggregate over ``tok_df`` gives N, avgdl (:func:`_corpus_stats`)
    and the array ``_dfs`` of each query term's df; its one row is
    broadcast into the documents that share a term with the query.
    Each term's tf is counted in-row once, into ``_tfs`` (one (tf, df)
    struct per query term), and one ``aggregate`` over it sums the
    per-term scores in query-term order from 0.0. The query is one
    literal array whose terms are hex-encoded
    (:func:`functions.sql.sql_str`), so no query text reaches the SQL
    parser, and the request is built from a handful of py4j calls
    whatever the number of terms."""
    q = list(dict.fromkeys(query_tokens))
    if not q:
        raise ValueError("bm25_scores: query_tokens must be non-empty")
    _check_params("bm25_scores", k1, b)
    toks = f"`{tokens_col}`"
    terms = [sql_str(t) for t in q]
    qarr = "array(" + ", ".join(terms) + ")"
    dfs = ", ".join(f"count(CASE WHEN array_contains({toks}, {t}) THEN 1 END)" for t in terms)
    stats = tok_df.selectExpr(*_corpus_stats(toks), f"array({dfs}) AS _dfs")
    # lambda variables carry a leading underscore: a lambda variable
    # shadows a column of the same name inside the lambda's body
    tfs = (
        f"zip_with({qarr}, _dfs, (_t, _df) -> "
        f"named_struct('tf', size(filter({toks}, _x -> _x = _t)), 'df', _df))"
    )
    s = _term_score("_e.tf", f"size({toks})", "_e.df", "_n", "_avgdl", k1, b)
    return (
        tok_df.where(f"arrays_overlap({toks}, {qarr})")
        .crossJoin(F.broadcast(stats))
        .selectExpr(f"`{id_col}`", toks, "_n", "_avgdl", f"{tfs} AS _tfs")
        .selectExpr(
            f"`{id_col}`",
            "aggregate(_tfs, 0L, (_acc, _e) -> _acc + CAST(_e.tf > 0 AS BIGINT)) AS n_matched",
            f"aggregate(_tfs, 0D, (_acc, _e) -> _acc + IF(_e.tf > 0, {s}, 0D)) AS score",
        )
    )


def bm25_topk(
    tok_df: DataFrame,
    query_tokens: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "id",
    tokens_col: str = "tokens",
    round_to: int = 6,
) -> DataFrame:
    """Top-``k`` documents for a query by BM25, deterministically:
    ranked on the ``round_to``-rounded score (engines differ in ln /
    summation low bits; ranking the rounded value keeps the cut
    identical everywhere) with id as the tie-break. Returns
    (id, n_matched, score, rank).

    The cut is ``orderBy().limit()`` -- TakeOrdered, per-partition heads
    merged on the driver -- NOT a global rank window: with a common
    query term the scored set is corpus-sized, and a windowed rank
    would single-partition it. Only the k survivors see a window (to
    materialize the rank), a k-row exchange."""
    scored = bm25_scores(tok_df, query_tokens, k1, b, id_col, tokens_col)
    top = (
        scored.selectExpr(f"`{id_col}`", "n_matched", f"round(score, {int(round_to)}) AS score")
        .orderBy(F.desc("score"), id_col)
        .limit(k)
    )
    return top.selectExpr("*", f"row_number() OVER (ORDER BY score DESC, `{id_col}`) AS rank")


def bm25_batch_scores(
    tok_df: DataFrame,
    queries: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "id",
    tokens_col: str = "tokens",
    query_id_col: str = "query_id",
    term_col: str = "term",
) -> DataFrame:
    """Batch form of :func:`bm25_scores`: score N queries in ONE job
    from a small (query_id, term) table -- the retrieval-evaluation /
    online-serving shape, where re-scanning a 100 TB corpus once per
    query is the thing that cannot happen.

    Returns (query_id, id, n_matched, score). Semantics are exactly
    per-query :func:`bm25_scores` (duplicate (query_id, term) rows are
    deduplicated; df/N/avgdl are corpus-level statistics shared across
    queries, NOT per-query).

    Scale shape: the corpus explodes ONCE and is immediately semi-join
    pruned to the UNION of all queries' terms (broadcast -- the query
    table is model-state-sized), so the scored row set is (matching
    docs x matching terms), independent of query count. One partial agg
    builds (doc, term) tfs; the term-count-sized df table and the
    2-value corpus stats attach as broadcasts; fanning out to
    (query_id, doc, term) happens only AFTER the tf aggregation, via a
    broadcast join against the query table, so adding queries adds no
    corpus pass and no extra shuffle -- only post-prune fan-out rows.
    """
    qt = queries.select(
        F.col(query_id_col).alias("_qid"), F.col(term_col).alias("_t")
    ).distinct()
    _check_params("bm25_batch_scores", k1, b)
    # the corpus explode, with the doc length riding along (no join
    # back to the corpus), pruned against qt's terms directly:
    # left_semi tolerates duplicate build-side keys (no fan-out), so a
    # second distinct would only add a shuffle stage and a broadcast
    # job for nothing
    ex = tok_df.select(
        F.col(id_col).alias("_id"),
        F.size(tokens_col).alias("_dl"),
        F.explode(tokens_col).alias("_t"),
    ).join(F.broadcast(qt.select("_t")), "_t", "left_semi")
    # dfs is an aggregate OF tf, so the explode+prune+tf subtree
    # evaluates once per consumer (twice per action: the broadcast df
    # build and the scoring path). r12 measured a lazy localCheckpoint
    # barrier on tf and REVERTED it: interleaved A/B at sf0.1 neutral
    # -- the explode reads the caller's cached token table and the two
    # branch evaluations overlap, while the barrier adds a block-store
    # sync. At 100 TB the caller passes a persisted/bucketed token
    # table and the same overlap argument holds per §2.1 (the df build
    # is term-count-sized and rides the broadcast).
    tf = ex.groupBy("_id", "_t").agg(
        F.count(F.lit(1)).alias("_tf"), F.first("_dl").alias("_dl")
    )
    dfs = tf.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    stats = tok_df.selectExpr(*_corpus_stats(f"`{tokens_col}`"))
    score = F.expr(_term_score("_tf", "_dl", "_df", "_n", "_avgdl", k1, b))
    return (
        tf.join(F.broadcast(dfs), "_t")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(qt), "_t")
        .select("_qid", "_id", score.alias("_s"))
        .groupBy("_qid", "_id")
        .agg(F.count(F.lit(1)).alias("n_matched"), F.sum("_s").alias("score"))
        .select(
            F.col("_qid").alias(query_id_col),
            F.col("_id").alias(id_col),
            "n_matched",
            "score",
        )
    )


def bm25_batch_topk(
    tok_df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "id",
    tokens_col: str = "tokens",
    query_id_col: str = "query_id",
    term_col: str = "term",
    round_to: int = 6,
) -> DataFrame:
    """Per-query top-``k`` over :func:`bm25_batch_scores`, ranked on the
    ``round_to``-rounded score with id tie-break (same determinism
    argument as :func:`bm25_topk`). Returns
    (query_id, id, n_matched, score, rank).

    The cut is :func:`relational.grouped_topk`, NOT a bare per-query
    window: with a common query term one query's scored set is
    corpus-sized, and a single PARTITION BY query_id window would
    funnel it through one task -- grouped_topk's two-phase TakeOrdered
    prunes each group to k rows per input partition first, so no task
    ever sees more than max(partition, k * n_partitions) rows.
    """
    from .relational import grouped_topk

    scored = bm25_batch_scores(
        tok_df, queries, k1, b, id_col, tokens_col, query_id_col, term_col
    )
    return grouped_topk(
        scored.select(
            query_id_col,
            id_col,
            "n_matched",
            F.round("score", round_to).alias("score"),
        ),
        group=[query_id_col],
        order=[F.col("score").desc(), F.col(id_col)],
        k=k,
    )
