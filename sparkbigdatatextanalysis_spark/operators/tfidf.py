"""TF-IDF core, fully distributed (no driver-side dictionaries).

The reference computes IDF by collecting doc-frequencies to the driver
(EntityResolution.scala:98-130) and ships TF-IDF vectors around as
broadcast maps (ScalableEntityResolution.scala:59-62) -- the scalability
cliff. Here everything is a DataFrame; the canonical TF-IDF representation
is the exploded relational form ``(id, token, weight)``, which joins,
prunes and pushes down like any other table and survives 100 TB inputs.

Semantic parity notes:
  * IDF is the reference's non-standard ``N / df`` -- NO logarithm, no
    smoothing (EntityResolution.scala:121). MLlib's IDF (log((N+1)/(df+1)))
    intentionally NOT used.
  * TF is the relative in-doc frequency count(t)/len(tokens)
    (EntityResolution.scala:297-315); duplicates after stopword removal
    count, hence the duplicate-preserving tokenizer.
  * Unseen-token behavior: reference calculateTF_IDF throws on tokens
    absent from the IDF dict (EntityResolution.scala:365, closed-world
    corpus); here the inner join simply drops them -- identical results
    whenever the corpus covers the docs (always true in the pipeline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokenize, tokenize_no_stopwords


def tokenized(
    docs: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    stopwords: list[str] | None = None,
    keep_stopwords: bool = False,
) -> DataFrame:
    """(id, text) -> (id, tokens ARRAY<STRING>). Reference getTokens
    (EntityResolution.scala:22-34): one narrow projection, no shuffle.
    """
    text = f"`{text_col}`"
    toks = tokenize(text) if keep_stopwords else tokenize_no_stopwords(text, stopwords)
    return docs.select(F.col(id_col).alias("id"), toks.alias("tokens"))


def corpus_union(*token_dfs: DataFrame) -> DataFrame:
    """Bag union (no dedup) of tokenized catalogs -- reference createCorpus
    (EntityResolution.scala:86-96)."""
    out = token_dfs[0]
    for df in token_dfs[1:]:
        out = out.unionByName(df)
    return out


def term_frequencies(tok_df: DataFrame) -> DataFrame:
    """(id, tokens) -> (id, token, tf) with tf = count(token)/size(tokens).

    The exploded tokens are distributed by ``id`` and aggregated there,
    so the output (and the weights built on it) comes out
    ``id``-partitioned: a per-doc window or aggregate downstream (the
    norm inside :func:`similarity.cosine_similarity_join`) costs no
    second exchange.
    """
    return (
        tok_df.select("id", F.size("tokens").alias("n_tokens"), F.explode("tokens").alias("token"))
        .repartition("id")
        .groupBy("id", "n_tokens", "token")
        .agg((F.count("*") / F.col("n_tokens")).alias("tf"))
        .select("id", "token", "tf")
    )


def idf_table(corpus_tok: DataFrame) -> DataFrame:
    """(id, tokens)* -> (token, df, idf) with idf = N/df (non-log).

    ONE aggregation over the exploded corpus gives both df and N: each
    doc contributes its distinct tokens (``array_distinct`` BEFORE
    explode is the reference's per-doc ``distinct``,
    EntityResolution.scala:117) plus one sentinel entry at position 0,
    whose count is the corpus size -- docs whose token array is NULL or
    empty count in N too. N reaches every token row through a window
    over the vocabulary-sized aggregate (one small single-partition
    exchange), so the corpus is scanned once, with no collect() and no
    broadcast.
    """
    entries = F.concat(
        F.array(F.lit(None)),
        F.array_distinct(F.coalesce("tokens", F.array())),
    )
    counts = (
        corpus_tok.select(F.posexplode(entries).alias("pos", "token"))
        .groupBy((F.col("pos") == 0).alias("_doc"), "token")
        .agg(F.count("*").alias("df"))
    )
    n_docs = F.max(F.when(F.col("_doc"), F.col("df"))).over(Window.partitionBy())
    return (
        counts.select("_doc", "token", "df", n_docs.alias("n_docs"))
        .where(~F.col("_doc"))
        .select("token", "df", (F.col("n_docs") / F.col("df")).alias("idf"))
    )


def tfidf_weights(tok_df: DataFrame, idf_df: DataFrame) -> DataFrame:
    """(id, tokens) x (token, idf) -> (id, token, weight = tf*idf).

    Replaces reference calculateTF_IDF / calculateTF_IDFBroadcast
    (EntityResolution.scala:340-366, ScalableEntityResolution.scala:264-277;
    the latter is O(|vocab|) per doc -- this join is O(|doc tokens|)).
    Vocabulary is tiny relative to the corpus, so the idf side is
    broadcast and the weights keep :func:`term_frequencies`' ``id``
    partitioning.
    """
    tf = term_frequencies(tok_df)
    return tf.join(F.broadcast(idf_df), "token").select(
        "id", "token", (F.col("tf") * F.col("idf")).alias("weight")
    )


def norms(weights: DataFrame) -> DataFrame:
    """(id, token, weight) -> (id, norm = sqrt(sum w^2)). Stays distributed
    (the reference collects norms to the driver and re-broadcasts,
    ScalableEntityResolution.scala:32-35)."""
    return weights.groupBy("id").agg(
        F.sqrt(F.sum(F.col("weight") * F.col("weight"))).alias("norm")
    )
