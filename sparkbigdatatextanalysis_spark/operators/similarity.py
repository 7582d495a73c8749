"""Similarity joins: the engine's flagship operators.

Scalable path (reference ScalableEntityResolution.scala:64-129, with its
two bugs fixed to the test-asserted intent -- see SURVEY.md D15): instead
of broadcasting whole TF-IDF matrices to the driver and back, the cosine
similarity of every candidate pair sharing >=1 token is ONE relational
plan:

    w_a = weight / norm over (PARTITION BY id)   (each side; the weights
                                                  arrive id-partitioned,
                                                  so no exchange)
    weights_a JOIN weights_b ON token     (candidate generation = the
                                           inverted-index equi-join)
    GROUP BY (a_id, b_id): sim = sum(w_a * w_b)

Catalyst handles pushdown/pruning; AQE handles the Zipfian token skew the
join inherits (stopword removal already kills the worst offenders). At
100 TB the same plan holds: the norm is a per-doc window on the
partitioning the weights already have, the token join is a sort-merge
join on ``token`` (AQE splits a hot token), and partial map-side
aggregation shrinks the pair stream. No norm table is built or joined.

The naive quadratic path (reference EntityResolution.scala:133-157) is
kept for parity/small data as an explicit crossJoin.

A tiny vocabulary gets one dense form, chosen by the caller calling a
different function, never by an option: a persisted flat table
(:func:`dense_flat_table_from_tokens`) behind one broadcast cross join
(:func:`dense_cosine_similarity`, :func:`dense_dot_products`,
``cross_cosine_similarity(..., flats=)``). :func:`common_token_pairs`
keeps a bitmask form for a stated vocabulary of at most 63 tokens.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sql import sql_str
from ..functions.text import term_frequencies_map, tokenize_no_stopwords


def inverted_index(tok_df: DataFrame) -> DataFrame:
    """(id, tokens) -> postings (token, id), one per DISTINCT token per doc
    (reference buildInverseIndex, ScalableEntityResolution.scala:64-84)."""
    return tok_df.select(
        F.explode(F.array_distinct("tokens")).alias("token"), F.col("id")
    )


# Vocabulary size at or under which the candidate join switches to a
# 63-bit token-set bitmask: one BIGINT per doc, pairs via popcount(AND).
BITMASK_VOCAB_MAX = 63


def common_token_pairs(
    idx_a: DataFrame, idx_b: DataFrame, vocab_n: int | None = None
) -> DataFrame:
    """Candidate pairs sharing >=1 token -> (a_id, b_id, n_common).

    Reference determineCommonTokens (ScalableEntityResolution.scala:87-105)
    materializes the shared-token lists via groupByKey; the count is all
    downstream consumers need, so aggregate instead of collecting lists.

    Two physical forms, picked only from the ``vocab_n`` the caller states
    (a capped count is as good as an exact one), never from a count job:

    * sparse (``vocab_n`` unknown or > BITMASK_VOCAB_MAX) -- token
      equi-join + groupBy(a_id, b_id). Right for real text (large vocab,
      low df): join output ~ sum over tokens of df_a*df_b stays near the
      matching-pair count.
    * bitmask (``vocab_n`` <= BITMASK_VOCAB_MAX) -- fold
      each doc's token set into ONE BIGINT (bit i = has vocab token i);
      then n_common = bit_count(mask_a & mask_b) over a broadcast cross
      join. The low-vocab regime is exactly where the sparse join
      explodes (df ~ |docs| makes its shuffle quadratic x vocab), while
      the bitmask plan moves |docs| longs and does one AND+popcount per
      pair in whole-stage codegen -- no pair-level shuffle at all.

      The popcount cross join runs over mask EQUIVALENCE CLASSES, not
      docs: a <=63-bit vocabulary admits at most 2^|vocab| distinct
      masks and real corpora far fewer, so docs sharing an identical
      token set collapse to one class row, each class pair is popcounted
      once, and members re-attach through two broadcast equi-joins on
      the mask value (map-only -- no giant collected member arrays, no
      pair-level shuffle). This also bounds the broadcast at
      |distinct masks| 8-byte rows instead of |docs_b| rows, which is
      what keeps the form viable when the catalog outgrows the
      broadcast limit but the vocabulary stays tiny.

    Both forms return the same pairs; building either runs no Spark job.
    """
    a = idx_a.select("token", F.col("id").alias("a_id"))
    b = idx_b.select("token", F.col("id").alias("b_id"))
    if vocab_n is not None and vocab_n <= BITMASK_VOCAB_MAX:
        vocab = (
            a.select("token")
            .union(b.select("token"))
            .distinct()
            .select(
                "token",
                (F.row_number().over(Window.orderBy("token")) - 1).alias("idx"),
            )
        )

        # ONE side-tagged aggregation builds both mask tables, persisted:
        # the final plan references each side's masks twice (expansion
        # join + its class table) and Catalyst does not common-
        # subexpression-eliminate repeated aggregations across join
        # branches, so without the barrier the mask groupBy would run 4x.
        # The cached table is one 16-byte row per doc -- the natural
        # pipeline cache point.
        u = a.select(F.lit(0).alias("side"), "token", F.col("a_id").alias("id")).unionByName(
            b.select(F.lit(1).alias("side"), "token", F.col("b_id").alias("id"))
        )
        masks = (
            u.join(F.broadcast(vocab), "token")
            .groupBy("side", "id")
            .agg(F.sum(F.expr("shiftleft(1L, idx)")).alias("mask"))
            .persist()
        )
        ma = masks.where(F.col("side") == 0).select(
            F.col("id").alias("a_id"), F.col("mask").alias("mask_a")
        )
        mb = masks.where(F.col("side") == 1).select(
            F.col("id").alias("b_id"), F.col("mask").alias("mask_b")
        )
        # Equivalence-class the popcount: distinct masks only. Expansion
        # back to doc pairs is two broadcast equi-joins on the mask value
        # (class_pairs and mb are both small), so member re-attachment is
        # map-only and no member list is ever materialized as an array.
        ca = ma.select("mask_a").distinct()
        cb = mb.select("mask_b").distinct()
        # The stream side is tiny (one row per class); AQE would coalesce
        # it to one partition, but each class row fans out to |cb| pairs,
        # so keep the compute wide with an explicit (AQE-exempt)
        # repartition.
        ca = ca.repartition(ca.sparkSession.sparkContext.defaultParallelism)
        class_pairs = (
            ca.crossJoin(F.broadcast(cb))
            .select(
                "mask_a",
                "mask_b",
                F.bit_count(F.col("mask_a").bitwiseAND(F.col("mask_b"))).alias("n_common"),
            )
            .where(F.col("n_common") > 0)
        )
        # only the CLASS table is force-broadcast -- mb (one row per
        # b-doc) is left to Catalyst/AQE, which broadcasts it while small
        # and falls back to a shuffle equi-join on mask_b past the
        # broadcast limit; that fallback is what delivers the bounded-
        # broadcast claim above.
        return (
            ma.join(F.broadcast(class_pairs), "mask_a")
            .join(mb, "mask_b")
            .select("a_id", "b_id", F.col("n_common").cast("long").alias("n_common"))
        )
    return (
        a.join(b, "token")
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("n_common"))
    )


def dot_products(weights_a: DataFrame, weights_b: DataFrame) -> DataFrame:
    """Sparse dot products for all pairs sharing >=1 token -> (a_id, b_id,
    dot). Reference calculateDotProduct (EntityResolution.scala:368-384)
    iterates one map's keys; relationally that is the token equi-join with
    a map-side partial SUM -- pairs sharing no token (dot 0) never appear,
    matching the sparse semantics.
    """
    a = weights_a.select("token", F.col("id").alias("a_id"), F.col("weight").alias("w_a"))
    b = weights_b.select("token", F.col("id").alias("b_id"), F.col("weight").alias("w_b"))
    # One physical join: a sort-merge join on token, whose hot tokens
    # AQE splits. Left to AQE, a small side is turned into a broadcast
    # only after both sides have been shuffled -- one more Spark job per
    # call, and a build side that depends on which shuffle finished
    # first, so the generated code (and the codegen cache) varies.
    return (
        a.hint("merge").join(b, "token")
        .groupBy("a_id", "b_id")
        .agg(F.sum(F.col("w_a") * F.col("w_b")).alias("dot"))
    )


def _unit_weights(weights: DataFrame) -> DataFrame:
    """(id, token, weight) -> the same rows with each weight divided by
    its doc's L2 norm. The norm is a window over ``id``: on the
    ``id``-partitioned weights that :func:`tfidf.tfidf_weights` emits it
    sorts within partitions and adds no exchange."""
    norm = F.sqrt(F.sum(F.col("weight") * F.col("weight")).over(Window.partitionBy("id")))
    return weights.select("id", "token", (F.col("weight") / norm).alias("weight"))


def cosine_similarity_join(weights_a: DataFrame, weights_b: DataFrame) -> DataFrame:
    """Token-blocked cosine similarity -> (a_id, b_id, sim) for all pairs
    sharing >=1 token. Intended semantics of the reference's
    calculateSimilaritiesFullDataset + fastCosinusSimilarity
    (ScalableEntityResolution.scala:107-129,298-319, bugs fixed).

    Inputs are exploded TF-IDF tables (id, token, weight). Each side is
    pre-normalized to unit length (:func:`_unit_weights`), so the cosine
    is the dot product of the unit vectors, summed straight out of the
    token equi-join: one shuffle on token, partial map-side agg, and no
    norm aggregate or norm join. Right at every vocabulary size, and
    building it runs no Spark job. On a tiny vocabulary, where the join
    output grows toward |pairs| * |vocab| rows, use
    :func:`dense_cosine_similarity`.
    """
    return dot_products(_unit_weights(weights_a), _unit_weights(weights_b)).select(
        "a_id", "b_id", F.col("dot").alias("sim")
    )


# Widest vocabulary the dense form serves: one FLAT double column per
# vocabulary slot (w0..w{n-1}), the per-pair dot product plain column
# arithmetic a0*b0 + ... that whole-stage codegen compiles into a tight
# loop. Past it the row and the generated code grow with |vocab|.
DENSE_UNROLL_MAX = 256


def dense_flat_table_from_tokens(
    tok_df: DataFrame,
    vocab_idf: list[tuple[str, float]],
    side: Column | None = None,
) -> DataFrame:
    """(id, tokens) + driver-side ``[(token, idf)]`` -> the dense flat
    table (side, id, w0..w{n-1}, norm), in ONE explode + ONE groupBy(id)
    with |vocab| conditional-count sums -- one shuffle, no (id, token)
    aggregation, no idf join.

    ``side`` labels each row's catalog (0 = a, 1 = b): for row-disjoint
    slices of one tokenized table (e.g. even/odd ids) pass the full table
    plus a side expression, and both sides cost one pass.

    The driver-side idf list is the relational analog of the reference's
    broadcast idfDict (EntityResolution.scala:19,183), legitimate here
    because the dense form preconditions on a tiny vocabulary (bounded by
    DENSE_UNROLL_MAX); idf values ride in as double literals (repr
    round-trips binary64 exactly, so weights stay bit-identical to the
    join form: (count/n_tokens) * idf).

    Slot i is ``vocab_idf[i]`` (callers pass it token-sorted). Tokens
    absent from the list contribute nothing (closed-world corpus: the idf
    table is built from the same docs). The caller persists the result
    (see :func:`_flat_pairs`) and owns that cache.
    """
    if side is None:
        side = F.lit(0)
    n = len(vocab_idf)
    ex = tok_df.select(
        side.cast("int").alias("side"),
        F.col("id"),
        F.size("tokens").alias("n_tokens"),
        F.explode("tokens").alias("token"),
    )
    counts = [
        F.expr(
            f"SUM(CASE WHEN token = {sql_str(t)} THEN 1 ELSE 0 END)"
        ).alias(f"c{i}")
        for i, (t, _) in enumerate(vocab_idf)
    ]
    agg = ex.groupBy("side", "id", "n_tokens").agg(*counts)
    weights = [
        f"(c{i} / n_tokens) * {idf!r}D AS w{i}"
        for i, (_, idf) in enumerate(vocab_idf)
    ]
    flat = agg.selectExpr("side", "id", *weights)
    norm_sq = " + ".join(f"w{i} * w{i}" for i in range(n))
    return flat.selectExpr("*", f"SQRT({norm_sq}) AS norm")


def _flat_pairs(flats: DataFrame) -> DataFrame:
    """Every (a, b) doc pair of a persisted flat table -> (a_id, b_id,
    dot, na, nb): a map-only broadcast cross join with the dot product
    emitted in-row, so there is no pair-level shuffle at all.

    ``flats`` must be persisted. Its InMemoryRelation is the plan barrier
    that keeps Catalyst from inlining the builder's |vocab| conditional
    sums into the n-term dot and norm expressions, where expression
    canonicalization runs out of memory (OOM during optimization at a
    16-token vocabulary). The check runs no job and persists nothing."""
    if flats.storageLevel == StorageLevel.NONE:
        raise ValueError("dense similarity needs a persisted flats table")
    n = sum(1 for c in flats.columns if c.startswith("w") and c[1:].isdigit())
    fa = flats.where(F.col("side") == 0).selectExpr(
        "id AS a_id", "norm AS na", *[f"w{i} AS a{i}" for i in range(n)]
    )
    fb = flats.where(F.col("side") == 1).selectExpr(
        "id AS b_id", "norm AS nb", *[f"w{i} AS b{i}" for i in range(n)]
    )
    # Explicit repartition: the stream side is one row per doc, which AQE
    # would coalesce to one partition; each row fans out to |b| pairs so
    # the pair compute must stay wide.
    fa = fa.repartition(fa.sparkSession.sparkContext.defaultParallelism)
    dot = " + ".join(f"a{i} * b{i}" for i in range(n))
    return fa.crossJoin(F.broadcast(fb)).selectExpr(
        "a_id", "b_id", f"({dot}) AS dot", "na", "nb"
    )


def dense_dot_products(flats: DataFrame) -> DataFrame:
    """:func:`dot_products` over a persisted dense flat table. ``dot > 0
    <=> the pair shares a token``, so the filter reproduces the sparse
    form's pairs-sharing->=1-token semantics with NO token-exploded
    shuffle.

    REQUIRES strictly positive weights in ``flats``. The equivalence
    above is exactly the strict-positivity argument (true for this
    engine's idf = N/df >= 1 times tf > 0, the only flats builder);
    with a zero-capable weighting (e.g. log-idf where a token appears
    in every doc) a pair sharing only zero-weight tokens has dot = 0
    and would be silently dropped here while the sparse join emits it.
    Do not point this at a foreign flats table without checking that
    precondition."""
    return _flat_pairs(flats).where(F.col("dot") > 0).select("a_id", "b_id", "dot")


def dense_cosine_similarity(flats: DataFrame) -> DataFrame:
    """:func:`cosine_similarity_join` over a persisted dense flat table
    -> (a_id, b_id, sim): the same pairs (dot > 0 <=> shares a token,
    under :func:`dense_dot_products`' positive-weight precondition) and
    the same cosines, with no pair-level shuffle."""
    return (
        _flat_pairs(flats)
        .where(F.col("dot") > 0)
        .selectExpr("a_id", "b_id", "(dot / (na * nb)) AS sim")
    )


def cross_cosine_similarity(
    weights_a: DataFrame,
    weights_b: DataFrame,
    ids_a: DataFrame | None = None,
    ids_b: DataFrame | None = None,
    sims: DataFrame | None = None,
    flats: DataFrame | None = None,
) -> DataFrame:
    """Cosine similarity for ALL pairs (reference
    simpleSimimilarityCalculation's cartesian, EntityResolution.scala:133-157).

    The dot product of pairs sharing no token is 0, so the quadratic part
    is never quadratic similarity arithmetic. Two physical forms, picked
    by whether the caller passes a persisted dense flat table:

    * **flats** (``flats`` passed): the same map-only broadcast cross
      join as :func:`dense_cosine_similarity` but WITHOUT the dot>0
      filter -- zero-dot pairs fall out with sim 0.0 for free, no
      pair-level shuffle anywhere. Pairs involving docs with no weights
      at all (all-stopword texts) are re-attached from the id sets with
      sim 0.0 via tiny anti/semi joins.
    * **join form** (otherwise): all id pairs LEFT JOIN the token-blocked
      similarity table + ``coalesce(sim, 0)``.

    ``ids_a``/``ids_b`` default to the distinct ids of the weight tables;
    pass the tokenized tables' ids when zero-weight docs must appear.
    ``sims`` is an already-built token-blocked table for the join form.
    """
    if flats is not None:
        base = _flat_pairs(flats).selectExpr("a_id", "b_id", "(dot / (na * nb)) AS sim")
        if ids_a is None and ids_b is None:
            return base
        # ids with no weight rows (zero-weight docs) are absent from the
        # flat table; every pair touching one has sim 0.0 by definition.
        # The weighted-id sets are one narrow scan of the persisted table
        # instead of re-running the TF-IDF lineage per side.
        wa_ids = F.broadcast(flats.where(F.col("side") == 0).select("id"))
        wb_ids = F.broadcast(flats.where(F.col("side") == 1).select("id"))
        ids_a = ids_a if ids_a is not None else weights_a.select("id").distinct()
        ids_b = ids_b if ids_b is not None else weights_b.select("id").distinct()
        za = ids_a.join(wa_ids, "id", "left_anti").select(F.col("id").alias("a_id"))
        nonzero_a = ids_a.join(wa_ids, "id", "left_semi").select(F.col("id").alias("a_id"))
        zb = ids_b.join(wb_ids, "id", "left_anti").select(F.col("id").alias("b_id"))
        zero_pairs = (
            za.crossJoin(ids_b.select(F.col("id").alias("b_id")))
            .unionByName(nonzero_a.crossJoin(F.broadcast(zb)))
            .select("a_id", "b_id", F.lit(0.0).alias("sim"))
        )
        return base.unionByName(zero_pairs)
    if sims is None:
        sims = cosine_similarity_join(weights_a, weights_b)
    ids_a = ids_a if ids_a is not None else weights_a.select("id").distinct()
    ids_b = ids_b if ids_b is not None else weights_b.select("id").distinct()
    allpairs = ids_a.select(F.col("id").alias("a_id")).crossJoin(
        ids_b.select(F.col("id").alias("b_id"))
    )
    return allpairs.join(sims, ["a_id", "b_id"], "left").select(
        "a_id", "b_id", F.coalesce("sim", F.lit(0.0)).alias("sim")
    )


def pair_similarity_lookup(sims: DataFrame, a_id: str, b_id: str) -> DataFrame:
    """Two-column equality filter + projection (reference findSimilarity,
    EntityResolution.scala:159-170). A pushed-down filter, not a collect."""
    return sims.where((F.col("a_id") == a_id) & (F.col("b_id") == b_id)).select("sim")


def document_similarity(
    text_a: str,
    text_b: str,
    idf_map: Column,
    stopwords: list[str] | None = None,
) -> Column:
    """End-to-end cosine similarity of two raw strings as ONE row-level
    expression (reference calculateDocumentSimilarity,
    EntityResolution.scala:406-420): tokenize -> TF -> x IDF -> cosine.

    ``idf_map`` is a MAP<STRING,DOUBLE> column (e.g. a broadcast-joined
    one-row map built from idf_table); tokens missing from it get weight 0
    (the closed-world corpus makes this unreachable in the pipeline).
    Entirely higher-order functions -- no UDF, no shuffle.
    """
    def _weights(text: str) -> Column:
        tf = term_frequencies_map(tokenize_no_stopwords(text, stopwords))
        return F.map_from_arrays(
            F.map_keys(tf),
            F.transform(
                F.map_keys(tf),
                lambda t: F.element_at(tf, t)
                * F.coalesce(F.element_at(idf_map, t), F.lit(0.0)),
            ),
        )

    def _dot(v1: Column, v2: Column) -> Column:
        return F.aggregate(
            F.map_keys(v1),
            F.lit(0.0),
            lambda acc, k: acc
            + F.element_at(v1, k) * F.coalesce(F.element_at(v2, k), F.lit(0.0)),
        )

    def _norm(v: Column) -> Column:
        return F.sqrt(
            F.aggregate(
                F.map_values(v), F.lit(0.0), lambda acc, w: acc + w * w
            )
        )

    va, vb = _weights(text_a), _weights(text_b)
    return _dot(va, vb) / (_norm(va) * _norm(vb))
