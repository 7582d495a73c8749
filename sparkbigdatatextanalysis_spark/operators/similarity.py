"""Similarity joins: the engine's flagship operators.

Scalable path (reference ScalableEntityResolution.scala:64-129, with its
two bugs fixed to the test-asserted intent -- see SURVEY.md D15): instead
of broadcasting whole TF-IDF matrices to the driver and back, the cosine
similarity of every candidate pair sharing >=1 token is ONE relational
plan:

    weights_a JOIN weights_b ON token     (candidate generation = the
                                           inverted-index equi-join)
    GROUP BY (a_id, b_id): dot = sum(w_a * w_b)
    JOIN norms_a, norms_b                 (broadcast when small)
    sim = dot / (norm_a * norm_b)

Catalyst handles pushdown/pruning; AQE handles the Zipfian token skew the
join inherits (stopword removal already kills the worst offenders). At
100 TB the same plan holds: the token join is a shuffle on ``token``,
partial map-side aggregation shrinks the pair stream, and the norm joins
broadcast (norms are one row per doc id).

The naive quadratic path (reference EntityResolution.scala:133-157) is
kept for parity/small data as an explicit crossJoin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import term_frequencies_map, tokenize_no_stopwords
from .tfidf import norms as _norms


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
    idx_a: DataFrame,
    idx_b: DataFrame,
    strategy: str = "auto",
    vocab_n: int | None = None,
) -> DataFrame:
    """Candidate pairs sharing >=1 token -> (a_id, b_id, n_common).

    Reference determineCommonTokens (ScalableEntityResolution.scala:87-105)
    materializes the shared-token lists via groupByKey; the count is all
    downstream consumers need, so aggregate instead of collecting lists.

    Physical strategies (same selection rule as the cosine join):

    * ``sparse`` -- token equi-join + groupBy(a_id, b_id). Right for real
      text (large vocab, low df): join output ~ sum over tokens of
      df_a*df_b stays near the matching-pair count.
    * ``bitmask`` -- when the distinct vocabulary fits in 63 bits, fold
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
      what keeps the strategy viable when the catalog outgrows the
      broadcast limit but the vocabulary stays tiny.
    * ``auto`` -- ``bitmask`` when the caller states ``vocab_n`` <=
      BITMASK_VOCAB_MAX (a capped count is as good as an exact one),
      ``sparse`` otherwise. Both return the same pairs, so the choice is
      speed only and building the DataFrame runs no Spark job.
    """
    a = idx_a.select("token", F.col("id").alias("a_id"))
    b = idx_b.select("token", F.col("id").alias("b_id"))
    if strategy == "auto":
        strategy = "bitmask" if _stated_at_most(vocab_n, BITMASK_VOCAB_MAX) else "sparse"
    if strategy == "bitmask":
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
    return (
        a.join(b, "token")
        .groupBy("a_id", "b_id")
        .agg(F.sum(F.col("w_a") * F.col("w_b")).alias("dot"))
    )


def dense_dot_products(flats: DataFrame) -> DataFrame:
    """:func:`dot_products` over a prebuilt dense flat table
    (:func:`dense_flat_table` layout: side, id, w0.., norm) -- the same
    map-only broadcast-cross-join shape as the dense cosine strategy,
    minus the norm division. ``dot > 0 <=> the pair shares a token``,
    so the filter reproduces the sparse form's pairs-sharing->=1-token
    semantics with NO token-exploded shuffle: on a tiny vocabulary the
    sparse equi-join's output explodes toward |pairs| * |vocab| rows
    through an exchange, while this form does the same multiplies
    in-row (guide: remove the shuffle outright, then shuffle fewer
    bytes).

    REQUIRES strictly positive weights in ``flats``. The equivalence
    above is exactly the strict-positivity argument (true for this
    engine's idf = N/df >= 1 times tf > 0, the only flats builder);
    with a zero-capable weighting (e.g. log-idf where a token appears
    in every doc) a pair sharing only zero-weight tokens has dot = 0
    and would be silently dropped here while the sparse join emits it.
    Do not point this at a foreign flats table without checking that
    precondition."""
    n = sum(1 for c in flats.columns if c.startswith("w") and c[1:].isdigit())
    fa = flats.where(F.col("side") == 0).selectExpr(
        "id AS a_id", *[f"w{i} AS a{i}" for i in range(n)]
    )
    fb = flats.where(F.col("side") == 1).selectExpr(
        "id AS b_id", *[f"w{i} AS b{i}" for i in range(n)]
    )
    # stream side is one row per doc: keep the pair fan-out wide (AQE
    # would coalesce it to one partition) -- same rationale as
    # _cosine_similarity_dense_flat
    fa = fa.repartition(fa.sparkSession.sparkContext.defaultParallelism)
    dot = " + ".join(f"a{i} * b{i}" for i in range(n))
    return (
        fa.crossJoin(F.broadcast(fb))
        .selectExpr("a_id", "b_id", f"({dot}) AS dot")
        .where(F.col("dot") > 0)
    )


DENSE_VOCAB_THRESHOLD = 1024


def _stated_at_most(vocab_n: int | None, limit: int) -> bool:
    """The module's one strategy-selection rule: a small-vocabulary form
    is picked only from a vocabulary size the caller states. An unknown
    size picks the sparse join, which is correct at every size -- never
    a distinct-token count job hidden inside a lazy operator."""
    return vocab_n is not None and vocab_n <= limit


def cosine_similarity_join(
    weights_a: DataFrame,
    weights_b: DataFrame,
    broadcast_norms: bool = True,
    strategy: str = "auto",
    vocab_n: int | None = None,
    flats: DataFrame | None = None,
) -> DataFrame:
    """Token-blocked cosine similarity -> (a_id, b_id, sim) for all pairs
    sharing >=1 token. Intended semantics of the reference's
    calculateSimilaritiesFullDataset + fastCosinusSimilarity
    (ScalableEntityResolution.scala:107-129,298-319, bugs fixed).

    Inputs are exploded TF-IDF tables (id, token, weight).

    Physical strategy:

    * ``sparse`` -- explode-join-aggregate: shuffle on token, partial
      map-side agg, norms broadcast. The right plan when the vocabulary
      is large (real text): docs share few tokens, the join output stays
      near |matching pairs|.
    * ``dense`` -- pivot each doc to a fixed |vocab| dense vector, then a
      broadcast cross join with an in-row dot product. When the
      vocabulary is small the sparse join's output explodes toward
      |pairs| * |vocab| rows through a shuffle; the dense form does the
      same multiplies map-side with NO pair-level shuffle at all.
      Results are identical because TF-IDF weights are strictly positive:
      dot > 0 <=> the pair shares a token. Without a stated ``vocab_n``
      the dense form is the array one, which needs no width up front.
    * ``auto`` -- ``dense`` when the caller states ``vocab_n`` <=
      DENSE_VOCAB_THRESHOLD (pass it to opt a tiny vocabulary into the
      dense path; the IDF table already knows it), ``sparse`` otherwise.
      Since both strategies return the same pairs, the choice costs no
      Spark job: building the DataFrame never re-runs the tokenize ->
      tf -> idf -> weights lineage just to count the vocabulary.

    Scale limit of the dense path: the build side must fit a broadcast
    (|docs_b| rows x ~8*|vocab| bytes). Beyond that, with a still-tiny
    vocabulary, the right move is equivalence-classing first -- docs
    sharing an identical weight vector collapse to one class row, class
    pairs are computed once (<= min(|docs|, vocab-limited) classes), and
    members expand after -- or simply the sparse path; any all-pairs
    output at that shape is dominated by its own output size anyway.
    """
    if strategy == "auto":
        strategy = "dense" if _stated_at_most(vocab_n, DENSE_VOCAB_THRESHOLD) else "sparse"
    if strategy == "dense":
        if vocab_n == 0:
            # empty vocabulary (e.g. all-stopword corpus): no pair can
            # share a token, so the result is empty by definition.
            return (
                weights_a.select(F.col("id").alias("a_id"))
                .limit(0)
                .crossJoin(weights_b.select(F.col("id").alias("b_id")).limit(0))
                .withColumn("sim", F.lit(0.0))
            )
        return _cosine_similarity_dense(weights_a, weights_b, vocab_n, flats=flats)

    dots = dot_products(weights_a, weights_b)
    na = _norms(weights_a).select(F.col("id").alias("a_id"), F.col("norm").alias("norm_a"))
    nb = _norms(weights_b).select(F.col("id").alias("b_id"), F.col("norm").alias("norm_b"))
    if broadcast_norms:
        na, nb = F.broadcast(na), F.broadcast(nb)
    return dots.join(na, "a_id").join(nb, "b_id").select(
        "a_id", "b_id", (F.col("dot") / (F.col("norm_a") * F.col("norm_b"))).alias("sim")
    )


def _dense_vectors(weights: DataFrame, vocab: DataFrame) -> DataFrame:
    """(id, token, weight) -> (id, v ARRAY<DOUBLE>[|vocab|], norm) with a
    broadcast token->index join; the pivot is one groupBy(id)."""
    w = weights.join(F.broadcast(vocab), "token").select("id", "idx", "weight")
    m = w.groupBy("id").agg(
        F.map_from_entries(F.collect_list(F.struct("idx", "weight"))).alias("m")
    )
    n_vocab = F.size(F.col("vsize"))
    return m.crossJoin(
        F.broadcast(vocab.agg(F.collect_list("idx").alias("vsize")))
    ).select(
        "id",
        F.transform(
            F.sequence(F.lit(0), n_vocab - 1),
            lambda i: F.coalesce(F.element_at(F.col("m"), i.cast("int")), F.lit(0.0)),
        ).alias("v"),
    ).select(
        "id",
        "v",
        F.sqrt(
            F.aggregate(F.col("v"), F.lit(0.0), lambda s, x: s + x * x)
        ).alias("norm"),
    )


# Below this many vocabulary slots each doc's dense vector is pivoted into
# FLAT double columns (w0..w{n-1}) and the per-pair dot product is emitted
# as plain column arithmetic a0*b0 + ... -- measured ~15x faster than the
# higher-order zip_with/aggregate form and ~15x faster again than per-
# element getItem on array columns at millions of pairs (whole-stage
# codegen compiles the flat form into a tight loop; arrays pay per-access
# overhead). Above it, array columns + zip_with keep the row narrow.
DENSE_UNROLL_MAX = 256


def dense_flat_table(
    weights: DataFrame, vocab: DataFrame, n: int, side: Column | None = None
) -> DataFrame:
    """(id, token, weight) -> (side, id, w0..w{n-1}, norm): one flat
    double column per vocabulary slot via a value-list pivot (codegen'd
    HashAggregate -- no array building, no ObjectHashAggregate).

    ``side`` labels which catalog each row belongs to (0 = a, 1 = b),
    evaluated BEFORE the pivot so one aggregate job covers both sides.
    When the two catalogs are row-disjoint slices of one weights table
    (the common case -- e.g. even/odd ids), pass the full table plus a
    side expression and the whole flat table costs ONE pass over one
    lineage, instead of one pivot per catalog branch. Callers persist the
    result -- it is the pipeline point a real cluster would cache
    (reference D23)."""
    if side is None:
        side = F.lit(0)
    piv = (
        weights.join(F.broadcast(vocab), "token")
        .groupBy(side.cast("int").alias("side"), F.col("id"))
        .pivot("idx", list(range(n)))
        .agg(F.sum("weight"))
    )
    # selectExpr with prebuilt SQL strings: one py4j call per select
    # instead of hundreds of driver round-trips assembling Column trees.
    flat = piv.selectExpr(
        "side", "id", *[f"COALESCE(`{i}`, CAST(0 AS DOUBLE)) AS w{i}" for i in range(n)]
    )
    norm_sq = " + ".join(f"w{i} * w{i}" for i in range(n))
    return flat.selectExpr("*", f"SQRT({norm_sq}) AS norm")


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def dense_flat_table_from_tokens(
    tok_df: DataFrame,
    vocab_idf: list[tuple[str, float]],
    side: Column | None = None,
) -> DataFrame:
    """(id, tokens) + driver-side ``[(token, idf)]`` -> the same
    (side, id, w0..w{n-1}, norm) layout as :func:`dense_flat_table`, in
    ONE explode + ONE groupBy(id) with |vocab| conditional-count sums.

    Skips the (id, token) aggregation, the idf broadcast join, and the
    pivot -- one shuffle instead of two. The driver-side idf list is the
    relational analog of the reference's broadcast idfDict
    (EntityResolution.scala:19,183), legitimate here because every dense
    strategy already preconditions on a tiny vocabulary (bounded by
    DENSE_UNROLL_MAX); idf values ride in as double literals (repr
    round-trips binary64 exactly, so weights stay bit-identical to the
    join form: (count/n_tokens) * idf).

    ``vocab_idf`` must be sorted by token so slot order matches
    :func:`vocab_index`. Tokens absent from the list contribute nothing
    (closed-world corpus: the idf table is built from the same docs).
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
            f"SUM(CASE WHEN token = {_sql_str(t)} THEN 1 ELSE 0 END)"
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


def _dense_flat_union(
    weights_a: DataFrame, weights_b: DataFrame, vocab: DataFrame, n: int
) -> DataFrame:
    """Side-tagged flat table for two unrelated weight tables: union the
    inputs under side tags, then one pivot job over the concatenation."""
    wu = weights_a.select(F.lit(0).alias("_s"), "id", "token", "weight").unionByName(
        weights_b.select(F.lit(1).alias("_s"), "id", "token", "weight")
    )
    return dense_flat_table(
        wu.select("id", "token", "weight", "_s"), vocab, n, side=F.col("_s")
    )


def _cosine_similarity_dense_flat(
    weights_a: DataFrame,
    weights_b: DataFrame,
    vocab: DataFrame,
    n: int,
    keep_zero_pairs: bool = False,
    flats: DataFrame | None = None,
) -> DataFrame:
    # persist() is load-bearing twice over: the flat table is the
    # pipeline point a real cluster would cache (reference D23), and the
    # InMemoryRelation is a plan barrier -- without it Catalyst inlines the
    # pivot/coalesce trees into the n-term dot/norm sums and expression
    # canonicalization blows up (OOM at n=31 on a 16g driver).
    if flats is None:
        flats = _dense_flat_union(weights_a, weights_b, vocab, n).persist()
    else:
        # a prebuilt flat table defines its own width
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
    paired = fa.crossJoin(F.broadcast(fb)).selectExpr(
        "a_id", "b_id", f"({dot}) AS dot", "na", "nb"
    )
    if not keep_zero_pairs:
        # weights are strictly positive, so dot > 0 <=> the pair shares
        # a token -- the token-blocked candidate semantics.
        paired = paired.where(F.col("dot") > 0)
    return paired.selectExpr("a_id", "b_id", "(dot / (na * nb)) AS sim")


def vocab_index(weights_a: DataFrame, weights_b: DataFrame | None = None) -> DataFrame:
    """(token, idx): dense-vector slot assignment for the joint vocabulary
    (one table, or the union of two). Precondition of every dense strategy
    is a tiny vocabulary, so the single-partition row_number window is over
    at most a few hundred rows."""
    toks = weights_a.select("token")
    if weights_b is not None:
        toks = toks.union(weights_b.select("token"))
    return toks.distinct().select(
        "token",
        (F.row_number().over(Window.orderBy("token")) - 1).alias("idx"),
    )


def _cosine_similarity_dense(
    weights_a: DataFrame,
    weights_b: DataFrame,
    vocab_n: int | None = None,
    keep_zero_pairs: bool = False,
    flats: DataFrame | None = None,
) -> DataFrame:
    """Dense-pivot strategy: map-side broadcast cross join, in-row dot
    product, filter dot > 0 (== shares a token, weights positive) unless
    ``keep_zero_pairs``."""
    vocab = vocab_index(weights_a, weights_b)
    # a prebuilt flat table always routes to the flat branch (it defines
    # its own width); otherwise the unroll cutoff decides
    if flats is not None or (vocab_n is not None and vocab_n <= DENSE_UNROLL_MAX):
        return _cosine_similarity_dense_flat(
            weights_a, weights_b, vocab, vocab_n or DENSE_UNROLL_MAX,
            keep_zero_pairs=keep_zero_pairs, flats=flats,
        )
    da = _dense_vectors(weights_a, vocab).select(
        F.col("id").alias("a_id"), F.col("v").alias("va"), F.col("norm").alias("na")
    )
    db = _dense_vectors(weights_b, vocab).select(
        F.col("id").alias("b_id"), F.col("v").alias("vb"), F.col("norm").alias("nb")
    )
    # The stream side is small (one row per doc) so AQE coalesces it to
    # one partition -- but each stream row fans out to |b| pairs, so the
    # pair compute must stay wide. An explicit user repartition is exempt
    # from AQE coalescing and restores full parallelism.
    da = da.repartition(da.sparkSession.sparkContext.defaultParallelism)
    paired = da.crossJoin(F.broadcast(db)).select(
        "a_id",
        "b_id",
        F.aggregate(
            F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
        ).alias("dot"),
        "na",
        "nb",
    )
    if not keep_zero_pairs:
        paired = paired.where(F.col("dot") > 0)
    return paired.select(
        "a_id", "b_id", (F.col("dot") / (F.col("na") * F.col("nb"))).alias("sim")
    )


def cross_cosine_similarity(
    weights_a: DataFrame,
    weights_b: DataFrame,
    ids_a: DataFrame | None = None,
    ids_b: DataFrame | None = None,
    sims: DataFrame | None = None,
    vocab_n: int | None = None,
    flats: DataFrame | None = None,
) -> DataFrame:
    """Cosine similarity for ALL pairs (reference
    simpleSimimilarityCalculation's cartesian, EntityResolution.scala:133-157).

    The dot product of pairs sharing no token is 0, so the quadratic part
    is never quadratic similarity arithmetic. Two physical forms:

    * **dense direct** (when the vocabulary fits the flat-column strategy,
      i.e. ``vocab_n <= DENSE_UNROLL_MAX`` or prebuilt ``flats`` are
      passed): the same map-only broadcast cross join as the candidate
      join but WITHOUT the dot>0 filter -- zero-dot pairs fall out with
      sim 0.0 for free, no pair-level shuffle anywhere. Pairs involving
      docs with no weights at all (all-stopword texts) are re-attached
      from the id sets with sim 0.0 via tiny anti/semi joins.
    * **join form** (otherwise, or when a prebuilt ``sims`` is passed
      without dense stats): all id pairs LEFT JOIN the token-blocked
      similarity table + ``coalesce(sim, 0)``.

    ``ids_a``/``ids_b`` default to the distinct ids of the weight tables;
    pass the tokenized tables' ids when zero-weight docs must appear.
    ``sims`` lets callers pass an already-built (cached) token-blocked
    similarity table; ``flats`` an already-built (cached) dense flat
    table from :func:`dense_flat_table`.
    """
    dense_ok = flats is not None or (
        vocab_n is not None and 0 < vocab_n <= DENSE_UNROLL_MAX
    )
    if dense_ok:
        base = _cosine_similarity_dense(
            weights_a, weights_b,
            vocab_n=vocab_n if vocab_n is not None else DENSE_UNROLL_MAX,
            keep_zero_pairs=True, flats=flats,
        )
        if ids_a is None and ids_b is None:
            return base
        # ids with no weight rows (zero-weight docs) are absent from the
        # dense table; every pair touching one has sim 0.0 by definition.
        # The weighted-id sets come from the (cached) flat table when
        # available -- one narrow scan of a persisted 2-column slice
        # instead of re-running the TF-IDF lineage per side.
        if flats is not None:
            wa_ids = F.broadcast(flats.where(F.col("side") == 0).select("id"))
            wb_ids = F.broadcast(flats.where(F.col("side") == 1).select("id"))
        else:
            wa_ids = F.broadcast(weights_a.select("id").distinct())
            wb_ids = F.broadcast(weights_b.select("id").distinct())
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
        sims = cosine_similarity_join(weights_a, weights_b, vocab_n=vocab_n)
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
    text_a: Column | str,
    text_b: Column | str,
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
    def _weights(text: Column | str) -> Column:
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
