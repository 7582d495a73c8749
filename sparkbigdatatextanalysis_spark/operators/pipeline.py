"""Training-data pipeline operators: vocabulary building, train/test
decontamination, sequence packing, and unigram language-model scoring.

These extend the engine beyond reference parity toward the operations a
large-scale LLM-pretraining data pipeline runs daily. Each is built from
built-in expressions (no Python UDFs), has an exact DuckDB oracle, and is
shaped for 100 TB inputs:

* vocabulary building is a partial-aggregated groupBy + distributed
  top-k (TakeOrdered -- per-partition heads merged on the driver, never
  a global sort);
* decontamination is a shingle-hash equi-join -- the same join shape and
  skew story as the n-gram near-dup operators;
* sequence packing parallelizes across hash shards: packing is
  inherently sequential WITHIN a pack stream, so the shard is the unit
  of parallelism and the shard count is the knob that scales with the
  corpus;
* unigram scoring is one corpus aggregation + a broadcast join back --
  map-only scoring, the same shape as the IDF pipeline.
"""

from __future__ import annotations

import re
from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import string_hash31
from ..functions.lineage import job_description


def vocab_top_k(tok_df: DataFrame, k: int = 100) -> DataFrame:
    """Corpus vocabulary head: (token, n_occ, n_docs, rank) for the k
    most frequent tokens (ties broken by token text, so the result is
    deterministic).

    The groupBy is map-side partial-aggregated; the top-k is
    ``orderBy().limit(k)``, which Spark executes as TakeOrdered (a
    per-partition bounded heap + driver merge of k rows per partition)
    -- no global sort, no single-partition shuffle of the vocabulary.
    The row_number window then runs over the k surviving rows only.
    This is the vocabulary-selection step of tokenizer training.
    """
    ex = tok_df.select("id", F.explode("tokens").alias("token"))
    counts = ex.groupBy("token").agg(
        F.count("*").alias("n_occ"),
        F.countDistinct("id").alias("n_docs"),
    )
    top = counts.orderBy(F.col("n_occ").desc(), "token").limit(k)
    w = Window.orderBy(F.col("n_occ").desc(), "token")
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def contamination_overlap(
    shingles: DataFrame,
    train_pred,
    test_pred,
) -> DataFrame:
    """Benchmark-decontamination check: for every TEST document, how many
    of its word-n-gram shingles also occur anywhere in TRAIN.

    ``shingles`` is the (id, sh) distinct-shingle-hash table (one row per
    distinct shingle per doc, e.g. :func:`..operators.dedup.shingle_hashes`);
    ``train_pred`` / ``test_pred`` are boolean Column predicates over its
    columns selecting the two disjoint corpus slices.

    Returns (doc_id, n_shingles, n_contaminated, n_train_docs,
    contamination): per test doc its distinct-shingle count, how many of
    those shingles appear in train, how many distinct train docs share at
    least one shingle, and the contaminated fraction. Test docs with zero
    overlap are kept (left join), since "clean" is the answer the
    pipeline acts on.

    Scale: one equi-join on the shingle hash (uniform key -- md5-derived
    -- so no skew) + two partial-aggregated groupBys. Identical join
    shape to the n-gram near-dup operator, so the 100 TB story is the
    same: shuffle ~ |postings|, never |docs|^2.
    """
    # persist: the shingle table feeds four plan branches (train, test
    # totals, and both sides of the match join) and Catalyst does not
    # CSE repeated subtrees across branches -- without the barrier the
    # whole shingle pipeline would run 4x (same reasoning as
    # ngram_jaccard_pairs).
    shingles = shingles.persist()
    # distinct on the HASH: upstream shingle tables are distinct per
    # (id, shingle text), so two shingles colliding into one hash value
    # would otherwise double-count in the totals while countDistinct(sh)
    # collapses them in the matches -- keep every count hash-distinct so
    # numerator, denominator, and the oracle all share one unit.
    train = (
        shingles.where(train_pred).select("sh", F.col("id").alias("train_id")).distinct()
    )
    test = (
        shingles.where(test_pred).select(F.col("id").alias("doc_id"), "sh").distinct()
    )
    totals = test.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    matches = (
        test.join(train, "sh")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("sh").alias("n_contaminated"),
            F.countDistinct("train_id").alias("n_train_docs"),
        )
    )
    return totals.join(matches, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
        F.coalesce("n_train_docs", F.lit(0)).cast("long").alias("n_train_docs"),
        F.round(
            F.coalesce("n_contaminated", F.lit(0)) / F.col("n_shingles"), 6
        ).alias("contamination"),
    )


# --- Bloom-filter decontamination -----------------------------------------
# The broadcast-constant variant of contamination_overlap: at 100 TB the
# train side's shingle postings are petabyte-scale and the equi-join
# shuffles the TEST shingles against them; when the question is only
# "does this shingle occur in the protected set" (test-set n-grams,
# blocklists), a Bloom bitmap over the PROTECTED side is bounded
# driver-held model state -- embed it as a plan literal (the IVF
# centroid pattern) and the probe over the unbounded side becomes
# MAP-ONLY + one partial agg: zero joins, zero shuffles of the corpus.
# The price is a tunable false-positive rate ((1 - e^{-kn/m})^k; zero
# false NEGATIVES), so it fits flag-and-route, not exact reporting.

BLOOM_N_WORDS = 2048       # bitmap size in 64-bit words (16 KiB literal)
BLOOM_BITS_PER_WORD = 63   # bit 63 stays clear: DuckDB raises on 1 << 63
# Two affine hashes over the (already md5-derived) shingle hash -- the
# minhash parameter construction, replayed verbatim in the oracle.
BLOOM_AB = ((1540483477, 433494437), (1203948817, 998244353))


def _bloom_positions(sh, n_words: int):
    from ..functions.hashing import MERSENNE31

    m = n_words * BLOOM_BITS_PER_WORD
    return [((F.lit(a) * sh + F.lit(b)) % MERSENNE31 % m) for a, b in BLOOM_AB]


def bloom_bits(shingles: DataFrame, n_words: int = BLOOM_N_WORDS) -> list[int]:
    """Collect the Bloom bitmap (``n_words`` longs) of a distinct
    (id, sh) shingle-hash table -- e.g. the protected test split of
    :func:`..operators.dedup.shingle_hashes` output.

    The build is one explode of k=2 bit positions per shingle + ONE
    partial-aggregated bit_or groupBy over at most ``n_words`` groups,
    then an ``n_words``-row collect: bounded model state (16 KiB at the
    default), NOT a corpus collect. Size rule of thumb: for n protected
    shingles and k=2 hashes the false-positive rate is
    (1 - e^{-2n/m})^2 with m = n_words*63 bits -- at the default m ~=
    129k bits, 20k shingles give ~7%; scale ``n_words`` with the
    protected set via m = 2n / ln(1/(1-sqrt(FP))) (a 1M-shingle test
    set at 1% FP wants m ~= 19M bits ~= 301k words = 2.4 MiB, still
    broadcast-trivial)."""
    pos = F.explode(
        F.array(*[p.cast("long") for p in _bloom_positions(F.col("sh"), n_words)])
    ).alias("p")
    words = (
        shingles.select(pos)
        # selectExpr: pyspark's shiftleft wrapper takes only an int
        # literal shift; the SQL function accepts a column
        .selectExpr(
            f"CAST(p / {BLOOM_BITS_PER_WORD} AS BIGINT) AS w",
            f"shiftleft(1L, CAST(p % {BLOOM_BITS_PER_WORD} AS INT)) AS mask",
        )
        .groupBy("w")
        .agg(F.bit_or("mask").alias("bits"))
    )
    with job_description(shingles, "bloom_bits: collect bitmap"):
        rows = words.collect()
    got = {r["w"]: r["bits"] for r in rows}
    return [got.get(i, 0) for i in range(n_words)]


def bloom_contamination(
    shingles: DataFrame,
    bits: list[int],
    id_col: str = "id",
    as_literal: bool | None = None,
) -> DataFrame:
    """(doc_id, n_shingles, n_bloom_hits, contaminated): probe every
    doc's distinct shingle hashes against a :func:`bloom_bits` bitmap.
    ``contaminated`` = any shingle hit -- a superset of the true
    contaminated set (Bloom false positives flag clean docs at the
    documented rate; never the reverse), so route flagged docs to the
    exact :func:`contamination_overlap` join for adjudication.

    Two probe strategies, neither joining on the CORPUS side's keys:

    * plan-literal (``as_literal=True``): the bitmap ships as one
      SQL-string array literal per hash (k=2 copies) and the probe is
      IN-ROW (two affine hashes, two element_at reads, two bitwise
      ANDs); the only exchange is the per-doc counting agg,
      partial-aggregated map-side. Plan build parses/canonicalizes
      2 x n_words literals, so very large bitmaps tax planning --
      measured at the documented 301k-word sizing: ~14 s plan build +
      ~5 s extra on the first action (local[8], Spark 4.1), vs <1 s
      total for the broadcast path. It still completes (no
      canonicalization blow-up), but the default cutoff below routes
      that sizing to broadcast; tests/test_scale_paths.py pins both
      the routing and the bounded end-to-end time.
    * broadcast words (``as_literal=False``): the NONZERO bitmap words
      ship as one tiny broadcast (word_idx, bits) table probed with two
      broadcast-hash left joins -- map-side, zero shuffles of the
      probed frame, plan size independent of the bitmap. The right
      path for the 301k-word (2.4 MiB) sizing example in
      :func:`bloom_bits`.

    Default ``None`` picks the literal path up to 32768 words (~256 KiB
    per literal copy) and broadcast past it.
    """
    n_words = len(bits)
    bpw = BLOOM_BITS_PER_WORD
    k = len(BLOOM_AB)
    reserved = [
        s
        for i in range(k)
        # _ww{i} is the broadcast-path join scratch name
        for s in (f"_p{i}", f"_w{i}", f"_b{i}", f"_wb{i}", f"_ww{i}")
    ] + ["_hit"]
    clash = [c for c in reserved if c in shingles.columns]
    if clash:
        # cheap insurance against silent scratch-column shadowing (the
        # remove_duplicate_spans contract); the select() below projects
        # these names fresh, so a clash today only confuses, but a
        # refactor to withColumns would corrupt
        raise ValueError(
            f"bloom_contamination: input already has column(s) {clash}"
        )
    if as_literal is None:
        as_literal = n_words <= 32768
    # chained projection: name the positions first, then test the bits
    # (pyspark's shiftleft wrapper cannot take a column shift)
    named = shingles.select(
        F.col(id_col).alias("doc_id"),
        *[
            p.cast("long").alias(f"_p{i}")
            for i, p in enumerate(_bloom_positions(F.col("sh"), n_words))
        ],
    )
    if as_literal:
        # one SQL-string array literal (the _cents_lit pattern): n_words
        # longs through per-Column py4j assembly would dominate plan
        # build; the literal stays INSIDE the projection expression --
        # it never becomes a per-row column crossing an exchange
        arr_sql = "array(" + ",".join(f"{b}L" for b in bits) + ")"
        hit_sql = " AND ".join(
            f"((element_at({arr_sql}, CAST(_p{i} / {bpw} AS INT) + 1)"
            f" & shiftleft(1L, CAST(_p{i} % {bpw} AS INT))) <> 0)"
            for i in range(k)
        )
        probed = named.selectExpr("doc_id", f"({hit_sql}) AS _hit")
    else:
        spark = shingles.sparkSession
        words = spark.createDataFrame(
            [(w, int(b)) for w, b in enumerate(bits) if b] or [(-1, 0)],
            "_w INT, _bits BIGINT",
        )
        probed = named.selectExpr(
            "doc_id",
            *[f"CAST(_p{i} / {bpw} AS INT) AS _w{i}" for i in range(k)],
            *[f"CAST(_p{i} % {bpw} AS INT) AS _b{i}" for i in range(k)],
        )
        for i in range(k):
            w = words.select(
                F.col("_w").alias(f"_ww{i}"), F.col("_bits").alias(f"_wb{i}")
            )
            probed = probed.join(
                F.broadcast(w), probed[f"_w{i}"] == F.col(f"_ww{i}"), "left"
            ).drop(f"_ww{i}")
        hit_sql = " AND ".join(
            f"((coalesce(_wb{i}, 0L) & shiftleft(1L, _b{i})) <> 0)"
            for i in range(k)
        )
        probed = probed.selectExpr("doc_id", f"({hit_sql}) AS _hit")
    return (
        probed.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.col("_hit").cast("long")).alias("n_bloom_hits"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_bloom_hits",
            (F.col("n_bloom_hits") > 0).alias("contaminated"),
        )
    )


def embedding_decontamination(
    train_emb: DataFrame,
    protected_emb: DataFrame,
    threshold: float,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space (paraphrase) decontamination -- the semantic
    complement of :func:`contamination_overlap` (exact n-grams) and
    :func:`bloom_contamination` (Bloom n-grams), both of which only
    catch VERBATIM leaks: a paraphrased benchmark item shares no
    3-gram with its source and sails through both, but lands next to
    it in embedding space. Composes the engine's existing pieces: any
    (id, embedding) frames (e.g. text bridged through
    ``vectors.hashed_doc_components``), the pinned k-means model state
    of ``ann.kmeans_centroids``, and the cluster-probe equi-join of
    ``dedup.incremental_semantic_dedup`` (the protected side IS that
    contract's representative-state shape).

    Per TRAIN vector: ``cluster`` (argmax assignment against the
    literal centroids), ``n_probe_hits`` (same-cluster protected
    vectors with cos >= ``threshold``), ``max_cos`` (max cosine over
    same-cluster probes; NULL when the cluster holds none), and
    ``contaminated`` = n_probe_hits > 0. Every train vector comes out
    (left join) -- "clean" is the answer the pipeline acts on.

    Like SemDeDup's pair join, the same-cluster restriction is the
    recall/cost dial: a leak whose embedding crosses a cluster
    boundary is missed, and raising k shrinks per-cluster cost while
    widening that miss window (mitigate with multi-probe assignment if
    recall dominates).

    Scale shape: both assignments are map-only literal-centroid argmax
    (zero exchanges); the probe is ONE equi-join on the cluster id --
    the protected side (benchmark test sets: tiny) broadcasts, so the
    100 TB train side never shuffles at all; then one partial-agg
    groupBy(train id). Identical join shape to the incremental
    semantic dedup probe, proven cartesian-free under a degenerate
    cluster in SCALE.md.
    """
    from .ann import _assign_from_lit, _cents_lit, _collect_cents, _norm_vecs
    from ..functions.vector import vec_dot

    lit = _cents_lit(
        _collect_cents(cents, "embedding_decontamination: collect centroids")
    )
    tr = _assign_from_lit(
        _norm_vecs(train_emb, id_col, vec_col), lit, extra_cols=("v", "norm")
    )
    pr = _assign_from_lit(
        _norm_vecs(protected_emb, id_col, vec_col), lit, extra_cols=("v", "norm")
    )
    probes = pr.select(
        "cluster", F.col("v").alias("_pv"), F.col("norm").alias("_pn")
    )
    cos = F.try_divide(vec_dot("v", "_pv"), F.col("norm") * F.col("_pn"))
    hits = (
        tr.join(F.broadcast(probes), "cluster")
        .select("id", cos.alias("_cos"))
        .groupBy("id")
        .agg(
            F.sum((F.col("_cos") >= threshold).cast("long")).alias("_n_hits"),
            F.max("_cos").alias("_max_cos"),
        )
    )
    out = tr.select("id", F.col("cluster").cast("long").alias("cluster")).join(
        hits, "id", "left"
    )
    n = F.coalesce(F.col("_n_hits"), F.lit(0).cast("long"))
    return out.select(
        F.col("id").alias(id_col),
        "cluster",
        n.alias("n_probe_hits"),
        F.col("_max_cos").alias("max_cos"),
        (n > 0).alias("contaminated"),
    )


def pack_sequences(
    doc_tokens: DataFrame,
    budget: int = 512,
    n_shards: int = 32,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Greedy fixed-budget sequence packing: assign each document to a
    training pack of ~``budget`` tokens.

    Documents are hash-sharded (md5-derived, reproducible across engines
    and repartitionings), ordered by id within their shard, and packed by
    cumulative token count: a doc starts in pack ``floor(cum_before /
    budget)`` of its shard -- the fill-and-overflow policy of pretraining
    packers that split a straddling document across the pack boundary
    (``pack_offset`` says where in the pack the doc starts).

    Returns (doc_id, shard, pack_id, pack_offset, n_tokens) with
    ``pack_id = shard * 2^40 + pack_index`` -- globally unique up to
    2^40 (~10^12) packs per shard, i.e. ~5*10^14 tokens per shard at the
    default budget, far past the point where you'd add shards instead.

    Scale: packing is inherently sequential WITHIN a pack stream -- no
    engine can parallelize inside one running sum -- so the shard is the
    parallelism unit. ``n_shards`` is fixed (not data-dependent) so
    results are reproducible; size it ~ corpus_tokens / (10^9) in
    production so each shard's running-sum window stays executor-sized.
    One shuffle (the per-shard sort); everything else is map-only.
    """
    sharded = _sharded_cumsum(
        doc_tokens, id_col, tokens_col, n_shards, salt="", order_by_hash=False
    )
    cum_before = F.col("cum_before")
    return sharded.select(
        "doc_id",
        "shard",
        (F.col("shard") * (1 << 40) + F.floor(cum_before / budget)).alias("pack_id"),
        (cum_before % budget).alias("pack_offset"),
        "n_tokens",
    )


def _sharded_cumsum(
    doc_tokens: DataFrame,
    id_col: str,
    tokens_col: str,
    n_shards: int,
    salt: str,
    order_by_hash: bool,
) -> DataFrame:
    """Shared shard-projection + per-shard running-sum block for the
    packing/sampling operators: (doc_id, n_tokens, shard, cum_before),
    ``cum_before`` = tokens of this shard's rows strictly before this
    row in (hash-)order. One definition so the shard math cannot
    diverge between operators."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    h = string_hash31(
        F.concat(F.lit(salt), F.col(id_col).cast("string"))
    )
    sharded = doc_tokens.select(
        F.col(id_col).alias("doc_id"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
        (h % n_shards).alias("shard"),
        h.alias("_order"),
    )
    order = ["_order", "doc_id"] if order_by_hash else ["doc_id"]
    w = (
        Window.partitionBy("shard")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return sharded.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).drop("_order")


def unigram_logprob(tok_df: DataFrame, broadcast_uni: bool = True) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram LM -- the cheap perplexity-style quality signal (docs of
    rare-token soup score low, docs of common words score high).

    Returns (doc_id, n_tokens, avg_logprob) with avg_logprob =
    mean over token positions of ln(count(token) / total_tokens),
    rounded to 6 decimals.

    Scale: one partial-aggregated groupBy builds the unigram table
    (~|vocab| rows), the total rides along as a broadcast scalar, and
    scoring is a broadcast equi-join back onto the token stream + one
    per-doc aggregation -- the exact shape of the IDF pipeline, so the
    same 100 TB reasoning applies; like the IDF join, pass
    ``broadcast_uni=False`` to flip to a shuffle join if the vocabulary
    ever outgrows the broadcast limit.
    """
    ex = tok_df.select("id", F.explode("tokens").alias("token"))
    # persist: the unigram table feeds both the total (scalar agg) and
    # the scoring join; without the barrier the corpus-wide explode +
    # groupBy would execute twice (no CSE across plan branches)
    uni = ex.groupBy("token").agg(F.count("*").alias("n_occ")).persist()
    total = uni.agg(F.sum("n_occ").alias("total"))
    if broadcast_uni:
        uni = F.broadcast(uni)
    scored = ex.join(uni, "token").crossJoin(F.broadcast(total))
    return (
        scored.groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("n_occ") / F.col("total"))), 6).alias(
                "avg_logprob"
            ),
        )
    )


def bigram_top_k(tok_df: DataFrame, k: int = 100) -> DataFrame:
    """Corpus bigram head: (bigram, n_occ, rank) for the k most frequent
    adjacent token pairs (ties broken by bigram text).

    Bigrams are formed IN-ROW with ``zip_with`` over the token array and
    its shift-by-one slice -- no positional self-join, no window over
    the exploded stream -- so the only shuffle is the partial-aggregated
    count, and the top-k is TakeOrdered exactly as in
    :func:`vocab_top_k`. This is the phrase-mining / tokenizer-merge
    statistics step of pretraining pipelines.
    """
    from ..functions.arrays import adjacent_pairs

    pairs = tok_df.where(F.size("tokens") >= 2).select(
        F.explode(
            adjacent_pairs(
                F.col("tokens"), lambda a, b: F.concat_ws(" ", a, b)
            )
        ).alias("bigram")
    )
    counts = pairs.groupBy("bigram").agg(F.count("*").alias("n_occ"))
    top = counts.orderBy(F.col("n_occ").desc(), "bigram").limit(k)
    w = Window.orderBy(F.col("n_occ").desc(), "bigram")
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def bigram_backoff_logprob(
    tok_df: DataFrame,
    min_count: int = 2,
    alpha: float = 0.4,
    broadcast_lm: bool = True,
) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    bigram LM with Stupid Backoff (Brants et al. 2007, "Large Language
    Models in Machine Translation"): a bigram (w1, w2) attested at least
    ``min_count`` times scores ln(c(w1 w2) / c(w1)); a rarer one backs
    off to ln(alpha * c(w2) / total_tokens). The sharper quality signal
    than :func:`unigram_logprob` -- word-salad that happens to use
    common words still scores low because its TRANSITIONS are unseen.

    Returns (doc_id, n_bigrams, n_backoff, avg_logprob) with avg rounded
    to 6 decimals; docs with fewer than 2 tokens are absent (they have
    no bigram positions).

    Scale: bigrams form IN-ROW (``zip_with`` over the array and its
    shift -- no positional self-join); the LM is two partial-aggregated
    groupBys (unigram ~|vocab| rows, attested-bigram table pruned by
    ``min_count``); scoring is three broadcast equi-joins back onto the
    bigram stream + one per-doc aggregation -- the IDF-pipeline shape.
    Pass ``broadcast_lm=False`` to flip the joins to shuffles if the LM
    tables ever outgrow the broadcast limit. Every per-position score is
    one ln() over one IEEE division of exact integers, so the only
    rounding is the final round(avg, 6).
    """
    from ..functions.arrays import adjacent_pairs

    ex = tok_df.select("id", F.explode("tokens").alias("token"))
    # persist: the unigram table feeds the w1 join, the w2 join, and the
    # total (scalar agg) -- three consumers, one corpus pass
    uni = ex.groupBy("token").agg(F.count("*").alias("n_uni")).persist()
    total = uni.agg(F.sum("n_uni").alias("total"))
    big = (
        tok_df.where(F.size("tokens") >= 2)
        .select(
            F.explode(
                adjacent_pairs(
                    F.col("tokens"), lambda a, b: F.concat_ws(" ", a, b)
                )
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count("*").alias("n_big"))
        .where(F.col("n_big") >= min_count)
    )
    maybe_b = F.broadcast if broadcast_lm else (lambda df: df)
    pairs = tok_df.where(F.size("tokens") >= 2).select(
        "id",
        F.explode(
            adjacent_pairs(
                F.col("tokens"),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select("id", "p.w1", "p.w2")
    u1 = uni.select(F.col("token").alias("w1"), F.col("n_uni").alias("n_w1"))
    u2 = uni.select(F.col("token").alias("w2"), F.col("n_uni").alias("n_w2"))
    scored = (
        pairs.withColumn("bigram", F.concat_ws(" ", "w1", "w2"))
        .join(maybe_b(big), "bigram", "left")
        .join(maybe_b(u1), "w1")
        .join(maybe_b(u2), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "id",
            F.col("n_big").isNull().cast("long").alias("backoff"),
            F.when(
                F.col("n_big").isNotNull(),
                F.log(F.col("n_big") / F.col("n_w1")),
            )
            .otherwise(F.log(F.lit(alpha) * F.col("n_w2") / F.col("total")))
            .alias("lp"),
        )
    )
    return scored.groupBy(F.col("id").alias("doc_id")).agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.sum("backoff").alias("n_backoff"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )


def weighted_priority_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    group: list[str] | None = None,
    id_col: str = "doc_id",
    salt: str = "wps:",
) -> DataFrame:
    """Deterministic weighted sampling: keep the ``k`` rows with the
    smallest priority key = hash(id) / weight, per group (or globally
    with ``group=None``) -- the quality-weighted selection step of
    corpus construction ("prefer high-quality docs, but keep diversity").
    A row's selection chance rises with its weight; weight-1 rows
    compete on the bare hash. This is the integer-exact cousin of the
    Efraimidis-Spirakis exponential-key reservoir, with the uniform
    draw fixed by an md5-derived hash instead of rand(), so selection is
    reproducible across runs, engines, partitionings, and corpus growth
    (a kept doc stays kept unless outcompeted).

    The key is ONE IEEE division of two exactly-represented integers
    (31-bit hash / integer weight), so both engines compute the
    bit-identical double and the top-k cut needs no rounding; ties
    break on the id. Weights must be >= 1 (clamped).

    Scale: per-group selection is grouped_topk's two-phase prune (the
    per-(partition, group) pre-rank caps the final window's input at
    partitions x k rows); global selection is a TakeOrdered limit,
    whose per-task heap is O(k) -- for corpus-sized k use
    relational.global_rank + a rank filter instead. The hash +
    division are map-only.
    """
    from .relational import grouped_topk

    w_int = F.greatest(F.col(weight_col).cast("long"), F.lit(1))
    keyed = df.withColumn(
        "priority",
        string_hash31(F.concat(F.lit(salt), F.col(id_col).cast("string")))
        / w_int,
    )
    order = [F.col("priority").asc(), F.col(id_col).asc()]
    if group:
        return grouped_topk(keyed, group, order, k)
    w = Window.orderBy(*order)
    top = keyed.orderBy(*order).limit(k)
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def chunk_tokens(
    tok_df: DataFrame, size: int, stride: int | None = None
) -> DataFrame:
    """Context-window chunking: split each document's token array into
    (possibly overlapping) windows of ``size`` tokens advancing by
    ``stride`` (default = size, i.e. non-overlapping) -- the
    sequence-preparation step for pretraining windows and RAG passage
    indexes (contrast :func:`pack_sequences`, which CONCATENATES short
    docs; this SPLITS long ones).

    Returns (id, chunk_idx, chunk, n_chunk_tokens). Windows form IN-ROW
    (transform over a sequence of window starts + slice), so the
    operator is map-only and order-preserving at any scale; only the
    final short window is emitted (standard tail handling: every token
    appears in >= 1 chunk, the last window may be shorter than
    ``size``). Empty/NULL token arrays produce no rows.
    """
    if size < 1:
        raise ValueError(f"chunk_tokens: size must be >= 1, got {size}")
    stride = size if stride is None else stride
    if stride < 1 or stride > size:
        raise ValueError(
            f"chunk_tokens: stride must be in [1, size], got {stride}"
        )
    n = F.size("tokens")
    # number of windows so that every token is covered and no window
    # starts at/after the end: 1 + ceil(max(n - size, 0) / stride)
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(n - size, F.lit(0)) / F.lit(stride)
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda k: F.slice(F.col("tokens"), k * stride + 1, size),
    )
    out = tok_df.where(
        F.col("tokens").isNotNull() & (F.size("tokens") > 0)
    ).select("id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
    return out.select(
        "id", "chunk_idx", "chunk", F.size("chunk").alias("n_chunk_tokens")
    )


def sample_to_token_budget(
    doc_tokens: DataFrame,
    budget: int,
    n_shards: int = 32,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Downsample a corpus to ~``budget`` total tokens: keep a
    deterministic hash-random subset of documents whose token counts sum
    to the budget -- the "train on 50B of these 2T tokens" step of corpus
    construction.

    Documents are ordered by an md5-derived hash (salted 'budget:' so
    the order is decorrelated from the split/sampling hashes), sharded
    for parallelism like :func:`pack_sequences`, and kept while the
    shard's running token total is below its share of the budget. The
    greedy prefix admits the document straddling the boundary, so the
    overshoot is bounded by n_shards * max_doc_tokens -- negligible at
    real budgets; reproducible across engines, partitionings, and reruns
    (hash order, not rand()).

    Returns the kept (doc_id, n_tokens, shard, cum_before) rows. One
    shuffle (the per-shard hash-order sort); map-only otherwise.
    """
    if budget < 1:
        raise ValueError(f"sample_to_token_budget: budget must be >= 1, got {budget}")
    sharded = _sharded_cumsum(
        doc_tokens, id_col, tokens_col, n_shards, salt="budget:",
        order_by_hash=True,
    )
    shard_budget = budget / n_shards
    return sharded.where(F.col("cum_before") < shard_budget).select(
        "doc_id", "n_tokens", "shard", "cum_before"
    )


def mixture_sample(
    df: DataFrame,
    domain_col: str,
    weights: dict[str, float],
    scale: float = 1.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain-mixture construction: sample each domain at the rate that
    makes the OUTPUT composition match ``weights`` -- the
    "webtext 0.6 / code 0.2 / papers 0.2" recipe step of pretraining
    corpus assembly.

    The largest output honoring the recipe without upsampling is set by
    the scarcest domain: N_out = min_d(n_d / w_d); each domain then
    keeps rate r_d = w_d * N_out * scale / n_d (<= scale). Per-domain
    counts come from ONE partial-agg groupBy; the rates ride back on a
    broadcast join keyed null-safely on the domain; the keep decision is
    a deterministic md5-derived hash of the id (salted 'mix:', so it is
    independent of the split/budget hashes) -- reproducible across
    engines, partitionings and reruns, no rand(), map-only after the
    count. Composition is exact in expectation with binomial noise
    O(1/sqrt(n_kept_d)); domains absent from ``weights`` are dropped.

    Returns the kept rows plus (mix_rate DOUBLE). One count shuffle;
    the sample itself never shuffles.
    """
    if not weights:
        raise ValueError("mixture_sample: weights must be non-empty")
    if any(w <= 0 for w in weights.values()):
        raise ValueError("mixture_sample: weights must be positive")
    if not 0 < scale <= 1:
        raise ValueError(f"mixture_sample: scale must be in (0, 1], got {scale}")
    clash = sorted({"mix_rate", "_mix_domain"} & set(df.columns))
    if clash:
        raise ValueError(f"mixture_sample: input already has column(s) {clash}")
    total = float(sum(weights.values()))
    wanted = F.create_map(
        *[F.lit(x) for kv in weights.items() for x in (kv[0], kv[1] / total)]
    )
    counts = (
        df.where(F.col(domain_col).isin(list(weights)))
        .groupBy(F.col(domain_col).alias("_mix_domain"))
        .agg(F.count(F.lit(1)).alias("_mix_n"))
        .withColumn("_mix_w", wanted[F.col("_mix_domain")])
    )
    # N_out = min over PRESENT domains of n_d / w_d (a recipe domain
    # with zero rows simply cannot contribute -- the others still mix
    # correctly relative to each other)
    n_out = counts.agg(
        F.min(F.col("_mix_n") / F.col("_mix_w")).alias("_mix_nout")
    )
    rates = counts.join(F.broadcast(n_out)).select(
        "_mix_domain",
        F.least(
            F.lit(1.0),
            F.col("_mix_w") * F.col("_mix_nout") * scale / F.col("_mix_n"),
        ).alias("mix_rate"),
    )
    u = (
        string_hash31(F.concat(F.lit("mix:"), F.col(id_col).cast("string")))
        % 1_000_000
    ) / 1_000_000.0
    return (
        df.join(
            F.broadcast(rates),
            F.col(domain_col).eqNullSafe(F.col("_mix_domain")),
        )
        .where(u < F.col("mix_rate"))
        .drop("_mix_domain")
    )


def shuffle_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 32,
    salt: str = "shuffle:",
) -> DataFrame:
    """Deterministic global shuffle for training order: every row gets a
    pseudo-random 31-bit key from an md5-derived hash of its id, a shard
    from the key, and a dense position within the shard -- the
    "shuffle the corpus before sharding to trainers" step, reproducible
    across engines, partitionings and reruns (hash order, not rand()).

    Reading shards in index order and rows in position order yields one
    fixed permutation decorrelated from ingest order. One shuffle (the
    per-shard rank window); the shard is the parallelism unit exactly as
    in :func:`pack_sequences`, so ``n_shards`` is the scale knob (size
    it so one shard's rows fit an executor's sort spill comfortably --
    shards stream through sort, nothing is collected).
    """
    if n_shards < 1:
        raise ValueError(f"shuffle_shards: n_shards must be >= 1, got {n_shards}")
    for c in ("shuffle_key", "shard", "pos"):
        if c in df.columns:
            raise ValueError(f"shuffle_shards: input already has column {c!r}")
    key = string_hash31(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy("shard").orderBy("shuffle_key", id_col)
    return (
        df.withColumn("shuffle_key", key)
        .withColumn("shard", (F.col("shuffle_key") % n_shards).cast("int"))
        .withColumn("pos", F.row_number().over(w) - 1)
    )


def dedup_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_occurrences: int = 1,
    sep: str = "\n",
) -> DataFrame:
    """Sub-document (line-level) deduplication, the CCNet-family web
    curation step the document-level dedups (X1-X6) cannot express:
    boilerplate lines (nav bars, cookie banners, license headers) repeat
    across MILLIONS of documents that are themselves unique, and
    removing them is done per LINE, not per doc.

    Every non-blank line is counted corpus-wide (within-doc repeats
    count too); a line survives iff it is blank (structure is kept
    verbatim) or its total count is <= ``max_occurrences``. Documents
    are rebuilt in original line order. Returns
    (id, text_dedup, n_lines BIGINT, n_removed BIGINT).

    ``sep`` is a LITERAL separator (regex-escaped for the split,
    reused verbatim for the rejoin): the default gives line-level
    dedup, ``sep="\\n\\n"`` paragraph-level. NULL text is treated as
    empty -- the document survives with an empty ``text_dedup`` instead
    of silently vanishing from the corpus (posexplode drops NULL
    arrays; zero-vector docs get the same treatment elsewhere).

    Scale shape: posexplode (map-only) -> ONE partial-agg count on the
    line key -> the count table is FILTERED to the offending lines
    before joining back, so the join's build side is the duplicate set
    (boilerplate vocabulary), not the corpus -- typically orders of
    magnitude smaller, and AQE can still broadcast it when it fits.
    Reassembly is one groupBy(id) with an in-row
    array_sort/transform/array_join -- no window, no second pass over
    the text. Joining on the raw line keeps the operator exact (a
    64-bit line-hash join would start colliding around 2^32 distinct
    lines and silently delete unique text).
    """
    if max_occurrences < 1:
        raise ValueError(
            f"dedup_lines: max_occurrences must be >= 1, got {max_occurrences}"
        )
    if not sep:
        raise ValueError("dedup_lines: sep must be non-empty")
    lines = _exploded_lines(docs, id_col, text_col, sep)
    dup = (
        line_counts(docs, id_col, text_col, sep)
        .where(F.col("cnt") > max_occurrences)
        .select(F.col("line").alias("_line"), F.lit(True).alias("_dup"))
    )
    return _reassemble_kept_lines(lines, dup, id_col, sep)


def _exploded_lines(
    docs: DataFrame, id_col: str, text_col: str, sep: str
) -> DataFrame:
    """(_id, _i, _line): one row per line, original index kept. Shared
    by the full-corpus and incremental line dedups so the split
    semantics (literal separator, NULL text = empty doc) cannot
    drift."""
    return docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), re.escape(sep), -1)
        ).alias("_i", "_line"),
    )


def line_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """(line, cnt): corpus-wide counts of every NON-BLANK line -- the
    state table :func:`incremental_dedup_lines` probes and merges
    (sum ``cnt`` on ``line``). One map-only explode + ONE partial-agg
    count; blank lines are structure, never counted."""
    return (
        _exploded_lines(docs, id_col, text_col, sep)
        .where(F.trim("_line") != "")
        .groupBy(F.col("_line").alias("line"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _reassemble_kept_lines(
    lines: DataFrame, dup: DataFrame, id_col: str, sep: str
) -> DataFrame:
    """Join the duplicate-line set back and rebuild each doc in original
    line order -- the shared back half of both line dedups. ``dup`` is
    (_line, _dup=true)."""
    keep = (F.trim("_line") == "") | F.col("_dup").isNull()
    marked = lines.join(dup, "_line", "left")
    return (
        marked.groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum((~keep).cast("long")).alias("n_removed"),
            # collect_list drops the NULLs the when() leaves for removed
            # lines; array_sort on (idx, line) structs restores order
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(keep, F.struct("_i", "_line")))
                    ),
                    lambda s: s["_line"],
                ),
                sep,
            ).alias("text_dedup"),
        )
        .select(
            F.col("_id").alias(id_col), "text_dedup", "n_lines", "n_removed"
        )
    )


class IncrementalLinesResult(NamedTuple):
    result: DataFrame       # the batch docs' (id, text_dedup, n_lines, n_removed)
    delta_counts: DataFrame  # (line, cnt) of the batch -- merge into history
    # by summing cnt on line. Nothing is persisted here (unlike the
    # spans/bands results): the line explode is one cheap map-only
    # split, so re-evaluation costs less than the cache residue.


def incremental_dedup_lines(
    batch_docs: DataFrame,
    history_counts: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_occurrences: int = 1,
    sep: str = "\n",
) -> IncrementalLinesResult:
    """Daily-batch form of :func:`dedup_lines` against an accumulated
    corpus -- the line-granularity completion of the incremental
    contracts (hashes/bands, winnowing fingerprint counts, semantic
    reps): a batch line is removed when its corpus-wide count --
    history count PLUS batch count -- exceeds ``max_occurrences``,
    exactly as if :func:`dedup_lines` had run over history-union-batch
    and kept only the batch docs (the equivalence a test pins).
    ``history_counts`` is a (line, cnt) table as produced by
    :func:`line_counts` (None = empty history = plain batch run);
    ``delta_counts`` is the batch's own table for the caller to merge
    (sum cnt on line).

    Like :func:`incremental_duplicate_spans` -- and UNLIKE the
    hash-set contract -- the merge is NOT rerun-idempotent: history is
    a COUNT, so re-merging a replayed delta double-counts and a rerun
    then strips every repeated batch line. Merge only after the
    batch's outputs commit, or key the merge by batch id.

    Scale shape: the 100 TB side is HISTORY, probed by ONE equi-join
    on the raw line (store it bucketed on line and the daily run
    shuffles only the batch's distinct lines); joining on the raw
    line, not a hash, keeps the operator exact (the dedup_lines
    collision rationale). History lines never retro-update -- an old
    doc's line first duplicated by today's batch is cleaned when that
    doc is next reprocessed, the standard incremental contract.
    """
    if max_occurrences < 1:
        raise ValueError(
            f"incremental_dedup_lines: max_occurrences must be >= 1, "
            f"got {max_occurrences}"
        )
    if not sep:
        raise ValueError("incremental_dedup_lines: sep must be non-empty")
    lines = _exploded_lines(batch_docs, id_col, text_col, sep)
    bc = line_counts(batch_docs, id_col, text_col, sep)
    if history_counts is not None:
        hist = history_counts.select(
            F.col("line").alias("_hl"), F.col("cnt").alias("_hcnt")
        )
        totals = bc.join(hist, bc.line == F.col("_hl"), "left").select(
            "line",
            (F.col("cnt") + F.coalesce(F.col("_hcnt"), F.lit(0))).alias("_n"),
        )
    else:
        totals = bc.select("line", F.col("cnt").alias("_n"))
    dup = (
        totals.where(F.col("_n") > max_occurrences)
        .select(F.col("line").alias("_line"), F.lit(True).alias("_dup"))
    )
    return IncrementalLinesResult(
        _reassemble_kept_lines(lines, dup, id_col, sep), bc
    )


class IncrementalIngestResult(NamedTuple):
    result: DataFrame  # per-batch-doc verdict + per-family audit columns
    # Persisted handles (when persist_intermediates=True) -- release()
    # each after materializing, exactly like the individual contracts:
    bands: DataFrame          # IncrementalDedupResult.bands
    fingerprints: DataFrame   # IncrementalSpansResult.fingerprints
    assignments: DataFrame | None  # IncrementalSemanticResult.assignments
    # Per-family state deltas, exactly the individual contracts' own
    # (each family keeps its OWN notion of "kept": the hash/band delta
    # excludes hash-family dups, not semantic ones). The streaming loop
    # (streaming/ingest.py::verdict_batch_processor) appends the set
    # families directly and routes the COUNT families through
    # merge_counts_keyed -- replayed merges must no-op:
    delta_hashes: DataFrame | None = None       # kept docs' content hashes
    delta_bands: DataFrame | None = None        # kept docs' (band, key)
    delta_span_counts: DataFrame | None = None  # batch (h, cnt) -- COUNT family
    delta_line_counts: DataFrame | None = None  # batch (line, cnt) -- COUNT family
    delta_reps: DataFrame | None = None         # kept batch reps (semantic)


def incremental_ingest_verdict(
    batch_docs: DataFrame,
    hist_hashes: DataFrame | None,
    hist_bands: DataFrame | None,
    hist_span_counts: DataFrame | None,
    hist_line_counts: DataFrame | None,
    batch_emb: DataFrame | None = None,
    hist_reps: DataFrame | None = None,
    cents: DataFrame | None = None,
    sem_threshold: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    persist_intermediates: bool = True,
) -> IncrementalIngestResult:
    """The nightly-ingest composition: ONE keep/drop verdict per batch
    document with per-family audit columns, chaining all four
    incremental dedup contracts over the same batch-vs-history split --
    document hashes + MinHash bands (:func:`..operators.dedup.
    incremental_dedup`), winnowing fingerprint spans
    (:func:`..operators.dedup.incremental_duplicate_spans`), raw lines
    (:func:`incremental_dedup_lines`), and semantic representatives
    (:func:`..operators.dedup.incremental_semantic_dedup`, optional:
    pass the batch's (vec_id=doc id, embedding) table, the accumulated
    rep state, and the PINNED centroids). This is the query a real
    ingest runs nightly; the individual contracts stay the API for
    state maintenance (their deltas are what gets merged back).

    Output per batch doc: ``content_hash``, the four X111 flags, span
    audit (``n_dup_spans``, ``dup_span_chars`` -- 0 when clean), line
    audit (``n_lines``, ``n_lines_removed``), semantic flags
    (``sem_dup_history``/``sem_dup_batch`` -- NULL when the doc has no
    embedding), and ``keep`` = no exact/near/semantic dup (NULL
    semantic flags count as clean; span/line findings CLEAN a doc
    rather than drop it, so they audit, not veto).

    Scale shape: each family touches the 100 TB history exactly once
    through its one bucketable equi-join (content hash / (band, key) /
    fingerprint hash / raw line / cluster id); the four arms then join
    batch-sized frames on the doc id. Rerun safety is each family's
    own: hash/band and semantic probes are idempotent, span and line
    COUNT merges are not (see the respective docstrings) -- commit
    outputs before merging deltas.
    """
    from .dedup import (
        incremental_dedup,
        incremental_duplicate_spans,
        incremental_semantic_dedup,
    )

    base = incremental_dedup(
        batch_docs,
        hist_hashes,
        hist_bands,
        id_col,
        text_col,
        persist_bands=persist_intermediates,
    )
    sp = incremental_duplicate_spans(
        batch_docs,
        hist_span_counts,
        id_col=id_col,
        text_col=text_col,
        persist_fingerprints=persist_intermediates,
    )
    sp_agg = sp.spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias(
            "dup_span_chars"
        ),
    )
    ln_res = incremental_dedup_lines(
        batch_docs, hist_line_counts, id_col, text_col
    )
    ln_delta = ln_res.delta_counts
    ln = ln_res.result.select(
        id_col, "n_lines", F.col("n_removed").alias("n_lines_removed")
    )
    if batch_emb is not None:
        if cents is None:
            raise ValueError(
                "incremental_ingest_verdict: batch_emb requires cents "
                "(the pinned centroid model state)"
            )
        sem_res = incremental_semantic_dedup(
            batch_emb,
            hist_reps,
            sem_threshold,
            cents,
            persist_assignments=persist_intermediates,
        )
        sem = sem_res.result.select(
            F.col("vec_id").alias("_sem_id"),
            F.col("near_dup_history").alias("sem_dup_history"),
            F.col("near_dup_batch").alias("sem_dup_batch"),
        )
        assignments = sem_res.assignments
        sem_delta_reps = sem_res.delta_reps
    else:
        sem = None
        assignments = None
        sem_delta_reps = None
    out = (
        base.result.drop("keep")
        .join(sp_agg, id_col, "left")
        .join(ln, id_col)
    )
    if sem is not None:
        out = out.join(sem, out[id_col] == F.col("_sem_id"), "left").drop(
            "_sem_id"
        )
    else:
        out = out.withColumn(
            "sem_dup_history", F.lit(None).cast("boolean")
        ).withColumn("sem_dup_batch", F.lit(None).cast("boolean"))
    out = out.select(
        id_col,
        "content_hash",
        "exact_dup_history",
        "exact_dup_batch",
        "near_dup_history",
        "near_dup_batch",
        F.coalesce("n_dup_spans", F.lit(0).cast("long")).alias("n_dup_spans"),
        F.coalesce("dup_span_chars", F.lit(0).cast("long")).alias(
            "dup_span_chars"
        ),
        "n_lines",
        "n_lines_removed",
        "sem_dup_history",
        "sem_dup_batch",
        (
            ~(
                F.col("exact_dup_history")
                | F.col("exact_dup_batch")
                | F.col("near_dup_history")
                | F.col("near_dup_batch")
                | F.coalesce("sem_dup_history", F.lit(False))
                | F.coalesce("sem_dup_batch", F.lit(False))
            )
        ).alias("keep"),
    )
    return IncrementalIngestResult(
        out,
        base.bands,
        sp.fingerprints,
        assignments,
        delta_hashes=base.delta_hashes,
        delta_bands=base.delta_bands,
        delta_span_counts=sp.delta_counts,
        delta_line_counts=ln_delta,
        delta_reps=sem_delta_reps,
    )


class KeyedMergeResult(NamedTuple):
    history: DataFrame   # (batch_id, *key, cnt) -- the updated state
    manifest: DataFrame  # one row per merged batch id -- advisory
    # listing for callers that track merged batches (NOT the replay
    # guard; the guard is the per-(batch_id, key) anti-join)
    appended: DataFrame  # the anti-joined tagged delta actually added --
    # EMPTY on a replayed merge; append-only state stores (the
    # streaming loop's parquet tables) write exactly this instead of
    # rewriting the unioned history


def merge_counts_keyed(
    history: DataFrame,
    delta: DataFrame,
    batch_id: int,
    manifest: DataFrame | None = None,
    batch_col: str = "batch_id",
    cnt_col: str = "cnt",
) -> KeyedMergeResult:
    """Rerun-IDEMPOTENT merge of a count delta into history state -- the
    missing half of the span (X112) and line (X118) incremental
    contracts, whose plain sum-on-merge double-counts a replayed delta
    (their documented caveat defers to exactly this: "key the history
    merge by a batch id so replayed merges deduplicate").

    ``history`` is the keyed state table (``batch_col``, *key columns*,
    ``cnt_col``) -- each row remembers WHICH batch contributed it;
    ``delta`` is one batch's un-keyed count table (e.g.
    :func:`line_counts` output or ``IncrementalSpansResult.
    delta_counts``). The merge appends each tagged delta row ONLY if
    that exact ``(batch_id, key)`` is not already in history -- ONE
    anti-join against history filtered to this batch id (normally
    empty; broadcast), fully declarative. Reconciling per
    ``(batch_id, key)`` rather than per batch id is load-bearing for
    crash recovery (r9 advice): a multi-file parquet commit that dies
    mid-append leaves PARTIAL rows for the batch, and a whole-batch
    guard would then treat the batch as merged and drop the missing
    rows forever. Per-key reconcile heals it -- the replay appends
    exactly the rows the crash lost (delta values per (batch, key) are
    deterministic under at-least-once replay, the contract's standing
    assumption), and a full replay of a fully-committed batch still
    appends nothing. Probes group-sum away the batch column, so probe
    cost is one extra partial agg over state that now grows per
    (batch, key) instead of per key -- compact batches periodically if
    key overlap across days is high.

    ``manifest`` is the one-row-per-merged-batch listing, returned
    updated for callers that track which batches have merged; it is
    ADVISORY metadata, not the replay guard (the guard is always the
    per-key anti-join, so it cannot be fooled by a partial commit).
    The guard's history probe pushes ``batch_col = batch_id`` into the
    scan -- store history partitioned by ``batch_col`` at 100 TB and
    the probe reads one (normally absent) partition, not the table.
    """
    if batch_col in delta.columns:
        raise ValueError(
            f"merge_counts_keyed: delta already has column {batch_col!r}"
        )
    key_cols = [c for c in delta.columns if c != cnt_col]
    tagged = delta.withColumn(batch_col, F.lit(batch_id).cast("long"))
    seen = history.where(F.col(batch_col) == batch_id).select(
        batch_col, *key_cols
    )
    fresh = tagged.join(F.broadcast(seen), [batch_col, *key_cols], "left_anti")
    fresh = fresh.select(*history.columns)
    new_hist = history.unionByName(fresh)
    m = (
        manifest
        if manifest is not None
        else history.select(batch_col).distinct()
    )
    new_manifest = (
        m.unionByName(
            m.sparkSession.range(1).select(
                F.lit(batch_id).cast("long").alias(batch_col)
            )
        ).distinct()
    )
    return KeyedMergeResult(new_hist, new_manifest, fresh)


def cap_per_domain(
    df: DataFrame,
    cap: int,
    domain_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "domcap:",
) -> DataFrame:
    """Keep at most ``cap`` documents per domain (id, domain,
    domain_rank): the RefinedWeb/Gopher-style per-domain cap that stops
    boilerplate-heavy domains from dominating a corpus mixture.

    Survivors are chosen by the salted md5-hash order of the id (the
    split/budget-sampling discipline: deterministic across engines,
    partitionings and reruns, decorrelated from ingest order and from
    the other sampling hashes by the salt) with the id as tie-break, so
    re-running on a grown corpus keeps a stable prefix per domain
    rather than reshuffling survivors.

    Scale shape: domains are LOW-cardinality by nature (the skew case),
    so the cut is :func:`relational.grouped_topk`'s two-phase
    TakeOrdered -- a bare ``row_number() OVER (PARTITION BY domain)``
    would funnel the biggest domain's entire row set through one task.
    NULL domains form their own capped group (window partitioning
    groups NULLs together on both engines).
    """
    if cap < 1:
        raise ValueError(f"cap_per_domain: cap must be >= 1, got {cap}")
    if "_dch" in df.columns:
        raise ValueError("cap_per_domain: input already has column '_dch'")
    from .relational import grouped_topk

    h = string_hash31(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    # keep EVERY input column (the sibling sampling ops' contract --
    # the caller caps a corpus, not an id list); the two bounded rank
    # exchanges then carry the full row width, so pre-project before
    # calling if only ids are needed downstream
    out = grouped_topk(
        df.withColumn("_dch", h),
        [domain_col],
        [F.col("_dch").asc(), F.col(id_col).asc()],
        cap,
        rank_col="domain_rank",
    )
    return out.drop("_dch")
