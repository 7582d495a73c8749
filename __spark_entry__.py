"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator from SURVEY.md §2 to a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` gives the DuckDB
equivalent over the same parquet tables. Column names and value rounding
are aligned on both sides so the driver's order-insensitive value hash
matches: exact integer/string columns stay exact, and any float produced
by a SUM (summation order differs between engines) is rounded to 6-9
decimals on both sides. Floats produced by pure scalar arithmetic on
identical inputs (tf = cnt/n, idf = N/df, weight = tf*idf) are
bit-identical across engines and stay unrounded.

Document "catalogs" for the entity-resolution operators: catalog A =
documents with even doc_id, catalog B = odd doc_id; the gold-standard
analog pairs each even doc with its successor (a_id, a_id+1).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkbigdatatextanalysis_spark.functions.hashing import (
    HASH_BASE,
    MERSENNE31,
    char_fold_hash_sql,
    string_hash31_sql,
    string_hash32_sql,
    word_shingles_sql,
)
from sparkbigdatatextanalysis_spark.functions import text as text_fns
from sparkbigdatatextanalysis_spark.functions.text import ENGLISH_STOPWORDS
from sparkbigdatatextanalysis_spark.functions.sql import sql_double
from sparkbigdatatextanalysis_spark.functions.vector import vec_dot
from sparkbigdatatextanalysis_spark.operators import ann as ann_ops
from sparkbigdatatextanalysis_spark.operators import dedup as dd
from sparkbigdatatextanalysis_spark.operators import evaluation as ev
from sparkbigdatatextanalysis_spark.operators import multimodal as mm
from sparkbigdatatextanalysis_spark.operators import relational as rel
from sparkbigdatatextanalysis_spark.operators import similarity as sim
from sparkbigdatatextanalysis_spark.operators import textstats as ts
from sparkbigdatatextanalysis_spark.operators import tfidf as tfidf_ops
from sparkbigdatatextanalysis_spark.sources import parquet_io as pio
from sparkbigdatatextanalysis_spark.streaming import aggregations as sagg

SF0001 = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# Spark-side building blocks
# ---------------------------------------------------------------------------

# Pipeline-point persistence (the reference caches its scans, postings and
# similarity RDDs -- Utils.scala:21-24, ScalableEntityResolution.scala:82-83,
# 153,158). Catalyst does not common-subexpression-eliminate repeated
# subtrees across join branches, so without this the TF-IDF lineage is
# recomputed up to 4x inside one similarity query and again by every query
# that builds on sims. Keyed per (session, sf_dir); the cached tables are
# the small derived ones (weights ~ |distinct doc-token|, sims ~ |candidate
# pairs|), which is what you'd persist on a real cluster too.
_DF_CACHE: dict[tuple, tuple[SparkSession, DataFrame]] = {}


def _cached(
    spark: SparkSession, sf_dir: str, name: str, build, persist: bool = True
) -> DataFrame:
    # Keyed by (sf_dir, name) with the owning session stored alongside:
    # id(spark) alone can collide when a stopped session's address is
    # reused, which would hand back DataFrames bound to a dead session.
    # persist=False is for builds that already hold their own storage
    # (eager localCheckpoint): persisting on top would keep the table
    # resident twice (RDD blocks + columnar SQL cache).
    key = (sf_dir, name)
    hit = _DF_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    df = build()
    if persist:
        df = df.persist()
    _DF_CACHE[key] = (spark, df)
    return df


# Parquet split counts per (sf_dir, table), so the fan-out decision costs
# one RDD conversion per table, not one per query build.
_SCAN_PARTS: dict[tuple, int] = {}


def _scan(
    spark: SparkSession, sf_dir: str, table: str, wide: bool = False
) -> DataFrame:
    """Parquet scan. With ``wide=True`` the scan is fanned out to the
    session's parallelism when the file yields fewer splits than cores --
    used ONLY where heavy per-row compute follows (tokenize, LSH
    signatures, quality ratios): the round-robin exchange costs a fixed
    extra stage, which loses on cheap scans and wins 3-4x on compute-bound
    ones. Filters and column pruning push through the exchange (verified
    in tests/test_plans.py), so scan pushdown is unaffected. On a real
    cluster reading large tables the fan-out never fires (splits >>
    parallelism); locally the tiny single-row-group fixtures would
    otherwise pin scan-side maps to ONE core."""
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    if not wide:
        return df
    par = spark.sparkContext.defaultParallelism
    key = (sf_dir, table)
    nparts = _SCAN_PARTS.get(key)
    if nparts is None:
        nparts = df.rdd.getNumPartitions()
        _SCAN_PARTS[key] = nparts
    return df.repartition(par) if nparts < par else df


def _docs(spark: SparkSession, sf_dir: str, wide: bool = False) -> DataFrame:
    return _scan(spark, sf_dir, "documents", wide=wide)


def _tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All documents tokenized (stopwords removed): (id=doc_id, tokens)."""

    def build():
        d = _docs(spark, sf_dir, wide=True).select(F.col("doc_id").alias("id"), "text")
        return tfidf_ops.tokenized(d)

    return _cached(spark, sf_dir, "tok", build)


def _tok_ab(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    tok = _tok(spark, sf_dir)
    return tok.where(F.col("id") % 2 == 0), tok.where(F.col("id") % 2 == 1)


def _idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_ops.idf_table(_tok(spark, sf_dir))


def _weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT cached: persisting the weights table collapses its partitioning
    # to the (tiny) cached size, which serializes the downstream explosive
    # token join; recomputing from the cached tok table is one cheap
    # partial-agg + broadcast join. (Measured: caching here was 4-8x
    # slower end-to-end at sf0.1.)
    return tfidf_ops.tfidf_weights(_tok(spark, sf_dir), _idf(spark, sf_dir))


def _weights_ab(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    w = _weights(spark, sf_dir)
    return w.where(F.col("id") % 2 == 0), w.where(F.col("id") % 2 == 1)


# bounded (token, idf) collections per (session id, sf_dir) -- one job each.
# Every form decision reads the vocab size only up to DENSE_UNROLL_MAX
# (the dense flat table; the bitmask's 63 is below it), and the flat
# builder needs actual idf values only up to there, so the collect is
# LIMITed: at most DENSE_UNROLL_MAX+1 rows come back regardless of true
# vocabulary size (the driver-side analog of the reference's broadcast
# idfDict, EntityResolution.scala:19, but bounded).
_VOCAB_IDF: dict[tuple, tuple[SparkSession, tuple[int, list | None]]] = {}


def _vocab_meta(spark: SparkSession, sf_dir: str) -> tuple[int, list | None]:
    """Returns (vocab_n_capped, vocab_idf_or_None): ``vocab_n_capped`` is
    the exact vocabulary size when <= DENSE_UNROLL_MAX, else
    DENSE_UNROLL_MAX + 1 (enough for the dense-flat and bitmask
    decisions); the (token, idf) list (token-sorted) is present only when
    the dense flat table applies.

    Cache is keyed by sf_dir with the owning session stored alongside
    and identity-checked, mirroring _DF_CACHE: id(spark) alone collides
    when a stopped session's address is reused."""
    key = (sf_dir,)
    slot = _VOCAB_IDF.get(key)
    hit = slot[1] if slot is not None and slot[0] is spark else None
    if hit is None:
        cap = sim.DENSE_UNROLL_MAX + 1
        rows = _idf(spark, sf_dir).orderBy("token").limit(cap).collect()
        n = len(rows)
        pairs = (
            [(r["token"], float(r["idf"])) for r in rows]
            if 0 < n <= sim.DENSE_UNROLL_MAX
            else None
        )
        hit = (n, pairs)
        _VOCAB_IDF[key] = (spark, hit)
    return hit


def _vocab_n(spark: SparkSession, sf_dir: str) -> int:
    return _vocab_meta(spark, sf_dir)[0]


def _flats(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """Cached dense flat-vector table (side, id, w0.., norm) shared by the
    candidate similarity join, the dot products AND the all-pairs query.
    The two catalogs are row-disjoint slices of ONE tokenized table, so
    the whole thing is a single conditional-sum aggregation pass with
    side = id % 2 -- one explode, ONE shuffle, no idf join
    (sim.dense_flat_table_from_tokens). The persist through _cached is
    the plan barrier the dense operators require. None when the
    vocabulary is empty or wider than DENSE_UNROLL_MAX."""
    _, pairs = _vocab_meta(spark, sf_dir)
    if pairs is None:
        return None

    def build():
        return sim.dense_flat_table_from_tokens(
            _tok(spark, sf_dir), pairs, side=F.col("id") % 2
        )

    return _cached(spark, sf_dir, "flats", build)


def _sims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached candidate similarity table (a_id, b_id, sim). The form is
    picked by the function called: the dense broadcast cross join over
    the cached flat table when the vocabulary fits it (_flats), the
    sparse token join otherwise. Both return the same pairs."""

    def build():
        flats = _flats(spark, sf_dir)
        if flats is not None:
            return sim.dense_cosine_similarity(flats)
        wa, wb = _weights_ab(spark, sf_dir)
        return sim.cosine_similarity_join(wa, wb)

    return _cached(spark, sf_dir, "sims", build)


def _gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.where(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("a_id"), (F.col("doc_id") + 1).alias("b_id")
    )


def _round6(df: DataFrame, *cols: str) -> DataFrame:
    out = df
    for c in cols:
        out = out.withColumn(c, F.round(F.col(c), 6))
    return out


# ---------------------------------------------------------------------------
# queries()
# ---------------------------------------------------------------------------


def q_scan_concat(spark, sf_dir):
    p = _scan(spark, sf_dir, "part")
    return p.select(
        "p_partkey", F.concat_ws(" ", "p_name", "p_brand", "p_type").alias("text")
    )


def q_scan_gold_pairs(spark, sf_dir):
    """Gold-standard pair scan (reference Utils.getGoldStandard,
    Utils.scala:37-49) -- two typed id columns, not the reference's
    space-joined string key."""
    return _gold(spark, sf_dir)


def q_str_strip_quotes(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", F.regexp_replace(F.col("text"), '"', "").alias("clean_text")
    )


def q_tokenize(spark, sf_dir):
    d = _docs(spark, sf_dir).select(F.col("doc_id").alias("id"), "text")
    t = tfidf_ops.tokenized(d, keep_stopwords=True)
    return t.select(F.col("id").alias("doc_id"), F.explode("tokens").alias("token"))


def q_tokenize_stopwords(spark, sf_dir):
    return _tok(spark, sf_dir).select(
        F.col("id").alias("doc_id"), F.explode("tokens").alias("token")
    )


def q_term_frequencies(spark, sf_dir):
    tf = tfidf_ops.term_frequencies(_tok(spark, sf_dir))
    return tf.select(F.col("id").alias("doc_id"), "token", "tf")


def q_idf_dict(spark, sf_dir):
    return _idf(spark, sf_dir).select("token", "df", "idf")


def q_tfidf_vectors(spark, sf_dir):
    w = _weights(spark, sf_dir)
    return w.select(F.col("id").alias("doc_id"), "token", "weight")


def q_l2_norm(spark, sf_dir):
    n = tfidf_ops.norms(_weights(spark, sf_dir))
    return _round6(n.select(F.col("id").alias("doc_id"), "norm"), "norm")


def q_inverted_index(spark, sf_dir):
    idx = sim.inverted_index(_tok(spark, sf_dir))
    return idx.select("token", F.col("id").alias("doc_id"))


def q_common_token_pairs(spark, sf_dir):
    ta, tb = _tok_ab(spark, sf_dir)
    return sim.common_token_pairs(
        sim.inverted_index(ta),
        sim.inverted_index(tb),
        vocab_n=_vocab_n(spark, sf_dir),
    )


def q_fast_cosine_join(spark, sf_dir):
    return _round6(_sims(spark, sf_dir), "sim")


def q_cross_similarity(spark, sf_dir):
    wa, wb = _weights_ab(spark, sf_dir)
    ta, tb = _tok_ab(spark, sf_dir)
    # vocabulary fits the flat table -> map-only direct form over the
    # shared cached flats (no pair-level shuffle); wider -> left join
    # against the cached token-blocked sims.
    out = sim.cross_cosine_similarity(
        wa, wb, ids_a=ta.select("id"), ids_b=tb.select("id"),
        sims=_sims(spark, sf_dir),
        flats=_flats(spark, sf_dir),
    )
    return _round6(out, "sim")


def q_filter_pair_lookup(spark, sf_dir):
    return _round6(sim.pair_similarity_lookup(_sims(spark, sf_dir), "2", "3"), "sim")


def q_doc_similarity(spark, sf_dir):
    d = _docs(spark, sf_dir)
    texts = d.where(F.col("doc_id").isin(0, 1)).groupBy().agg(
        F.max(F.when(F.col("doc_id") == 0, F.col("text"))).alias("text_a"),
        F.max(F.when(F.col("doc_id") == 1, F.col("text"))).alias("text_b"),
    )
    idf_map = _idf(spark, sf_dir).agg(
        F.map_from_entries(F.collect_list(F.struct("token", "idf"))).alias("idf_map")
    )
    out = texts.crossJoin(idf_map).select(
        sim.document_similarity("text_a", "text_b", F.col("idf_map")).alias("sim")
    )
    return _round6(out, "sim")


def q_dot_product(spark, sf_dir):
    """Sparse TF-IDF dot products per candidate pair (reference
    calculateDotProduct, EntityResolution.scala:368-384). Same two forms
    as the flagship cosine join (_sims): when the vocabulary fits the
    cached flat table the token equi-join would explode toward
    |pairs| * |vocab| rows through an exchange, so the dot rides the
    flats map-only (sim.dense_dot_products; dot > 0 <=> shares a token,
    weights strictly positive); otherwise the sparse join."""
    flats = _flats(spark, sf_dir)
    if flats is not None:
        return _round6(sim.dense_dot_products(flats), "dot")
    wa, wb = _weights_ab(spark, sf_dir)
    return _round6(sim.dot_products(wa, wb), "dot")


def q_cosine_similarity(spark, sf_dir):
    """Cosine of two specific docs' weight vectors via the dot/norm
    composition (reference calculateCosinusSimilarity,
    EntityResolution.scala:395-404) -- exercises T6/T7/T8 as standalone
    expressions rather than the fused similarity join."""
    w = _weights(spark, sf_dir)
    wa = w.where(F.col("id") == 4)
    wb = w.where(F.col("id") == 5)
    dots = sim.dot_products(wa, wb)
    na = tfidf_ops.norms(wa).select(F.col("id").alias("a_id"), F.col("norm").alias("norm_a"))
    nb = tfidf_ops.norms(wb).select(F.col("id").alias("b_id"), F.col("norm").alias("norm_b"))
    out = dots.join(na, "a_id").join(nb, "b_id").select(
        "a_id", "b_id",
        (F.col("dot") / (F.col("norm_a") * F.col("norm_b"))).alias("sim"),
    )
    return _round6(out, "sim")


def q_count_tokens(spark, sf_dir):
    return _tok(spark, sf_dir).agg(F.sum(F.size("tokens")).alias("total_tokens"))


def q_top1_by_token_count(spark, sf_dir):
    t = _tok(spark, sf_dir)
    return (
        t.select(F.col("id").alias("doc_id"), F.size("tokens").alias("n_tokens"))
        .orderBy(F.col("n_tokens").desc(), "doc_id")
        .limit(1)
    )


def q_union_corpus(spark, sf_dir):
    ta, tb = _tok_ab(spark, sf_dir)
    corpus = tfidf_ops.corpus_union(ta, tb)
    return corpus.select(F.col("id").alias("doc_id"), F.size("tokens").alias("n_tokens"))


def q_gold_join_eval(spark, sf_dir):
    out = ev.evaluate_gold(_sims(spark, sf_dir), _gold(spark, sf_dir))
    return _round6(out, "avg_sim")


def q_threshold_sweep(spark, sf_dir):
    return ev.threshold_sweep(_sims(spark, sf_dir), _gold(spark, sf_dir))


def q_idf_histogram(spark, sf_dir):
    return ev.idf_histogram(_idf(spark, sf_dir))


# ---------------------------------------------------------------------------
# Training-data-pipeline extension queries (dedup / ANN / text analysis)
# ---------------------------------------------------------------------------


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # wide: the LSH signature arithmetic (64 flat quantized columns x 16
    # plane dots) is compute-bound per row -- measured ~2x on ann_topk_lsh.
    return _scan(spark, sf_dir, "embeddings", wide=True)


EMBED_NEAR_DUP_THRESHOLD = 0.35  # 99.9th pct of the synthetic cosine dist
ANN_N_QUERIES = 5
ANN_K = 5


def _bf_topk_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact brute-force top-ANN_K table with EVERY vector as query
    (q_id, n_id, rank, cos) -- the shared audit baseline (r12): the
    hubness, IVF-recall and quantization audits each re-enumerated the
    same |corpus|^2 float pair scores per run; pipeline-persisting the
    one bounded (|corpus| x k rows) truth table is the same D23 cache
    point the tokenized/flat tables use. A query-subset audit filters
    on q_id (each query's top-k is independent of the query set, so
    the filtered rows are exactly the subset's brute-force output)."""
    return _cached(
        spark,
        sf_dir,
        "bf_topk_all",
        lambda: ann_ops.cosine_topk_bruteforce(
            _emb(spark, sf_dir), _emb(spark, sf_dir).select("vec_id"), k=ANN_K
        ),
    )


def q_dedup_exact(spark, sf_dir):
    return dd.exact_dedup(_docs(spark, sf_dir)).select("doc_id", "content_hash", "keep")


def q_minhash_signatures(spark, sf_dir):
    sh = dd.shingle_hashes(_docs(spark, sf_dir, wide=True))
    return dd.minhash_signatures(sh).select(F.col("id").alias("doc_id"), "i", "sig")


def _mh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs, cached: shared hot table of the pair
    query AND the clustering query (a real pipeline materializes the
    candidate set once and fans out keep/drop + reporting from it)."""
    return _cached(
        spark, sf_dir, "mh_pairs", lambda: dd.minhash_lsh_pairs(_docs(spark, sf_dir, wide=True))
    )


def q_dedup_minhash_lsh(spark, sf_dir):
    return _mh_pairs(spark, sf_dir)


def q_dedup_simhash(spark, sf_dir):
    return dd.simhash_signatures(_docs(spark, sf_dir, wide=True)).select(
        F.col("id").alias("doc_id"), "sim_hi", "sim_lo"
    )


def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup candidates: pairs sharing >=1 of 4 16-bit
    signature chunks (pigeonhole covers Hamming <= 3), with the exact
    Hamming distance attached. See operators/dedup.py::simhash_near_pairs
    for the bucket-size scale analysis."""
    sigs = dd.simhash_signatures(_docs(spark, sf_dir, wide=True))
    out = dd.simhash_near_pairs(sigs)
    return out.select(
        "a_id", "b_id", F.col("hamming").cast("long").alias("hamming")
    )


def q_dedup_ngram_jaccard(spark, sf_dir):
    out = dd.ngram_jaccard_pairs(_docs(spark, sf_dir, wide=True))
    return out.select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_embedding(spark, sf_dir):
    """Exact near-dup pairs via the blocked-GEMM path (one BLAS matmul
    per block pair, linear shuffle) -- same semantics as the crossJoin
    spec baseline, scale-correct execution. See
    operators/dedup.py::embedding_near_dup_pairs_blocked for why the
    exact form cannot be LSH-pruned at this threshold."""
    out = dd.embedding_near_dup_pairs_blocked(
        _emb(spark, sf_dir), EMBED_NEAR_DUP_THRESHOLD
    )
    return out.select("a_id", "b_id", F.round("cos", 6).alias("cos"))


def q_dedup_embedding_lsh(spark, sf_dir):
    """Sub-quadratic near-dup pairs: sign-LSH band buckets (adaptive
    width) + exact rerank + threshold. Recall < 1 by design; the oracle
    mirrors the bucketing, so the driver check is exact."""
    out = dd.embedding_near_dup_pairs_lsh(
        _emb(spark, sf_dir), EMBED_NEAR_DUP_THRESHOLD
    )
    return out.select("a_id", "b_id", F.round("cos", 6).alias("cos"))


def _ann_queries(emb: DataFrame) -> DataFrame:
    return emb.select("vec_id").where(F.col("vec_id") < ANN_N_QUERIES)


def q_ann_topk_bruteforce(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    out = ann_ops.cosine_topk_bruteforce(emb, _ann_queries(emb), k=ANN_K)
    return out.select(
        "q_id", "n_id", F.col("rank").cast("long").alias("rank"),
        F.round("cos", 6).alias("cos"),
    )


def q_ann_topk_lsh(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    out = ann_ops.cosine_topk_lsh(emb, _ann_queries(emb), k=ANN_K)
    return out.select(
        "q_id", "n_id", F.col("rank").cast("long").alias("rank"),
        F.round("cos", 6).alias("cos"),
    )


def q_ann_topk_ivf(spark, sf_dir):
    # Pipeline-point cache for the centroid table (reference D23 shape):
    # Lloyd refinement is an eager index build -- kmeans_centroids
    # returns a k-row local relation -- so caching it makes repeat
    # queries pay only assignment + probe + rerank, which is how an IVF
    # index is actually operated (build once, query many).
    emb = _emb(spark, sf_dir)
    cents = _cached(
        spark, sf_dir, "ivf_cents", lambda: ann_ops.kmeans_centroids(emb)
    )
    out = ann_ops.cosine_topk_ivf(emb, _ann_queries(emb), k=ANN_K, cents=cents)
    return out.select(
        "q_id", "n_id", F.col("rank").cast("long").alias("rank"),
        F.round("cos", 6).alias("cos"),
    )


def q_text_lang_id(spark, sf_dir):
    out = ts.language_id(_docs(spark, sf_dir))
    return out.select(
        F.col("id").alias("doc_id"), "lang_pred", F.col("n_hits").cast("long").alias("n_hits")
    )


def q_text_quality(spark, sf_dir):
    # wide: per-row regexp ratio extraction is compute-bound.
    out = ts.text_quality(_docs(spark, sf_dir, wide=True))
    return out.select(
        F.col("id").alias("doc_id"), "n_chars", "n_tokens", "mean_token_len",
        "stopword_ratio", "punct_ratio", "digit_ratio", "quality_score",
    )


def q_token_counts(spark, sf_dir):
    out = ts.token_counts(_docs(spark, sf_dir))
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("n_ws_tokens").cast("long").alias("n_ws_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
    )


def q_doc_fingerprint(spark, sf_dir):
    out = ts.doc_fingerprints(_docs(spark, sf_dir, wide=True))
    return out.select(
        F.col("id").alias("doc_id"), "fingerprint",
        F.col("n_shingles").cast("long").alias("n_shingles"),
    )


def q_media_decode(spark, sf_dir):
    """Arrow mapInPandas decode stage over text-as-binary payloads; the
    byte stats are oracle-checkable because the synthetic text is ASCII."""
    media = mm.docs_as_media(_docs(spark, sf_dir, wide=True))
    out = mm.decode_features(media)
    return out.select(
        "media_id", "n_bytes", F.round("mean_byte", 6).alias("mean_byte"), "byte_hash"
    )


def q_media_frame_sample(spark, sf_dir):
    media = mm.docs_as_media(_docs(spark, sf_dir, wide=True))
    out = mm.sample_frames(media, frame_bytes=16, every_n=4)
    return out.select("media_id", F.col("frame_idx").cast("long").alias("frame_idx"), "frame_hash")


def q_media_resize_stats(spark, sf_dir):
    """The resize stage (operators/multimodal.py::resize_images)
    driver-gated through its byte-stats composition: resize every
    text-as-binary payload to an 8x8 thumbnail (these payloads are not
    PNM, so they deterministically take the crop/zero-pad branch --
    the PNM real-codec branch is pinned by pytest goldens), then run
    the decode stage over the thumbnails. n_bytes pins the size
    contract (64 always); mean/hash pin the resized bytes exactly
    (pixel_i = codepoint of text[i], 0 past the end -- the same
    integer replay as media_ahash_pairs)."""
    media = mm.docs_as_media(_docs(spark, sf_dir, wide=True))
    resized = mm.resize_images(media, width=8, height=8)
    out = mm.decode_features(resized)
    return out.select(
        "media_id",
        "n_bytes",
        F.round("mean_byte", 6).alias("mean_byte"),
        "byte_hash",
    )


def q_media_ahash_pairs(spark, sf_dir):
    """Perceptual near-dup media pairs (operators/multimodal.py::
    media_near_dup_pairs): 64-bit average hash over the deterministic
    8x8 fake thumbnail (payload bytes cropped/zero-padded to 64 --
    the codec-less branch of resize_images), bucketed by the same
    4x16-bit chunk pigeonhole as text SimHash, exact Hamming <= 3
    filter. Every stage is integer/float64-exact arithmetic the oracle
    replays: pixel_i = codepoint of text[i] (ASCII payloads) or 0 past
    the end, mean = sum/64 (exact in float64), bit_i = pixel_i > mean
    packed row-major into (sim_hi, sim_lo) 32-bit halves."""
    media = mm.docs_as_media(_docs(spark, sf_dir, wide=True))
    out = mm.media_near_dup_pairs(media, max_hamming=3)
    return out.select(
        "a_id", "b_id", F.col("hamming").cast("long").alias("hamming")
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with ts normalized to plain TIMESTAMP (the parquet has
    shipped as both TIMESTAMP(NANOS)->int64 and timestamp[us]->NTZ;
    see sources.parquet_io.normalize_event_ts)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return pio.normalize_event_ts(_scan(spark, sf_dir, "events"))


def q_events_windowed(spark, sf_dir):
    out = sagg.windowed_event_stats(_events(spark, sf_dir))
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type", "n_events", "sum_value",
    )


def q_events_sliding_users(spark, sf_dir):
    out = sagg.sliding_user_activity(_events(spark, sf_dir))
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "user_id", "n_events",
    )


def q_pricing_rollup(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary with ROLLUP subtotals over the big
    fact table: filter pushed to the parquet scan, partial-agg shuffle on
    two low-cardinality keys, rollup grouping sets from Spark SQL for
    free (SURVEY.md §2.5 'lacks' column, exposed not hand-built)."""
    # wide=True (r11): the DECIMAL rollup is the heavy per-row compute
    # the scan fan-out exists for (single-row-group local fixtures pin
    # the partial agg to one core otherwise; no-op on cluster splits)
    li = _scan(spark, sf_dir, "lineitem", wide=True)
    # Money sums go through DECIMAL: double summation is order-dependent
    # at the last ulp, and over the grand-total rollup row (every
    # lineitem) the wobble reaches the 4th decimal at sf>=0.1. Exact
    # decimal addition is associative, so Spark and the oracle agree at
    # any scale. The per-row double->decimal cast is deterministic.
    base_dec = F.col("l_extendedprice").cast("decimal(18,6)")
    disc_dec = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,10)"
    )
    out = (
        li.where(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02")))
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.round(F.sum(base_dec), 4).cast("double").alias("sum_base_price"),
            F.round(F.sum(disc_dec), 4).cast("double").alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )
    return out


def q_top_parts_by_brand(spark, sf_dir):
    """Top-3 revenue parts per brand: broadcast dim join (part is the
    small side) + two-phase grouped top-k (operators/relational.py::
    grouped_topk) -- brand is ~25 values, so a single per-brand window
    would funnel |parts|/25 rows through one task at scale; the local
    (partition, brand) pre-rank caps the final window's input at
    3 * n_partitions rows per brand. Fact side never shuffles except on
    the agg key."""
    li = _scan(spark, sf_dir, "lineitem")
    part = _scan(spark, sf_dir, "part")
    rev = (
        li.groupBy("l_partkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .join(F.broadcast(part.select("p_partkey", "p_brand")), F.col("l_partkey") == F.col("p_partkey"))
    )
    return rel.grouped_topk(
        rev, ["p_brand"], [F.col("revenue").desc(), F.col("p_partkey")], 3
    ).select("p_brand", F.col("p_partkey").alias("partkey"), "revenue", "rank")


def q_events_sessionize(spark, sf_dir):
    """Gap-based user sessionization (batch form of the stateful
    streaming operator in streaming/sessionize.py)."""
    from sparkbigdatatextanalysis_spark.streaming import sessionize as sz

    out = sz.sessionize_batch(_events(spark, sf_dir))
    return out.select(
        "user_id",
        "session_idx",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
        "sum_value",
    )


def q_asof_join_events(spark, sf_dir):
    """Point-in-time (as-of) join: each purchase event picks the same
    user's most recent view at-or-before it. Scalable union + carry-
    forward-window form (operators/relational.py) -- one shuffle on
    user_id, no pair blow-up; checked against DuckDB's native ASOF JOIN."""
    ev = _events(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts",
        F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts"),
    )
    out = rel.asof_join(
        purchases, views, key="user_id", right_payload=["view_id", "view_ts"]
    )
    return out.select(
        "event_id",
        "user_id",
        "view_id",
        (F.unix_micros("ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )


def q_range_join_events(spark, sf_dir):
    """Interval (range) join: per signup, how many of the user's events
    land in the following 24 hours. Equi-key hash join + range predicate
    (never a cartesian); zero-activity signups kept by the left join."""
    ev = _events(spark, sf_dir)
    signups = ev.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("user_id").alias("s_user"),
        F.col("ts").alias("s_ts"),
    )
    follow = ev.select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts")
    )
    j = rel.interval_join(
        signups,
        follow,
        "s_user",
        "e_user",
        (F.col("e_ts") > F.col("s_ts"))
        & (F.col("e_ts") <= F.col("s_ts") + F.expr("INTERVAL 24 HOURS")),
        how="left",
    )
    return j.groupBy("signup_id").agg(F.count("e_user").alias("n_follow"))


def q_sales_cube(spark, sf_dir):
    """CUBE over (status, priority) with GROUPING() disambiguation --
    grouping-sets surface from Spark SQL (SURVEY.md §2.5 'lacks' column,
    exposed not hand-built). Partial aggregation expands the sets
    map-side; the shuffle carries one row per (set, group)."""
    o = _scan(spark, sf_dir, "orders")
    # decimal sum: the all-NULL cube row totals every order; double
    # summation order would wobble the 4th decimal at scale (see
    # pricing_rollup)
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_priority"),
        F.count("*").alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 4)
        .cast("double")
        .alias("sum_price"),
    )


def q_value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles of event value per type. Exact
    percentile needs the group sorted -- fine per-group distributed; at
    100 TB the scale path is approx_percentile (t-digest, mergeable
    partial aggs), kept out of the oracle-checked surface."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


def q_customers_no_orders(spark, sf_dir):
    """Left anti join surface: customers with no order since 2000-01-01.
    Catalyst plans a broadcast/shuffled hash anti join; the date filter
    pushes to the orders parquet scan before the join."""
    c = _scan(spark, sf_dir, "customer")
    o = _scan(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.to_timestamp(F.lit("2000-01-01"))
    )
    return c.join(
        o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


def q_text_repetition(spark, sf_dir):
    """Repetition quality signal (Gopher-style): per doc, the fraction
    of word 2-grams that are repeats of an earlier 2-gram in the same
    doc. High ratios flag boilerplate/spam. One explode + one groupBy(id)
    -- shuffle carries 2-gram rows, map-side combined."""
    from sparkbigdatatextanalysis_spark.functions.text import tokenize

    d = _docs(spark, sf_dir).select(
        "doc_id", tokenize("text").alias("toks")
    ).where(F.size("toks") >= 2)
    grams = d.select(
        "doc_id",
        F.expr(
            "transform(sequence(1, size(toks) - 1), "
            "i -> concat_ws(' ', toks[i - 1], toks[i]))"
        ).alias("grams"),
    )
    return grams.select(
        "doc_id",
        F.size("grams").cast("long").alias("n_2grams"),
        F.size(F.array_distinct("grams")).cast("long").alias("n_distinct"),
        F.round(
            1 - F.size(F.array_distinct("grams")) / F.size("grams").cast("double"), 6
        ).alias("dup_ratio"),
    )


def q_events_value_zscore(spark, sf_dir):
    """Per-type z-score normalization of event values -- feature
    standardization at stream scale.

    NOT a Window.partitionBy(event_type): event_type is low-cardinality,
    so a per-type window funnels each type's ENTIRE row set through one
    shuffle partition at 100 TB. Instead: one partial-agg groupBy for the
    per-type stats (map-side combined, tiny result) + a broadcast join
    back, so normalization is map-only and fully parallel."""
    ev = _events(spark, sf_dir)
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("_mu"), F.stddev_samp("value").alias("_sd")
    ).withColumnRenamed("event_type", "_et")
    # null-safe equality: a NULL event_type forms its own stats group in
    # both engines (the oracle's window PARTITION BY groups NULLs); a
    # plain equi-join would silently drop those rows.
    return ev.join(
        F.broadcast(stats), ev.event_type.eqNullSafe(F.col("_et"))
    ).select(
        "event_id",
        "event_type",
        F.round((F.col("value") - F.col("_mu")) / F.col("_sd"), 6).alias("z"),
    )


def q_docs_split_sample(spark, sf_dir):
    """Deterministic train/val/test assignment + consistent sampling for
    training pipelines: bucket = md5-hash of the doc id in [0, 100).
    Hash-based (not rand()) so the split is reproducible across runs,
    engines, and re-partitioning, stable under corpus growth (a doc's
    bucket never changes), and needs no global shuffle or count --
    map-only at any scale. Split 80/10/10; sampled = a consistent 5%
    sub-corpus of train (4 of the 80 train buckets)."""
    from sparkbigdatatextanalysis_spark.functions.hashing import string_hash31

    d = _docs(spark, sf_dir).select("doc_id")
    bucket = string_hash31(F.col("doc_id").cast("string")) % 100
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
        ((bucket < 80) & (bucket % 20 == 0)).cast("long").alias("sampled"),
    )


def q_events_hourly_from_minutely(spark, sf_dir):
    """Hierarchical time rollup: the hourly aggregate is computed FROM a
    minutely intermediate, not from raw events -- the materialized-
    rollup pattern (continuous aggregates) that lets a 100 TB/day feed
    answer coarse queries from a table 1000x smaller. Only mergeable
    partials ride in the intermediate (sum/count; avg derives at the
    end). The oracle aggregates straight from raw events, so a match
    PROVES the two-level rollup is lossless."""
    ev = _events(spark, sf_dir)
    minutely = ev.groupBy(
        F.date_trunc("minute", "ts").alias("minute"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(28,10)")).alias("sum_v"),
    )
    hourly = (
        minutely.groupBy(
            F.date_trunc("hour", "minute").alias("hour"), "event_type"
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.round(F.sum("sum_v"), 6).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:00").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return hourly


def q_curation_pipeline(spark, sf_dir):
    """End-to-end training-data curation decision: language ID +
    quality scoring + near-dup clustering composed into one keep/drop
    verdict per document. Each stage is an independent one-pass lineage
    over the cached tokenized docs; the final join is on doc_id. The
    oracle nests the three stage oracles as derived tables."""
    quality = q_text_quality(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    lang = q_text_lang_id(spark, sf_dir).select("doc_id", "lang_pred")
    keep = q_dedup_near_clusters(spark, sf_dir)
    out = (
        quality.join(lang, "doc_id")
        .join(keep, "doc_id")
        .select(
            "doc_id",
            "lang_pred",
            "quality_score",
            "is_kept",
            (
                (F.col("lang_pred") == "en")
                & (F.col("quality_score") >= 0.5)
                & (F.col("is_kept") == 1)
            ).cast("long").alias("curated"),
        )
    )
    return out


def q_tokens_except(spark, sf_dir):
    """Set operations surface (the reference left `subtract` commented
    out, EntityResolution.scala:226): distinct word 2-grams of the
    even-doc catalog minus the odd-doc catalog (EXCEPT), with the
    intersection count as a cross-check column (INTERSECT). 2-grams
    rather than single tokens so the difference is non-trivial on the
    tiny synthetic vocabulary."""
    from sparkbigdatatextanalysis_spark.functions.hashing import word_shingles
    from sparkbigdatatextanalysis_spark.functions.text import tokenize

    # One-pass set algebra (r11 optimization): the EXCEPT/INTERSECT pair
    # re-ran the tokenize+explode lineage once per set operand (6 passes,
    # 4 shuffles); a single presence aggregation -- groupBy(shingle) with
    # per-side MAX flags -- computes both sets from ONE pass and ONE
    # exchange (guide: aggregate before you shuffle, remove shuffles
    # outright). The scalar INTERSECT count rides back as a broadcast
    # single-row cross join instead of a driver-side .count() action.
    # Cached (vocabulary-bounded: |distinct 2-grams|) because the EXCEPT
    # branch and the count branch are two consumers of one aggregation.
    def build():
        d = _docs(spark, sf_dir, wide=True).select(
            (F.col("doc_id") % 2 == 0).alias("_ea"),
            F.explode(word_shingles(tokenize("text"), 2)).alias("shingle"),
        )
        return d.groupBy("shingle").agg(
            F.max(F.col("_ea")).alias("_ha"),
            F.max(~F.col("_ea")).alias("_hb"),
        )

    presence = _cached(spark, sf_dir, "tokens_except_presence", build)
    only_a = presence.where(F.col("_ha") & ~F.col("_hb")).select("shingle")
    n_common = presence.where(F.col("_ha") & F.col("_hb")).agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    return only_a.crossJoin(F.broadcast(n_common))


def q_user_type_pivot(spark, sf_dir):
    """Pivot surface: per-user event counts, one column per event type
    (explicit value list keeps the plan one pass, no distinct-values
    pre-job). Oracle uses conditional sums -- same result, any engine."""
    ev = _events(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    out = ev.groupBy("user_id").pivot("event_type", types).count()
    cols = [F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types]
    return out.select("user_id", *cols)


def q_pair_edit_distance(spark, sf_dir):
    """String-distance surface: Levenshtein over the gold pairs' leading
    text (entity-resolution's classic non-token similarity; bounded
    prefix keeps the quadratic DP cell count fixed per row)."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.substring("text", 1, 40).alias("prefix")
    )
    g = _gold(spark, sf_dir)
    a = d.select(F.col("doc_id").alias("a_id"), F.col("prefix").alias("pa"))
    b = d.select(F.col("doc_id").alias("b_id"), F.col("prefix").alias("pb"))
    return (
        g.join(a, "a_id").join(b, "b_id")
        .select("a_id", "b_id", F.levenshtein("pa", "pb").alias("edit_dist"))
    )


def q_orders_by_month(spark, sf_dir):
    """Date-function surface: monthly order rollup via date_trunc."""
    o = _scan(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
        )
        .agg(
            F.count("*").alias("n_orders"),
            # DECIMAL sum: order-independent across engines/partitionings
            # (same pattern as pricing_rollup/sales_cube).
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("sum_price"),
        )
    )


def q_tpch_q3_like(spark, sf_dir):
    """TPC-H Q3-shaped shipping-priority query (adapted to the synthetic
    schema): segment-filtered customers -> orders -> lineitem, top-10
    revenue. Dim filters push to the scans; the customer side broadcasts;
    the orders-lineitem join shuffles on the orderkey only."""
    cutoff = F.to_timestamp(F.lit("1998-03-15"))
    c = _scan(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = _scan(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = _scan(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(
            o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
                "o_orderkey", "o_orderdate", "o_orderpriority"
            ),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            # DECIMAL revenue sum (order-independent, see pricing_rollup).
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(28,10)"
                    )
                ),
                4,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
    )


def q_tpch_q5_like(spark, sf_dir):
    """TPC-H Q5-shaped regional-volume query: revenue per nation where
    customer and supplier share the nation, region-filtered. All dims
    broadcast; only the orders-lineitem join shuffles."""
    r = _scan(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = _scan(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    s = _scan(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    c = _scan(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _scan(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _scan(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            # DECIMAL revenue sum: per-nation groups span a large lineitem
            # fraction, where double summation order drifts the 4th
            # decimal at sf>=0.1 (see pricing_rollup).
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(28,10)"
                    )
                ),
                4,
            )
            .cast("double")
            .alias("revenue")
        )
    )


def q_events_json_props(spark, sf_dir):
    """JSON functions over the semi-structured props column: extract a
    typed field and aggregate. get_json_object stays JVM-side; at scale
    prefer from_json with an explicit schema once per pipeline stage."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.round(F.avg(k), 6).alias("avg_k"),
    )


def _dedup_clusters(spark, sf_dir):
    """Pipeline point (reference D23 shape): the MinHash-LSH +
    connected-components cluster table feeds BOTH dedup_near_clusters
    and dedup_best_rep, and the CC loop runs eager per-round jobs -- one
    |docs|-row table, built once per (session, sf_dir).

    localCheckpoint (eager), not just persist: the cluster table's
    LOGICAL plan is the whole LSH + label-propagation-loop lineage, and
    Catalyst re-analyzes it on every consuming action -- measured ~1.3 s
    of pure driver time per query at sf0.1 even with the data fully
    cached. Truncating to a LogicalRDD makes downstream plans flat; the
    exchange-budget net pins the underlying chain separately
    (tests/test_plan_audit.py::test_dedup_cluster_chain_budget), since
    this wrapper hides it from the per-key audit.

    Cluster caveat: localCheckpoint blocks are NOT fault-tolerant (an
    executor loss drops them and the truncated lineage cannot recompute)
    -- on a real cluster, give this pipeline point a reliable
    checkpoint (`sc.setCheckpointDir` + `.checkpoint()`) or write it to
    a table; local[n] has no executor loss, so the cheap form is right
    here."""
    from sparkbigdatatextanalysis_spark.operators import components as cc

    return _cached(
        spark,
        sf_dir,
        "dedup_clusters",
        lambda: cc.dedup_clusters(
            _mh_pairs(spark, sf_dir), _docs(spark, sf_dir)
        ).localCheckpoint(eager=True),
        persist=False,  # the eager checkpoint already holds the blocks
    )


def q_dedup_near_clusters(spark, sf_dir):
    """Near-dup clustering end-to-end: MinHash-LSH candidate pairs ->
    connected components (iterative min-label propagation,
    operators/components.py) -> canonical keep_id per document.
    sum(is_kept) is the post-dedup corpus size. Oracle computes the same
    components with a recursive reachability CTE."""
    return _dedup_clusters(spark, sf_dir)


def q_dedup_near_clusters_star(spark, sf_dir):
    """The SAME clustering contract as dedup_near_clusters computed by
    the alternating large-star/small-star algorithm (Kiveris et al.,
    SoCC 2014; operators/components.py::connected_components_star) --
    O(log n) rounds instead of O(diameter), the right CC when chains or
    hubs push the near-dup graph's diameter up. Components are labeled
    by min node id exactly like the propagation form, so the one
    recursive-reachability CTE oracle adjudicates BOTH algorithms
    (until r8 only a property test said they agree)."""
    from sparkbigdatatextanalysis_spark.operators import components as cc

    return _cached(
        spark,
        sf_dir,
        "dedup_clusters_star",
        lambda: cc.dedup_clusters(
            _mh_pairs(spark, sf_dir), _docs(spark, sf_dir), algorithm="star"
        ).localCheckpoint(eager=True),
        persist=False,  # the eager checkpoint already holds the blocks
    )


def q_events_session_native(spark, sf_dir):
    """Spark's built-in session operator (F.session_window) driving the
    same gap sessionization as events_sessionize -- gated as its own key
    so the NATIVE operator's semantics are oracle-adjudicated, not just
    property-tested against the expression form. Contract differences
    the oracle replays: no session_idx ordinal (sessions are identified
    by their extent), and a gap of EXACTLY 30 minutes starts a new
    session (session windows are half-open [start, last+gap)), hence
    `>=` where the expression-path oracle has `>`."""
    from sparkbigdatatextanalysis_spark.streaming import sessionize as sz

    out = sz.sessionize_native(_events(spark, sf_dir))
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
        "sum_value",
    )


def q_skew_join_events(spark, sf_dir):
    """Salted large-to-dim join (operators/skew.py): result is
    bit-identical to the plain equi-join the oracle runs -- the salt only
    changes the shuffle layout. The explicit form backs up AQE skew
    splitting for hot keys AQE can't subdivide."""
    from sparkbigdatatextanalysis_spark.operators import skew

    ev = _events(spark, sf_dir).select("event_id", "user_id", "value")
    cust = _scan(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    out = skew.salted_join(
        ev, cust, "user_id", "c_custkey", n_salts=8, salt_from="event_id"
    )
    return out.select("event_id", "user_id", "c_mktsegment", "value")


def q_user_running_stats(spark, sf_dir):
    """Window-function breadth over the event stream: per-user running
    value sum, event sequence number, and quartile bucket -- one shuffle
    on user_id, all three windows share the same sort."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(wrun), 6).alias("running_value"),
        F.row_number().over(w).alias("seq"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


def q_approx_distinct_users(spark, sf_dir):
    """Sketch aggregation: HyperLogLog++ distinct-user estimate next to
    the exact count. Mergeable sketch partials are the 100 TB path for
    distinct counts (exact needs a full shuffle of the key space).

    DuckDB's HLL yields different estimates, so the raw estimate itself
    is not oracle-expressible -- but its ACCURACY is: the driver-hashed
    columns are the exact count plus the boolean "estimate within 10%
    of exact" (5x the configured rsd=0.02 -- a ~5-sigma bound, so a
    CORRECT sketch cannot realistically flip it even across data
    regenerations or HLL hash changes, while a broken/degraded sketch
    still fails the value hash), which the oracle pins to 1. A real
    check where r03 recorded none at all (`err: no_oracle`)."""
    ev = _events(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("_approx"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("_approx") - F.col("exact_users"))
            <= 0.10 * F.col("exact_users")
        )
        .cast("long")
        .alias("approx_within_10pct"),
    )


def q_vocab_top_tokens(spark, sf_dir):
    """Tokenizer-vocabulary head: top-100 corpus tokens by occurrence
    count (ties by token), with doc frequency and rank. Distributed
    top-k: partial-agg groupBy + TakeOrdered, never a global sort --
    see operators/pipeline.py::vocab_top_k."""
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    return pl.vocab_top_k(_tok(spark, sf_dir), k=100)


def q_train_test_ngram_overlap(spark, sf_dir):
    """Benchmark decontamination: per TEST document (hash buckets >= 90,
    same deterministic split as docs_split_sample), how many of its
    3-gram shingles also occur in any TRAIN document (buckets < 80).
    One shingle-hash equi-join + two partial aggs -- the n-gram near-dup
    join shape, so the 100 TB story is identical."""
    from sparkbigdatatextanalysis_spark.functions.hashing import string_hash31
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    sh = dd.shingle_hashes(_docs(spark, sf_dir, wide=True))
    bucket = string_hash31(F.col("id").cast("string")) % 100
    return pl.contamination_overlap(sh, bucket < 80, bucket >= 90)


def q_docs_pack_sequences(spark, sf_dir):
    """Greedy fixed-budget sequence packing of the corpus into
    512-token training packs, parallel across 32 hash shards (packing is
    sequential within a shard by construction -- the shard count is the
    scale knob). See operators/pipeline.py::pack_sequences."""
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    d = _docs(spark, sf_dir).select(
        "doc_id", F.size(text_fns.tokenize("text")).alias("n_tokens")
    )
    return pl.pack_sequences(d, budget=512, n_shards=32)


def q_docs_unigram_logprob(spark, sf_dir):
    """Per-doc mean unigram log-probability under the corpus unigram LM
    -- the cheap perplexity-style quality signal. Corpus agg + broadcast
    join back (IDF pipeline shape)."""
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    return pl.unigram_logprob(_tok(spark, sf_dir))


def q_events_latest_per_user(spark, sf_dir):
    """CDC-style compaction: the latest event per user (ties broken by
    event_id). One shuffle on the high-cardinality user key -- see
    operators/relational.py::keep_latest."""
    ev = _events(spark, sf_dir)
    out = rel.keep_latest(
        ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    )
    return out.select("user_id", "event_id", "ts", "event_type", "value")


def q_tpch_q4_like(spark, sf_dir):
    """TPC-H Q4-shaped order-priority check: count orders in one quarter
    that have at least one lineitem shipped after the order date (an
    EXISTS / semi-join shape). Implemented as the equivalent pre-
    aggregation: max(l_shipdate) per orderkey (map-side partial agg
    shrinks lineitem to one row per order BEFORE the join), then a join
    on the uniform orderkey and a date comparison -- same answer as the
    correlated EXISTS, one shuffle each side, no row blow-up at 100 TB."""
    lo = F.to_timestamp(F.lit("1997-01-01"))
    hi = F.to_timestamp(F.lit("1997-04-01"))
    o = (
        _scan(spark, sf_dir, "orders")
        .where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        _scan(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("max_ship"))
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .where(F.col("max_ship") > F.col("o_orderdate"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_tpch_q18_like(spark, sf_dir):
    """TPC-H Q18-shaped large-volume-customer query: orders whose total
    lineitem quantity exceeds 300 (GROUP BY + HAVING over the fact),
    joined back to orders and customer, top-100 by order value.
    The HAVING prunes the fact to a handful of orderkeys FIRST, so both
    dimension attachments broadcast that small survivor set -- at 100 TB
    the only full-table work is one partial-aggregated fact shuffle.
    l_quantity is integral-valued, so the double sum is exact (< 2^53)
    and needs no DECIMAL detour."""
    qty = (
        _scan(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 300)
    )
    o = _scan(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = _scan(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = o.join(F.broadcast(qty), o.o_orderkey == qty.l_orderkey)
    out = big.join(c, big.o_custkey == c.c_custkey)
    return (
        out.select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


def q_funnel_conversion(spark, sf_dir):
    """Sequential funnel over the event stream: users who viewed, then
    later clicked, then later purchased (first-touch semantics) -- see
    operators/funnel.py. Each stage is one filter + one user-keyed join
    + one partial-aggregated min over a monotonically shrinking set."""
    from sparkbigdatatextanalysis_spark.operators import funnel as fn

    return fn.funnel_steps(
        _events(spark, sf_dir), ["view", "click", "purchase"]
    )


def q_table_profile(spark, sf_dir):
    """One-pass column profiling of the orders table (operators/
    profile.py): per column its row/null/distinct counts and min/max.
    The data-QA gate a training pipeline runs on every ingested table.
    wide=True: the exact-distinct Expand multiplies every input row by
    the profiled-column count, which is the heavy-compute case the scan
    fan-out exists for (2.6x faster on the single-row-group fixture)."""
    from sparkbigdatatextanalysis_spark.operators import profile as pf

    return pf.profile_table(
        _scan(spark, sf_dir, "orders", wide=True),
        num_cols=["o_orderkey", "o_custkey", "o_totalprice"],
        str_cols=["o_orderstatus", "o_orderpriority"],
        ts_cols=["o_orderdate"],
    )


def q_corpus_bigrams(spark, sf_dir):
    """Top-100 corpus bigrams with ranks -- phrase-mining / tokenizer-
    merge statistics. Bigrams form in-row via zip_with (no positional
    self-join); count is one partial agg; top-k is TakeOrdered. See
    operators/pipeline.py::bigram_top_k."""
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    return pl.bigram_top_k(_tok(spark, sf_dir), k=100)


def q_events_rolling_1h(spark, sf_dir):
    """Trailing one-hour per-user event count and mean value at every
    event -- a RANGE-frame time window (vs user_running_stats' ROWS
    frame). Ordered by epoch MICROSECONDS so the frame bound is exact
    and engine-independent at the data's native precision. One shuffle
    on the high-cardinality user key; per-user state is bounded by the
    hour, so the window never degenerates at scale."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.avg("value").over(w), 6).alias("avg_1h"),
    )


def q_docs_stratified_sample(spark, sf_dir):
    """Stratified deterministic sampling: per-language keep rates (50%
    for English, 20% otherwise) via md5-hash bucketing of the doc id --
    the domain-mixing step of corpus construction. Same reproducibility
    story as docs_split_sample (hash, not rand(): stable across runs,
    engines, partitionings, and corpus growth); a 'strat:' salt
    decorrelates these buckets from the train/val/test split. Map-only
    at any scale."""
    from sparkbigdatatextanalysis_spark.functions.hashing import string_hash31

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    bucket = (
        string_hash31(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")))
        % 100
    )
    rate = F.when(F.col("lang") == "en", 50).otherwise(20)
    return d.select("doc_id", "lang", bucket.alias("bucket")).where(
        F.col("bucket") < rate
    )


def q_tpch_q2_like(spark, sf_dir):
    """TPC-H Q2-shaped minimum-cost-supplier query (adapted: lineitem
    unit price stands in for partsupp supplycost). The correlated scalar
    subquery ("price = min price for that part") is decorrelated into a
    per-part MIN aggregate joined back -- the rewrite every optimizer
    applies to Q2, expressed directly. Filtered part dim broadcasts to
    both the offer scan and nothing else shuffles except the per-part
    partial-agg MIN; unit price is a per-row IEEE division, identical
    on any engine, so the equality join back is exact."""
    p = (
        _scan(spark, sf_dir, "part")
        .where((F.col("p_type") == "STANDARD") & (F.col("p_size") < 15))
        .select("p_partkey", "p_name", "p_brand")
    )
    li = _scan(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    # Persist: offers feeds both the per-part MIN and the join-back --
    # without the barrier the lineitem scan + broadcast join runs twice
    # (same reuse shape as dedup.simhash_near_pairs' chunked table).
    offers = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("p_partkey", "p_name", "p_brand", "l_suppkey", "unit_price")
        .persist()
    )
    minp = offers.groupBy(F.col("p_partkey").alias("_pk")).agg(
        F.min("unit_price").alias("min_price")
    )
    best = (
        offers.join(
            minp,
            (offers.p_partkey == minp._pk)
            & (offers.unit_price == minp.min_price),
        )
        .select("p_partkey", "p_name", "p_brand", "l_suppkey", "min_price")
        .distinct()
    )
    s = _scan(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    n = _scan(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        best.join(F.broadcast(s), best.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "p_partkey",
            "p_name",
            "p_brand",
            F.col("s_name").alias("supp_name"),
            "n_name",
            F.round("min_price", 6).alias("min_price"),
        )
    )


def q_tpch_q7_like(spark, sf_dir):
    """TPC-H Q7-shaped bi-national volume query: revenue shipped between
    NATION_1 and NATION_2 (either direction) per year. Customer and
    supplier are nation-FILTERED before their joins, so both shrink to
    ~2/25 of their tables and broadcast (the filter pushes to the scan);
    the only big shuffle is lineitem-orders on the orderkey. Revenue
    sums go through DECIMAL (order-independent, see pricing_rollup)."""
    n = _scan(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    s = (
        _scan(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        _scan(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o = _scan(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _scan(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(28,10)"
                    )
                ),
                4,
            )
            .cast("double")
            .alias("revenue"),
        )
    )


def q_tpch_q6_like(spark, sf_dir):
    """TPC-H Q6-shaped forecasting-revenue-change query: one filtered
    single-pass aggregation over lineitem, zero joins -- the purest
    predicate-pushdown/column-pruning showcase (the scan reads 4 of 11
    columns and every filter reaches the parquet reader as a
    PushedFilter; at 100 TB with date-partitioned layout the year
    predicate prunes partitions before any I/O)."""
    li = _scan(spark, sf_dir, "lineitem")
    f = li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_discount")).cast(
                    "decimal(28,10)"
                )
            ),
            4,
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_tpch_q10_like(spark, sf_dir):
    """TPC-H Q10-shaped returned-item report: top 20 customers by
    revenue lost to returns (l_returnflag = 'R') in one quarter.
    Orders filters to the quarter BEFORE its join (predicate below the
    join), customer broadcasts, lineitem shuffles once on the agg key.
    Round-then-rank with c_custkey tie-break on both sides."""
    c = _scan(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    o = _scan(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _scan(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    rev = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(28,10)")
                ),
                4,
            )
            .cast("double")
            .alias("revenue")
        )
    )
    return (
        rev.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "c_nationkey")
    )


def q_tpch_q14_like(spark, sf_dir):
    """TPC-H Q14-shaped promotion-effect query: the PROMO share of one
    month's revenue -- a conditional aggregation over the lineitem-part
    join (part broadcasts; the month filter prunes lineitem before the
    join). The ratio divides two identically-ordered DECIMAL sums, so
    one round(6) on the final scalar is exact cross-engine."""
    p = _scan(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = _scan(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,10)"
    )
    j = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(
                F.lit(0).cast("decimal(28,10)")
            )).cast("double")
            / F.sum(rev).cast("double"),
            6,
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_tpch_q16_like(spark, sf_dir):
    """TPC-H Q16-shaped supplier-count query: distinct suppliers able to
    ship each (brand, type, size) part class, excluding complained-about
    suppliers (acctbal < 0 stands in for the comment filter). The
    exclusion is a broadcast ANTI join (the excluded set is tiny); the
    distinct count aggregates partial map-side on (class, suppkey)
    before the final per-class count -- Spark's two-phase distinct."""
    excl = (
        _scan(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    p = _scan(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    li = _scan(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(excl), li.l_suppkey == excl.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_tpch_q1_like(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary: the canonical single-pass wide
    aggregation over lineitem (8 aggregates, 2 grouping keys, and the
    shipdate predicate pushed to the parquet scan, which reads 7 of 11
    columns). Sums ride as DECIMAL(28,10) so partial-agg merge order
    cannot perturb them; the averages derive from the ALREADY-ROUNDED
    double sums divided by the exact count (never avg() over raw
    doubles), so every output digit is engine- and partitioning-
    independent. The group domain is 6 rows -- map-side combine
    collapses 100 TB to six partials per task before the one tiny
    shuffle."""
    # wide=True (r11): five DECIMAL(28,10) sums per row are the heavy
    # per-row compute case (measured 2.7 -> 1.6s at sf0.1)
    li = _scan(spark, sf_dir, "lineitem", wide=True).where(
        F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))

    def dsum(expr, name):
        return (
            F.round(F.sum(expr.cast("decimal(28,10)")), 4)
            .cast("double")
            .alias(name)
        )

    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity"), "sum_qty"),
        dsum(F.col("l_extendedprice"), "sum_base_price"),
        dsum(disc_price, "sum_disc_price"),
        dsum(charge, "sum_charge"),
        dsum(F.col("l_discount"), "sum_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        F.round(F.col("sum_qty") / F.col("count_order"), 6).alias("avg_qty"),
        F.round(F.col("sum_base_price") / F.col("count_order"), 6).alias(
            "avg_price"
        ),
        F.round(F.col("sum_disc") / F.col("count_order"), 6).alias("avg_disc"),
        "count_order",
    )


def q_tpch_q8_like(spark, sf_dir):
    """TPC-H Q8-shaped national market share: of the revenue one
    region's customers spent on one part type across 1996-1997, the
    share supplied by NATION_5, per order year. nation plays TWO roles
    (customer side restricts the market, supplier side labels the
    numerator) -- two independently-aliased broadcast dims, so the only
    real shuffle is the lineitem-orders orderkey join; the share is a
    conditional-over-total ratio of two identically-grouped DECIMAL
    sums, one final round(6)."""
    nat = _scan(spark, sf_dir, "nation")
    reg = _scan(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    cust_nations = nat.join(
        F.broadcast(reg), nat.n_regionkey == reg.r_regionkey
    ).select(F.col("n_nationkey").alias("cn_key"))
    c = (
        _scan(spark, sf_dir, "customer")
        .join(F.broadcast(cust_nations), F.col("c_nationkey") == F.col("cn_key"))
        .select("c_custkey")
    )
    o = (
        _scan(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", F.year("o_orderdate").alias("o_year"))
    )
    p = (
        _scan(spark, sf_dir, "part")
        .where(F.col("p_type") == "LARGE")
        .select("p_partkey")
    )
    s = (
        _scan(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    li = (
        _scan(spark, sf_dir, "lineitem")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "l_orderkey",
            "supp_nation",
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("decimal(28,10)")
            .alias("rev"),
        )
    )
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    return j.groupBy("o_year").agg(
        F.round(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_5", F.col("rev")).otherwise(
                    F.lit(0).cast("decimal(28,10)")
                )
            ).cast("double")
            / F.sum("rev").cast("double"),
            6,
        ).alias("mkt_share"),
        F.round(F.sum("rev"), 4).cast("double").alias("total_revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_tpch_q13_like(spark, sf_dir):
    """TPC-H Q13-shaped customer order-count distribution: how many
    customers placed exactly k qualifying orders (urgent priority
    excluded, standing in for the comment NOT LIKE filter), INCLUDING
    zero-order customers -- the left-outer + double-aggregation shape.
    The first aggregation keys on the uniform custkey (one shuffle over
    the big side); the second groups a per-customer table by a domain
    of at most max-orders-per-customer values, so it is effectively
    free at any scale."""
    c = _scan(spark, sf_dir, "customer").select("c_custkey")
    o = (
        _scan(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey")
    )
    per = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_custkey").alias("c_count"))
    )
    return per.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def q_tpch_q15_like(spark, sf_dir):
    """TPC-H Q15-shaped top supplier: the supplier(s) achieving the
    maximum revenue in one quarter. Revenue per supplier is one
    partial-aggregated groupBy on the small supplier key; the max is a
    scalar broadcast back (the standard decorrelation of Q15's view +
    scalar subquery), and the equality cut compares the ROUNDED
    decimal-sum revenue, so 'ties with the max' is exact cross-engine.
    rev is persisted: it feeds both the scalar max and the final
    filter."""
    li = _scan(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(28,10)"
                    )
                ),
                4,
            )
            .cast("double")
            .alias("total_revenue")
        )
        .persist()
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = _scan(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q_tpch_q17_like(spark, sf_dir):
    """TPC-H Q17-shaped small-quantity-order revenue: average yearly
    revenue lost if orders below 20% of a part's average quantity were
    not filled, for one brand. The correlated avg subquery is
    decorrelated into per-part (count, sum_qty) partials joined back;
    the 20%-of-average comparison is algebraically CLEARED OF DIVISION
    (5 * qty * n < sum_qty -- all integral-valued doubles, exact in
    both engines), so no avg() rounding can flip a row across the
    threshold. Brand-filtered part broadcasts; li persists because it
    feeds both the stats agg and the final filter."""
    p = (
        _scan(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    li = (
        _scan(spark, sf_dir, "lineitem")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select("p_partkey", "l_quantity", "l_extendedprice")
        .persist()
    )
    stats = li.groupBy(F.col("p_partkey").alias("sp_key")).agg(
        F.count(F.lit(1)).alias("n_li"),
        F.sum(F.col("l_quantity").cast("decimal(28,10)"))
        .cast("double")
        .alias("sum_qty"),
    )
    small = li.join(
        F.broadcast(stats), F.col("p_partkey") == F.col("sp_key")
    ).where(
        F.lit(5.0) * F.col("l_quantity") * F.col("n_li") < F.col("sum_qty")
    )
    return small.agg(
        F.round(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(28,10)")), 4
            ).cast("double")
            / F.lit(7.0),
            6,
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_tpch_q19_like(spark, sf_dir):
    """TPC-H Q19-shaped disjunctive-predicate revenue: three OR'd
    brand/size/quantity clauses -- the pushdown torture test. The
    common bounds (quantity in [1, 30]) are factored OUT of the OR so a
    usable conjunct still reaches the lineitem parquet scan; the
    brand/size conjuncts ride the broadcast part dim; the residual
    disjunction evaluates post-join, where Catalyst keeps it inside
    whole-stage codegen."""
    p = _scan(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = (
        _scan(spark, sf_dir, "lineitem")
        .where((F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30))
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    )
    j = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.where(clause).agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(28,10)"
                )
            ),
            4,
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_tpch_q22_like(spark, sf_dir):
    """TPC-H Q22-shaped global sales opportunity: positive-balance
    customers in three market segments (standing in for the phone-
    prefix country filter), richer than the filtered group's average
    positive balance, with no order since 2000-01-01 (Q22's 'no orders
    for 7 years' clause -- the date restriction lives on the ORDERS
    side, as in the spec query; an unrestricted anti join is
    structurally empty on this fixture, where every customer has at
    least one lifetime order, which made the r08 gate row vacuous).
    The scalar average broadcasts (one crossJoin); 'no recent order'
    is a left ANTI join shuffled once on the uniform custkey, with the
    date filter pushed to the orders scan; the threshold compares
    (decimal sum)::double / count -- a single IEEE-exact division,
    identical cross-engine. cand persists: it feeds both the scalar
    average and the threshold filter."""
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE"]
    c = (
        _scan(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment").isin(segs))
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .persist()
    )
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(
        (
            F.round(F.sum(F.col("c_acctbal").cast("decimal(28,10)")), 4).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    o = (
        _scan(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).where(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    never = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return never.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(28,10)")), 4)
        .cast("double")
        .alias("totacctbal"),
    )


def q_tpch_q9_like(spark, sf_dir):
    """TPC-H Q9-shaped product-type profit: revenue of 'widget' parts
    by supplier nation and order year (the schema has no partsupp, so
    profit is the discounted revenue term -- Q9's join tree and
    grouping, minus the supplycost subtraction; q11/q20's partsupp
    sides are the only TPC-H shapes the testdata cannot express, see
    SURVEY). Part is name-FILTERED before its join (pushed to the
    scan) and broadcast with supplier/nation; the one big shuffle is
    lineitem-orders on the orderkey. Money through DECIMAL."""
    p = (
        _scan(spark, sf_dir, "part")
        .where(F.col("p_name").contains("widget"))
        .select("p_partkey")
    )
    s = _scan(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _scan(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _scan(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("int").alias("o_year")
    )
    li = _scan(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(28,10)")
                ),
                4,
            )
            .cast("double")
            .alias("profit"),
        )
    )


def q_tpch_q12_like(spark, sf_dir):
    """TPC-H Q12-shaped priority split: per return flag (standing in
    for the absent l_shipmode), how many lineitems shipped in the
    pinned year belong to high-priority (1-URGENT/2-HIGH) vs lower
    orders -- Q12's conditional-sum-over-join shape. One orderkey
    shuffle join; the flag split is two in-row conditional sums."""
    o = _scan(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("_high"),
    )
    li = (
        _scan(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_returnflag")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(F.col("_high"), 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(F.col("_high"), 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
    )


def q_tpch_q20_like(spark, sf_dir):
    """TPC-H Q20-shaped nested semi-join chain: suppliers who shipped
    MORE than 50 units of 'large' parts in the pinned year (the
    partsupp availability threshold re-expressed over shipped
    quantity), returned with their nation -- Q20's point is the
    part-filter -> per-(supplier,part) HAVING -> supplier semi-join
    nesting, preserved exactly. The quantity agg shuffles on the
    composite key once; every dimension side broadcasts."""
    p = (
        _scan(spark, sf_dir, "part")
        .where(F.col("p_name").startswith("large"))
        .select("p_partkey")
    )
    li = (
        _scan(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    heavy = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").cast("double").alias("_qty"))
        .where(F.col("_qty") > 50.0)
        .select("l_suppkey")
        .distinct()
    )
    s = _scan(spark, sf_dir, "supplier")
    n = _scan(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
    )


def q_tpch_q21_like(spark, sf_dir):
    """TPC-H Q21-shaped sole-late-supplier count: per supplier, orders
    with >= 2 suppliers where THIS supplier's latest line is strictly
    the order's latest ship date (no other supplier ties it) -- Q21's
    exists/not-exists double self-join re-expressed over l_shipdate
    (the schema has no commit/receipt dates). Shape: one per-
    (order, supplier) agg, one per-order agg over IT (order-local, no
    second lineitem scan), then a max-tie count filter -- the
    anti-join pair collapses into 'n_supps >= 2 AND exactly one
    supplier at the max', which avoids Q21's notorious double scan
    entirely while keeping its semantics."""
    li = _scan(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("_last")
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("_n_supps"),
        F.max("_last").alias("_omax"),
    )
    late = (
        per_os.join(per_o, "l_orderkey")
        .where(F.col("_n_supps") >= 2)
        .withColumn("_is_max", (F.col("_last") == F.col("_omax")).cast("int"))
    )
    sole = (
        late.groupBy("l_orderkey")
        .agg(
            F.sum("_is_max").alias("_n_at_max"),
            F.max(F.when(F.col("_is_max") == 1, F.col("l_suppkey"))).alias(
                "_the_supp"
            ),
        )
        .where(F.col("_n_at_max") == 1)
    )
    s = _scan(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole.groupBy("_the_supp")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .join(F.broadcast(s), F.col("_the_supp") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
    )


def q_user_retention_cohorts(spark, sf_dir):
    """Cohort retention -- the canonical product-analytics query: users
    grouped by first-activity week (their cohort); for each
    (cohort_week, weeks elapsed) the count of cohort users active that
    week and the retained share. Both week columns are Monday-truncated
    in BOTH engines, so the day difference is an exact multiple of 7.
    Scale: the first-activity agg and the distinct-active-week set
    shuffle once each on the uniform user key and join on that same
    key; the cohort-size table (one row per week) broadcasts; the final
    aggregation's domain is weeks x offsets -- tiny at any corpus
    size."""
    ev = _events(spark, sf_dir).select("user_id", "ts")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    # persist: feeds the per-user join AND the cohort-size aggregate
    first = first.persist()
    sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    j = active.join(first, "user_id").select(
        "cohort_week",
        (F.datediff("active_week", "cohort_week") / 7)
        .cast("long")
        .alias("week_offset"),
    )
    agg = j.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    return agg.join(F.broadcast(sizes), "cohort_week").select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        "n_active",
        "cohort_size",
        F.round(F.col("n_active") / F.col("cohort_size"), 6).alias(
            "retention_pct"
        ),
    )


def q_orders_rfm_segments(spark, sf_dir):
    """RFM segmentation with percentile-cut quartiles: per purchasing
    customer, recency (days since last order vs the corpus max date),
    frequency (order count), monetary (decimal order-value sum), each
    cut into quartiles at the EXACT interpolated 25/50/75 percentiles.
    Deliberately NOT ntile(): a global ntile is a single-partition sort
    that dies at 100 TB. The boundaries come from ONE scalar percentile
    aggregation broadcast back, and assignment is a map-only comparison
    -- the same plan shape at any scale. Boundary comparisons use
    strict > on the rounded metrics, so the cut is deterministic
    cross-engine. Cuts come from operators/stats.py::quartile_cuts,
    whose relative_error parameter swaps the exact percentile (which
    buffers every distinct metric value in one reducer -- the bound
    that matters for the near-continuous monetary column) for the
    mergeable GK sketch at extreme scale; the gate runs exact (0.0)
    so the oracle stays bit-deterministic."""
    from sparkbigdatatextanalysis_spark.operators import stats as st

    o = _scan(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    mx = o.agg(F.max("o_orderdate").alias("max_date"))
    per = (
        o.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey")
        .agg(
            F.min(F.datediff("max_date", "o_orderdate"))
            .cast("long")
            .alias("r_days"),
            F.count(F.lit(1)).alias("freq"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(28,10)")), 4
            )
            .cast("double")
            .alias("monetary"),
        )
        .persist()  # feeds the percentile scalar AND the assignment
    )
    cuts = st.quartile_cuts(
        per, ["r_days", "freq", "monetary"], relative_error=0.0
    )

    def quart(c):
        return (
            F.lit(1)
            + (F.col(c) > F.col(f"{c}_q25")).cast("int")
            + (F.col(c) > F.col(f"{c}_q50")).cast("int")
            + (F.col(c) > F.col(f"{c}_q75")).cast("int")
        ).cast("long")

    out = per.crossJoin(F.broadcast(cuts)).select(
        "o_custkey",
        "r_days",
        "freq",
        "monetary",
        quart("r_days").alias("r_q"),
        quart("freq").alias("f_q"),
        quart("monetary").alias("m_q"),
    )
    return out.withColumn(
        "segment",
        F.concat(F.lit("R"), "r_q", F.lit("F"), "f_q", F.lit("M"), "m_q"),
    )


def q_events_reconcile(spark, sf_dir):
    """Cross-table reconciliation (operators/profile.py::
    reconcile_tables): per-day row counts + order-insensitive content
    checksums of the events table against a deterministically-corrupted
    replica (one in ~991 rows dropped, one in ~997 event types
    rewritten) -- the replication/migration audit. Only per-bucket
    (count, checksum) summary rows ever travel; the checksum is a
    decimal-exact SUM of md5-derived row hashes, so each side could be
    computed by a different engine -- which is exactly what the oracle
    does."""
    from sparkbigdatatextanalysis_spark.operators import profile as pf

    ev = (
        _events(spark, sf_dir)
        .where(F.col("ts").isNotNull())
        .select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "event_id",
            "user_id",
            "event_type",
        )
    )
    replica = ev.where(F.col("event_id") % 991 != 5).withColumn(
        "event_type",
        F.when(F.col("event_id") % 997 == 3, "corrupted").otherwise(
            F.col("event_type")
        ),
    )
    return pf.reconcile_tables(
        ev, replica, "day", ["event_id", "user_id", "event_type"]
    )


def q_purchase_attribution(spark, sf_dir):
    """Last-touch conversion attribution with a 7-day lookback: each
    purchase attributes to the same user's latest click strictly before
    it and at most 7 days old (asof_join's merge_asof-style
    tolerance_sec; the bound applies map-side after the carry window --
    no extra exchange). Click-less or stale-click purchases keep NULL
    attribution (left rows survive). The marketing-analytics twin of
    the point-in-time join."""
    ev = _events(spark, sf_dir).where(F.col("ts").isNotNull())
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    out = rel.asof_join(
        purchases,
        clicks,
        key="user_id",
        right_payload=["click_id", "click_ts"],
        strict=True,
        tolerance_sec=7 * 86400,
    )
    return out.select(
        "purchase_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "click_id",
        (F.unix_micros("ts") - F.unix_micros("click_ts")).alias("lag_us"),
    )


def q_dedup_triangle_density(spark, sf_dir):
    """Per-doc triangle counts over the n-gram-Jaccard candidate graph
    (operators/components.py::count_triangles): the local-density
    signal that separates core near-dup clique members (neighbor pairs
    also connected) from chain artifacts of transitive candidate
    generation -- the refinement step between pair generation and
    cluster-representative choice. Edges are the jaccard >= 0.05
    near-dup pairs (the raw >=1-shared-shingle candidate graph is
    quadratically dense inside shingle buckets and is NOT what density
    refinement runs on). Degree-ordered compact-forward enumeration
    (Suri & Vassilvitskii's 'last reducer' fix), so the wedge join is
    hub-safe at any graph skew. The threshold compares the UNROUNDED
    IEEE-exact jaccard in both engines."""
    from sparkbigdatatextanalysis_spark.operators import components as cc

    pairs = dd.ngram_jaccard_pairs(
        _docs(spark, sf_dir, wide=True), min_jaccard=0.05
    ).select("a_id", "b_id")
    return cc.count_triangles(pairs, "a_id", "b_id")


def q_docs_global_rank(spark, sf_dir):
    """Distributed exact global ranking (operators/relational.py::
    global_rank): every document's exact position in the corpus-wide
    (n_chars, doc_id) order WITHOUT the single-partition window a plain
    row_number() OVER (ORDER BY ...) plans -- percentile range-buckets
    + prefix-sum offsets + bounded per-bucket windows; the oracle IS
    the plain single-window row_number, so the two-phase decomposition
    is proven exact."""
    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return rel.global_rank(d, key="n_chars", tiebreaker="doc_id")


def q_events_monthly_uniques_sketch(spark, sf_dir):
    """Mergeable-sketch rollup (the materialized-sketch pattern):
    per-day Apache DataSketches HLL sketches of distinct users,
    union-merged into per-month unique estimates WITHOUT re-touching
    raw events -- at 100 TB/day the monthly-uniques question is
    answered from a sketch table ~10^6x smaller than the feed, and the
    same daily sketches re-merge into ANY coarser window (week,
    quarter) because HLL union is associative. Exact distinct, by
    contrast, cannot be rolled up from daily exact counts at all
    (distinct is not summable). Gated like approx_distinct_users:
    DuckDB's HLL differs, so the hashed columns are the day count, the
    exact monthly distinct, and the 'merged estimate within 10% of
    exact' boolean the oracle pins to 1 (default lgConfigK=12 gives
    rsd ~1.6%, so 10% is a ~6-sigma bound -- a correct sketch cannot
    realistically flip it, a broken union still fails the hash).
    ts IS NOT NULL on both sides (like events_reconcile /
    purchase_attribution): a NULL ts would otherwise make Spark drop
    the NULL month at the inner join while the oracle keeps a
    NULL-month row -- latent cross-engine divergence."""
    ev = _events(spark, sf_dir).where(F.col("ts").isNotNull()).select(
        F.date_format("ts", "yyyy-MM").alias("month"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "user_id",
    )
    daily = ev.groupBy("month", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    monthly = daily.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est"),
    )
    exact = ev.groupBy("month").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return monthly.join(exact, "month").select(
        "month",
        "n_days",
        "exact_users",
        (
            F.abs(F.col("_est") - F.col("exact_users"))
            <= 0.10 * F.col("exact_users")
        )
        .cast("long")
        .alias("merged_within_10pct"),
    )


def q_events_pagerank(spark, sf_dir):
    """Fixed-point PageRank (operators/components.py::
    pagerank_fixed_point) over the bipartite user<->event-type activity
    graph: 3 power-method rounds in exact BIGINT arithmetic (ranks
    scaled by 10^12, floor-division updates), so the ranks are
    bit-identical across engines, partitionings, and reruns -- the
    iterative-numeric complement to the two connected-components
    operators. Both edge directions are present, so no rank dangles;
    high-degree event-type hubs accumulate rank, users split it."""
    from sparkbigdatatextanalysis_spark.operators import components as cc

    b = _events(spark, sf_dir).select("user_id", "event_type").distinct()
    fwd = b.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t:"), "event_type").alias("dst"),
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return cc.pagerank_fixed_point(edges, iterations=3)


def q_docs_bigram_logprob(spark, sf_dir):
    """Stupid-Backoff bigram LM scoring (operators/pipeline.py::
    bigram_backoff_logprob): per doc, the mean transition log-prob under
    the corpus's own bigram LM, backing off to alpha * unigram for
    bigrams attested < 2 times -- the sharper perplexity-style quality
    filter (word-salad of common words scores low on TRANSITIONS).
    Bigrams form in-row (zip_with); the LM is two partial-aggregated
    groupBys; scoring is broadcast joins back -- the IDF shape."""
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    return pl.bigram_backoff_logprob(_tok(spark, sf_dir))


def q_docs_weighted_sample(spark, sf_dir):
    """Quality-weighted deterministic sampling (operators/pipeline.py::
    weighted_priority_sample): per language, the 40 docs winning the
    priority draw key = hash(id)/weight with weight = doc length --
    longer docs more likely kept, selection reproducible across
    engines/partitionings/reruns, and the per-group cut is grouped_topk's
    two-phase prune (never a full per-language sort)."""
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    d = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    return pl.weighted_priority_sample(
        d, "n_chars", k=40, group=["lang"]
    ).select("doc_id", "lang", "n_chars", "priority", "rank")


def q_merge_upsert_events(spark, sf_dir):
    """MERGE INTO (lakehouse upsert): the per-user latest-event snapshot
    of the first half of the month merged with the second half's
    changeset -- updates replace, new users insert, untouched rows keep.
    Copy-on-write decomposition with changeset-only broadcasts; see
    operators/relational.py::merge_upsert."""
    ev = _events(spark, sf_dir)
    cut = F.to_timestamp(F.lit("2024-01-16"))
    order = [F.col("ts").desc(), F.col("event_id").desc()]
    cols = ["user_id", "event_id", "ts", "event_type", "value"]
    base = rel.keep_latest(ev.where(F.col("ts") < cut), ["user_id"], order).select(
        *cols
    )
    delta = rel.keep_latest(
        ev.where(F.col("ts") >= cut), ["user_id"], order
    ).select(*cols)
    return rel.merge_upsert(base, delta, ["user_id"])


def q_events_gapfill(spark, sf_dir):
    """Time-series densification: one row per (user, hour) over each
    user's active span, empty hours explicit with zero counts -- the
    regular-grid input rolling stats and forecasting need. Aggregate
    first (the only pass over the raw events), then explode a
    sequence() per user map-side; see operators/timeseries.py."""
    from sparkbigdatatextanalysis_spark.operators import timeseries as tso

    ev = _events(spark, sf_dir)
    out = tso.gap_fill(
        ev,
        key="user_id",
        ts="ts",
        bucket="1 hour",
        aggs={
            "n_events": F.count(F.lit(1)),
            "sum_value": F.round(
                F.sum(F.col("value").cast("decimal(28,10)")), 6
            ).cast("double"),
        },
        fill={"n_events": 0, "sum_value": 0.0},
    )
    return out.select(
        "user_id",
        F.date_format("bucket", "yyyy-MM-dd HH").alias("hour"),
        "n_events",
        "sum_value",
    )


def q_orders_corr(spark, sf_dir):
    """Per-segment Pearson correlation between order price and the
    customer's account balance, from five DECIMAL moment sums (not
    corr(): double summation is order-dependent across partitionings/
    engines; decimal moments are bit-stable). One fact pass, partial
    aggs; see operators/stats.py::grouped_pearson."""
    from sparkbigdatatextanalysis_spark.operators import stats as st

    o = _scan(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _scan(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_totalprice").alias("x"),
        F.col("c_acctbal").alias("y"),
    )
    r = st.grouped_pearson(j, "x", "y", ["segment"])
    return r.select("segment", "n", F.round("pearson_r", 9).alias("pearson_r"))


def q_embedding_centroids(spark, sf_dir):
    """Per-label per-dimension mean embedding (the aggregation side of
    vector work: IVF coarse centroids / per-class probes). posexplode +
    DECIMAL partial sums -- 100 TB of vectors collapses to |labels| x dim
    rows at the combiner; see operators/vectors.py::group_centroids."""
    from sparkbigdatatextanalysis_spark.operators import vectors as vec

    emb = _scan(spark, sf_dir, "embeddings")
    return vec.group_centroids(emb, group="label", vec="embedding")


def q_heavy_hitter_users(spark, sf_dir):
    """Join-key skew diagnostics: users with event counts above 1.2x the
    mean key load, with their global share -- the measurement that
    decides salting (operators/skew.py) before a big join. One partial-
    agg count per key + a broadcast single-row total. factor=1.2 (not
    the operator's 2.0 default) because the synthetic event fixture is
    near-uniform: 1.5 hashed 0 rows at every gate scale (r03/r05/r08),
    making the gate vacuous; 1.2 yields real rows at sf0.001/0.01/0.1
    so the driver actually value-checks the non-empty path."""
    from sparkbigdatatextanalysis_spark.operators import stats as st

    return st.heavy_hitters(_events(spark, sf_dir), "user_id", factor=1.2)


def q_text_normalize(spark, sf_dir):
    """Text normalization pass: lowercase + whitespace collapse + trim,
    with the per-doc character saving -- the cheap cleanup step ahead of
    tokenization/dedup in a corpus pipeline. Pure narrow projection,
    scan-speed at any scale."""
    d = _docs(spark, sf_dir)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        (F.length("text") - F.length(norm)).alias("n_chars_saved"),
    )


def q_orders_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS ((status, priority), (status), ()) -- the
    general form of sales_cube's CUBE: only the requested subtotal
    levels are produced, so the shuffle carries 3 set-expansions per
    input row instead of CUBE's 4. Same map-side Expand + partial-agg
    shape; DECIMAL money sums as everywhere."""
    o = _scan(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_priority"),
        F.count("*").alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 4)
        .cast("double")
        .alias("sum_price"),
    )


def q_events_interarrival(spark, sf_dir):
    """Inter-arrival-time distribution: per-user lag() gap between
    consecutive events, bucketed to whole minutes and counted -- the
    diagnostic behind sessionization gap thresholds. One shuffle on the
    high-cardinality user key for the lag window, then a partial-agg
    histogram; the bucket is exact integer microsecond arithmetic, no
    float drift."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts")), F.col("event_id")
    )
    gap_us = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    return (
        ev.select(gap_us.alias("gap_us"))
        .where(F.col("gap_us").isNotNull())
        .select((F.floor(F.col("gap_us") / 60_000_000)).alias("gap_minutes"))
        .groupBy("gap_minutes")
        .agg(F.count(F.lit(1)).alias("n_gaps"))
    )


def q_orders_status_breakdown(spark, sf_dir):
    """Conditional aggregation (SQL FILTER clause): per priority, one
    row with per-status counts and the open-order revenue share -- the
    complement of user_type_pivot's pivot (fixed conditions, no value
    list). Single partial-agg pass; conditions evaluate map-side."""
    o = _scan(spark, sf_dir, "orders")

    def cnt(status):
        return F.count(F.when(F.col("o_orderstatus") == status, 1))

    dec = F.col("o_totalprice").cast("decimal(18,6)")
    return o.groupBy("o_orderpriority").agg(
        cnt("O").alias("n_open"),
        cnt("F").alias("n_filled"),
        cnt("P").alias("n_pending"),
        F.round(
            F.sum(F.when(F.col("o_orderstatus") == "O", dec)).cast("double")
            / F.sum(dec).cast("double"),
            9,
        ).alias("open_price_share"),
    )


def q_docs_pii_scrub(spark, sf_dir):
    """PII scrubbing pass: redact email-like tokens and long digit runs
    (ids, phone numbers) before a corpus ships to training. Map-only
    regexp_replace at scan speed; the redaction count comes from
    regexp_extract_all so both engines count identically. The synthetic
    corpus is clean word-soup, so counts are zero here -- the operator's
    behavior on dirty text is locked in by tests/test_stats_timeseries.py."""
    return ts.pii_scrub(_docs(spark, sf_dir))


def q_events_anomaly(spark, sf_dir):
    """Batch twin of the streaming anomaly monitor
    (streaming/monitor.py::anomaly_scan): each event scored against the
    Welford running mean/std of its user's STRICTLY PRIOR values, flagged
    when |z| > 3 once >= 5 prior observations exist. One shuffle on the
    high-cardinality user key; the per-key scan is Arrow-batched
    applyInPandas (inherently sequential per key -- the key is the
    parallelism unit, state is 3 numbers). The oracle recomputes the same
    prior-frame stats as a SQL window (ROWS UNBOUNDED PRECEDING..1
    PRECEDING), proving the online Welford recurrence equals the textbook
    two-pass definition. zscore rounded 6 on both sides (the two
    algorithms differ in low-order float bits)."""
    from sparkbigdatatextanalysis_spark.streaming.monitor import anomaly_scan

    ev = _events(spark, sf_dir).where(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    out = anomaly_scan(ev, threshold=3.0, min_n=5)
    return out.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "value",
        F.round("zscore", 6).alias("zscore"),
        "n_prior",
    )


def q_events_anomaly_sql(spark, sf_dir):
    """The JVM window-function twin of q_events_anomaly
    (streaming/monitor.py::anomaly_scan_sql): identical strictly-prior
    z-score semantics, but expressed as (UNBOUNDED PRECEDING..1
    PRECEDING) frame aggregates -- one shuffle on user_id, whole-stage
    codegen, no Python workers. THIS is the plan to run for a 100 TB
    batch backfill; the Arrow `events_anomaly` twin exists because the
    streaming operator must carry O(1) state per key, and keeping both
    driver-gated pins the two algorithms (online Welford vs two-pass
    frame stats) equal on real data, not just in pytest."""
    from sparkbigdatatextanalysis_spark.streaming.monitor import anomaly_scan_sql

    ev = _events(spark, sf_dir).where(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    out = anomaly_scan_sql(ev, threshold=3.0, min_n=5)
    return out.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "value",
        F.round("zscore", 6).alias("zscore"),
        "n_prior",
    )


def q_scd2_history(spark, sf_dir):
    """SCD Type-2 dimension build (operators/relational.py::scd2_history)
    over the events change stream: user_id's event_type as the tracked
    attribute, consecutive re-statements collapsed, validity intervals
    from change-row ts to the next change's ts (NULL = current). One
    shuffle on user_id shared by both windows. Timestamps ship as
    epoch-microseconds (driver hash convention). NULL-ts rows are
    excluded on BOTH sides: the engines disagree on default NULL
    ordering (Spark NULLS FIRST vs DuckDB NULLS LAST), which would
    desynchronize the change-detection windows."""
    ev = (
        _events(spark, sf_dir)
        .where(F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id", "event_type")
    )
    hist = rel.scd2_history(
        ev, key="user_id", ts="ts", attrs=["event_type"], tiebreaker="event_id"
    )
    return hist.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("valid_from")).alias("valid_from_us"),
        F.unix_micros(F.col("valid_to")).alias("valid_to_us"),
        F.col("is_current").cast("long").alias("is_current"),
    )


def q_winsorize_values(spark, sf_dir):
    """Per-type winsorization (operators/stats.py::winsorize) of event
    values at the [p05, p95] group quantiles -- the robust-normalization
    pass that stops heavy tails from dominating training statistics.
    One exact-percentile agg per group + a broadcast bounds join; the
    clipping itself is map-only. Clamped values rounded 6 on both sides
    (linear-interpolated quantiles differ in last bits across engines);
    unclipped values pass through exact."""
    from sparkbigdatatextanalysis_spark.operators.stats import winsorize

    ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
    out = winsorize(ev, value="value", group=["event_type"], lower=0.05, upper=0.95)
    return out.select(
        "event_id",
        "event_type",
        "value",
        F.round("value_wins", 6).alias("value_wins"),
        F.col("was_clipped").cast("long").alias("was_clipped"),
    )


MIXTURE_WEIGHTS = {"web": 0.5, "code": 0.25, "papers": 0.25}
# 0.5/0.25/0.25: exactly representable doubles summing to exactly 1.0,
# so the normalized weights (w/total) are bit-identical in both engines.


def _doc_domains(spark, sf_dir):
    """documents + a synthetic domain label (the corpus tables carry no
    source column): doc_id % 3 -> web/code/papers."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, "web")
        .when(F.col("doc_id") % 3 == 1, "code")
        .otherwise("papers")
        .alias("domain"),
    )


def q_docs_mixture_sample(spark, sf_dir):
    """Domain-mixture sampling (operators/pipeline.py::mixture_sample):
    output composition pinned to the 0.5/0.25/0.25 recipe, rate set by
    the scarcest domain, keep decision a deterministic salted md5 hash
    of doc_id -- one count shuffle, the sample itself map-only. mix_rate
    ships unrounded: it is pure scalar arithmetic ((w*nout)*scale/n) on
    identical inputs, bit-identical across engines."""
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    out = pl.mixture_sample(
        _doc_domains(spark, sf_dir), "domain", MIXTURE_WEIGHTS, scale=1.0
    )
    return out.select("doc_id", "domain", "mix_rate")


def q_docs_shuffle_shards(spark, sf_dir):
    """Deterministic global training-order shuffle
    (operators/pipeline.py::shuffle_shards): md5-derived 31-bit key,
    shard = key % 32, dense per-shard position. One shuffle (the
    per-shard rank window); reproducible across engines/partitionings,
    which is exactly what the oracle verifies."""
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    out = pl.shuffle_shards(
        _docs(spark, sf_dir).select("doc_id"), id_col="doc_id", n_shards=32
    )
    return out.select(
        "doc_id",
        "shuffle_key",
        F.col("shard").cast("long").alias("shard"),
        F.col("pos").cast("long").alias("pos"),
    )


def q_events_value_bins(spark, sf_dir):
    """Equi-depth binning (operators/stats.py::equi_depth_bins) of event
    values into per-type deciles: one exact-percentile agg + broadcast
    cuts join + map-only fold. Bin assignment is robust to last-ulp
    interpolation differences between engines: any cut variant stays
    strictly between the two neighboring data values, so `value >= cut`
    classifies identically (NULL values -> NULL bin on both sides)."""
    from sparkbigdatatextanalysis_spark.operators.stats import equi_depth_bins

    ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
    out = equi_depth_bins(ev, value="value", n_bins=10, group=["event_type"])
    return out.select(
        "event_id",
        "event_type",
        "value",
        F.col("value_bin").cast("long").alias("value_bin"),
    )


def q_docs_curation_rules(spark, sf_dir):
    """Gopher/C4-style rule-based curation filter
    (operators/textstats.py::curation_rules): six independent audit
    booleans + their conjunction, all map-only expressions over one
    tokenization -- scan-speed, no shuffle. Booleans ship as BIGINT
    (driver hash convention)."""
    out = ts.curation_rules(_docs(spark, sf_dir, wide=True))
    rule_cols = [
        "r_n_tokens", "r_mean_word_len", "r_symbol_ratio",
        "r_bullet_ratio", "r_alpha_ratio", "r_stopword_hits",
    ]
    return out.select(
        "doc_id",
        *[F.col(c).cast("long").alias(c) for c in rule_cols],
        F.col("keep").cast("long").alias("keep"),
    )


def q_dedup_best_rep(spark, sf_dir):
    """Quality-aware near-dup survivor selection
    (operators/dedup.py::cluster_representatives): MinHash-LSH clusters
    (same chain as dedup_near_clusters) re-canonicalized to the
    HIGHEST-quality member per cluster (textstats.text_quality), ties to
    the smaller id -- the production dedup policy of keeping the clean
    original over its mangled copies. One in-row argmax groupBy + one
    representative join over the shared cluster pipeline point; the
    oracle nests the cluster and quality oracles and recomputes the
    argmax as a rank window."""
    # reuse the declared quality query (the curation_pipeline pattern)
    # so the two spellings of the stage cannot drift
    quality = q_text_quality(spark, sf_dir).select("doc_id", "quality_score")
    return dd.cluster_representatives(_dedup_clusters(spark, sf_dir), quality)


BM25_QUERY = ["hash", "join", "dup"]  # two common terms + one rare (idf contrast)


def q_docs_bm25_topk(spark, sf_dir):
    """BM25 keyword retrieval (operators/retrieval.py::bm25_topk):
    top-20 documents for a fixed 3-term query over the stopword-filtered
    tokens. Scored rows are pruned to query-term matches before any
    aggregation; the cut is TakeOrdered on the round-6 score (ln and
    summation differ in low-order bits across engines; ranking the
    rounded value keeps the cut identical) with doc_id tie-break."""
    from sparkbigdatatextanalysis_spark.operators import retrieval as rt

    out = rt.bm25_topk(_tok(spark, sf_dir), BM25_QUERY, k=20)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_matched",
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


# Batch retrieval workload: three queries sharing terms with the
# single-query gate (one common-common-rare, one common-only, one with
# a deliberate duplicate term to pin per-query dedup), so the batch
# oracle cross-checks the same corpus statistics from a second shape.
BM25_BATCH_QUERIES = [
    ("q0", "hash"), ("q0", "join"), ("q0", "dup"),
    ("q1", "data"), ("q1", "spark"),
    ("q2", "merge"), ("q2", "stream"), ("q2", "dup"), ("q2", "merge"),
]


def q_docs_bm25_batch(spark, sf_dir):
    """Batch BM25 retrieval (operators/retrieval.py::bm25_batch_topk):
    top-20 per query for a 3-query batch in ONE job -- the corpus
    explodes once, pruned to the union of all query terms, and the
    per-query fan-out happens only after the (doc, term) tf aggregation
    via a broadcast join, so N queries cost the same corpus pass as 1
    (the r4 verdict's batch generalization). The per-query cut is
    grouped_topk (two-phase TakeOrdered), not a bare per-query window."""
    from sparkbigdatatextanalysis_spark.operators import retrieval as rt

    qdf = spark.createDataFrame(BM25_BATCH_QUERIES, "query_id STRING, term STRING")
    out = rt.bm25_batch_topk(_tok(spark, sf_dir), qdf, k=20)
    return out.select(
        "query_id",
        F.col("id").alias("doc_id"),
        "n_matched",
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


CHUNK_SIZE, CHUNK_STRIDE = 32, 24  # overlapping windows exercise the stride math


def q_docs_chunk_windows(spark, sf_dir):
    """Context-window chunking (operators/pipeline.py::chunk_tokens):
    split each doc's token array into 32-token windows advancing by 24
    (overlap 8), final short tail emitted -- map-only, in-row
    (sequence-of-starts + slice), zero shuffles. Chunks ship as the
    space-joined text (tokens contain no whitespace by construction, so
    the join is unambiguous and the driver hash covers every token)."""
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    out = pl.chunk_tokens(_tok(spark, sf_dir), size=CHUNK_SIZE, stride=CHUNK_STRIDE)
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.concat_ws(" ", "chunk").alias("chunk_text"),
        F.col("n_chunk_tokens").cast("long").alias("n_chunk_tokens"),
    )


def q_embeddings_quantized(spark, sf_dir):
    """Int8 quantization round-trip surface
    (operators/vectors.py::quantize_embeddings): per-vector symmetric
    max-abs scaling, map-only, no corpus pass. Output exploded to
    (vec_id, scale, pos, q) so the driver hash pins every int8
    component AND the double scale bit-identically (max over widened
    floats is exact; scale is one correctly-rounded division; q is one
    mul + one div + round-half-away-from-zero in both engines)."""
    from sparkbigdatatextanalysis_spark.operators import vectors as vec

    emb = _scan(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = vec.quantize_embeddings(emb)
    return out.select(
        "vec_id",
        "scale",
        F.posexplode("qvec").alias("pos", "q"),
    ).select(
        "vec_id",
        "scale",
        F.col("pos").cast("long").alias("pos"),
        F.col("q").cast("long").alias("q"),
    )


DOMAIN_CAP = 10  # of 25 docs/source at sf0.01 -- selective but non-empty


def q_docs_domain_caps(spark, sf_dir):
    """Per-domain cap (operators/pipeline.py::cap_per_domain): keep at
    most 10 docs per source, chosen by salted-hash order with id
    tie-break -- deterministic across engines/partitionings/reruns. The
    cut is grouped_topk's two-phase TakeOrdered (domains are the
    low-cardinality skew case); the oracle recomputes it as the plain
    rank window, which the two-phase prune provably equals."""
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    out = pl.cap_per_domain(_docs(spark, sf_dir), cap=DOMAIN_CAP)
    return out.select(
        "doc_id", "source", F.col("domain_rank").cast("long").alias("domain_rank")
    )


def q_dedup_semantic(spark, sf_dir):
    """SemDeDup-style semantic dedup (operators/dedup.py::
    semantic_dedup): k-means clusters (the shared ivf_cents pipeline
    point, same centroids as ann_topk_ivf), within-cluster cosine
    pairs >= the near-dup threshold, min-id survivor. The oracle
    replays the deterministic k-means CTEs and the same pair predicate
    (the dot fold is bit-identical across engines, so the unrounded
    threshold comparison cannot flip)."""
    emb = _emb(spark, sf_dir)
    cents = _cached(
        spark, sf_dir, "ivf_cents", lambda: ann_ops.kmeans_centroids(emb)
    )
    out = dd.semantic_dedup(emb, threshold=EMBED_NEAR_DUP_THRESHOLD, cents=cents)
    return out.select("vec_id", "cluster", "keep")


def q_docs_substring_dedup(spark, sf_dir):
    """Exact-substring (ExactSubstr-family) dedup
    (operators/dedup.py::duplicate_spans): winnowing-selected k-gram
    fingerprints (width 25, window 15 -- any repeat >= 39 chars is
    guaranteed caught at every occurrence), corpus-duplicated
    fingerprints merged into maximal per-doc spans. Hashing + selection
    are in-row; only selected fingerprints shuffle; span merge is an
    in-row fold after one groupBy(doc). The oracle replays the same
    winnowing in DuckDB (list_transform/list_reduce) and merges spans
    with the classic gaps-and-islands window instead of the fold --
    independent formulations, identical semantics.

    The fingerprint barrier is the operator's lazy localCheckpoint:
    the winnowing evaluates once per run, no cached table survives the
    call, and bench repeats time the pipeline rather than a cache
    read."""
    return dd.duplicate_spans(_docs(spark, sf_dir, wide=True))


def q_docs_substring_clean(spark, sf_dir):
    """The user-facing half of ExactSubstr dedup
    (operators/dedup.py::remove_duplicate_spans): subtract the
    duplicate_spans output from every document -- (doc_id, text_clean,
    n_removed_chars) with each span cut out and the remainder
    concatenated in order; docs with no spans (including sub-guarantee
    short docs) pass through unchanged. The subtraction is ONE in-row
    fold walking the text left to right; the only shuffles beyond span
    detection are the span groupBy and the (id) equi-join back onto the
    corpus. The oracle rebuilds the same spans, then re-derives the
    KEPT segments as the complement (lag-window gaps + head/tail) and
    string_agg's them in order -- an independent formulation of the
    same subtraction. Span detection is docs_substring_dedup's (same
    lazy fingerprint checkpoint, no cached table left behind)."""
    spans = dd.duplicate_spans(_docs(spark, sf_dir, wide=True))
    return dd.remove_duplicate_spans(_docs(spark, sf_dir), spans)


# Deterministic two-batch split for the incremental (daily-ingest)
# contract keys: history = even doc_ids, batch = odd -- replayable in
# plain SQL, and the SAME split bench.py's incremental_dedup_batch /
# incremental_spans_batch entries time (there with the history tables
# prebuilt + persisted; here built inline so the whole contract is
# driver-gated end to end).


def q_incremental_dedup_flags(spark, sf_dir):
    """Daily-batch dedup vs accumulated history
    (operators/dedup.py::incremental_dedup), driver-gated end to end:
    history = the even-doc_id half (content-hash set + MinHash LSH band
    table), batch = the odd half; result = the batch's four audit flags
    plus keep. The oracle replays union-then-restrict -- exact flags
    from sha256 equality against the history half / lower-id batch
    docs, near flags from the same minhash band-key CTEs as
    dedup_minhash_lsh split into history and lower-id-batch collisions
    -- the incremental-equals-batch-over-union equivalence the pytest
    contract pins, here checked value-for-value by the driver.
    persist_bands=False: zero cache residue + honest bench repeats (the
    production shape persists and releases; bench.py's
    incremental_dedup_batch times exactly that)."""
    d = _docs(spark, sf_dir, wide=True)
    hist = d.where(F.col("doc_id") % 2 == 0)
    batch = d.where(F.col("doc_id") % 2 == 1)
    # the history hash SET directly -- exact_dedup's min-id window
    # computes a keep flag this set never reads (review finding)
    hh = hist.select(F.sha2(F.col("text"), 256).alias("content_hash")).distinct()
    hb = dd.lsh_band_keys_flat(
        dd.minhash_signatures_flat(dd.shingle_hashes(hist))
    ).select("band", "key")
    res = dd.incremental_dedup(batch, hh, hb, persist_bands=False)
    return res.result.select(
        "doc_id",
        "content_hash",
        "exact_dup_history",
        "exact_dup_batch",
        "near_dup_history",
        "near_dup_batch",
        "keep",
    )


def q_incremental_spans_batch(spark, sf_dir):
    """Daily-batch substring dedup vs accumulated fingerprint-count
    history (operators/dedup.py::incremental_duplicate_spans),
    driver-gated: history = winnowing fingerprint counts of the even
    half, batch = the odd half. A batch fingerprint is duplicated when
    history count + batch count >= 2 -- which over this split equals
    the FULL-corpus count, so the oracle replays the whole-corpus
    winnowing span pipeline (the docs_substring_dedup CTEs) restricted
    to odd doc_ids: the union-then-restrict equivalence the pytest
    contract pins, checked value-for-value. The batch fingerprints sit
    behind the operator's lazy localCheckpoint, so no cached table
    survives the call (bench.py's incremental_spans_prebuilt times the
    same kernel over a prebuilt history)."""
    d = _docs(spark, sf_dir, wide=True)
    hist = d.where(F.col("doc_id") % 2 == 0)
    batch = d.where(F.col("doc_id") % 2 == 1)
    hc = (
        dd.winnow_fingerprints(hist)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return dd.incremental_duplicate_spans(batch, hc).spans


def q_docs_bloom_decontaminate(spark, sf_dir):
    """Bloom-filter decontamination (operators/pipeline.py::
    bloom_bits + bloom_contamination) -- the broadcast-constant twin of
    train_test_ngram_overlap with the direction production uses: the
    bitmap is built over the PROTECTED test split (buckets >= 90, same
    deterministic split), collected as bounded model state (2048 longs)
    and embedded as a plan literal; the 100 TB TRAIN side (buckets
    < 80) is probed IN-ROW -- no join, the only exchange is the per-doc
    counting agg. contaminated is a provable SUPERSET of the exact
    answer (Bloom FPs only; pinned vs contamination_overlap in
    tests/test_pipeline_ops.py). The oracle replays the same affine
    bit positions and bit_or words in DuckDB."""
    from sparkbigdatatextanalysis_spark.functions.hashing import string_hash31
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    sh = dd.shingle_hashes(_docs(spark, sf_dir, wide=True)).select("id", "sh").distinct()
    bucket = string_hash31(F.col("id").cast("string")) % 100
    bits = pl.bloom_bits(sh.where(bucket >= 90))
    return pl.bloom_contamination(sh.where(bucket < 80), bits)


def q_embeddings_decontaminate(spark, sf_dir):
    """Embedding-space (paraphrase) decontamination
    (operators/pipeline.py::embedding_decontamination) -- the semantic
    member of the contamination family: exact n-grams (X49) and Bloom
    n-grams (X113) catch verbatim leaks only; this one probes each
    TRAIN vector (buckets < 80, same deterministic hash split) against
    the same-cluster PROTECTED vectors (buckets >= 90) and emits
    (cluster, n_probe_hits, max_cos, contaminated). Centroids = the
    SHARED pinned ivf_cents model state, so a fourth key now pins the
    same k-means; the oracle replays the assignment CTEs and the
    cluster-probe join with the bit-identical dot fold (threshold
    comparisons unrounded, max_cos rounded on both sides)."""
    from sparkbigdatatextanalysis_spark.functions.hashing import string_hash31
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    emb = _emb(spark, sf_dir)
    cents = _cached(
        spark, sf_dir, "ivf_cents", lambda: ann_ops.kmeans_centroids(emb)
    )
    bucket = string_hash31(F.col("vec_id").cast("string")) % 100
    out = pl.embedding_decontamination(
        emb.where(bucket < 80),
        emb.where(bucket >= 90),
        EMBED_NEAR_DUP_THRESHOLD,
        cents,
    )
    return out.select(
        "vec_id",
        "cluster",
        "n_probe_hits",
        F.round("max_cos", 6).alias("max_cos"),
        "contaminated",
    )


def q_tokens_cms_estimates(spark, sf_dir):
    """Count-min-sketch token frequencies (operators/stats.py::
    cms_build + cms_estimate) -- the counting member of the sketch
    family: (token, n_occ, cms_est) for every distinct corpus token.
    The sketch (depth 3 x width 2048) is collected as bounded model
    state and embedded as plan literals; the estimate is a join-free
    per-row min of three counter reads (at 100 TB this replaces a
    ~1e8-row vocabulary broadcast inside filter/scoring stages).
    Overestimate-only by construction; the oracle replays the
    identical affine cells and counter sums, so the estimate is
    hash-pinned exactly, not just bounded."""
    from sparkbigdatatextanalysis_spark.operators import stats as st

    counts = (
        _tok(spark, sf_dir)
        .select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    table = st.cms_build(counts)
    return st.cms_estimate(counts, table).select("token", "n_occ", "cms_est")


TOKEN_BUDGET = 8192  # ~half the sf0.01 corpus; any value is deterministic


def q_docs_token_budget(spark, sf_dir):
    """Token-budget downsampling (operators/pipeline.py::
    sample_to_token_budget): keep a deterministic hash-ordered prefix of
    each of 32 shards until the shard's share of the budget fills -- the
    "train on N of these M tokens" corpus-construction step. Same
    sharded-running-sum shape as docs_pack_sequences but ordered by the
    salted hash (decorrelated from ingest order), so the oracle verifies
    the hash ordering and the greedy boundary admission as well."""
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    d = _docs(spark, sf_dir).select(
        "doc_id", F.size(text_fns.tokenize("text")).alias("n_tokens")
    )
    out = pl.sample_to_token_budget(d, budget=TOKEN_BUDGET, n_shards=32)
    return out.select("doc_id", "n_tokens", "shard", "cum_before")


def q_docs_line_dedup(spark, sf_dir):
    """Line-level (CCNet-style) dedup (operators/pipeline.py::
    dedup_lines): corpus-wide counted lines, boilerplate (count > 1)
    removed, blank lines kept, docs rebuilt in order. The synthetic
    word-soup corpus has single-line docs, so the operator degenerates
    to exact-doc-text dedup here -- the multi-line/blank/within-doc
    semantics are pinned by tests/test_pipeline_ops.py; the oracle
    still verifies the full count-join-reassemble chain on real data."""
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    return pl.dedup_lines(_docs(spark, sf_dir))


def q_docs_hashed_embeddings(spark, sf_dir):
    """Model-free hashed document embeddings
    (operators/vectors.py::hashed_doc_components): signed feature
    hashing of the stopword-filtered tokens into 64 dims, L2-normalized.
    Output exploded to (doc_id, pos, component) so the driver hashes
    every coordinate. Components are bit-identical across engines: the
    pre-norm vector is integer-valued (sums of +-1), the squared-norm
    sum is exact integer arithmetic, and x/sqrt(s) is one correctly-
    rounded division."""
    from sparkbigdatatextanalysis_spark.operators import vectors as vec

    # r11 optimization: the exploded relational form -- the array
    # assembly's interpreted map probes dominated this key (15.2s ->
    # ~1s at sf0.1); components bit-identical (integer-exact pre-norm
    # values, one correctly-rounded division).
    out = vec.hashed_doc_components(_tok(spark, sf_dir), dim=64)
    return out.select(
        F.col("id").alias("doc_id"), F.col("pos").cast("long").alias("pos"),
        "component",
    )


def q_docs_prefix_blocking(spark, sf_dir):
    """Prefix blocking (operators/dedup.py::prefix_blocking_pairs) --
    the third classic entity-resolution candidate generator beside
    token blocking and LSH: docs whose NORMALIZED text (lowercased,
    every non-letter/digit stripped via Unicode \\p{L}/\\p{N} classes)
    shares its first 12 characters pair up through one bucket
    equi-join; each doc carries exactly one block key so the join
    emits each pair once, no distinct pass. The oracle replays the
    normalization with RE2's identical Unicode classes and the same
    a < b self-join."""
    out = dd.prefix_blocking_pairs(_docs(spark, sf_dir), prefix_len=12)
    return out.select("a_id", "b_id", "block_key")


def q_events_zorder_key(spark, sf_dir):
    """Z-order (Morton) clustering key (operators/layout.py::
    zorder_key) over (user_id, value) at 16 bits per dimension -- the
    multi-dimensional layout key Delta OPTIMIZE ZORDER / Iceberg sort
    orders cluster files by. One broadcast single-row min/max agg, then
    the grid normalization + 32-term bit interleave run MAP-ONLY in
    whole-stage codegen. The output is integer-exact (the only floats
    live inside floor(), computed identically by both engines on
    identical doubles), so the oracle replays the normalization and
    the interleave with DuckDB integer shifts bit for bit -- the
    layout family's first value-hashed driver row."""
    from sparkbigdatatextanalysis_spark.operators import layout

    ev = _events(spark, sf_dir).select("event_id", "user_id", "value")
    out = layout.zorder_key(ev, ["user_id", "value"], bits=16)
    return out.select("event_id", "zkey")


def q_orders_profile_drift(spark, sf_dir):
    """Snapshot-over-snapshot drift report (operators/profile.py::
    profile_drift) between the profiles of the even- and odd-orderkey
    halves of orders -- the ingest-gate check a daily pipeline runs
    before a new snapshot joins the corpus. Each profile is ONE wide
    aggregation (profile_table); the drift join is a full-outer join of
    two per-column tables, effectively free at any scale. Ratios are
    rounded to 6 dp on both sides; the alert booleans compare UNROUNDED
    doubles that are bit-identical across engines (pure scalar
    arithmetic on exact counts)."""
    from sparkbigdatatextanalysis_spark.operators import profile as pf

    o = _scan(spark, sf_dir, "orders", wide=True)
    num = ["o_orderkey", "o_custkey", "o_totalprice"]
    st = ["o_orderstatus", "o_orderpriority"]
    tsc = ["o_orderdate"]
    old = pf.profile_table(o.where(F.col("o_orderkey") % 2 == 0), num, st, tsc)
    new = pf.profile_table(o.where(F.col("o_orderkey") % 2 == 1), num, st, tsc)
    return pf.profile_drift(old, new)


def q_skew_join_auto(spark, sf_dir):
    """Hybrid auto-salted join (operators/skew.py::salted_join_auto):
    measure first (one heavy-hitters partial agg on the probe side),
    salt ONLY the hot keys -- cold rows take the plain equi-join, hot
    rows the salted one with build replication restricted to the hot
    slice. Results are identical to a plain inner join, so the oracle
    is the plain join (the salt is invisible in the result) --
    upgrading the r6-era property test to a value-hashed driver row."""
    from sparkbigdatatextanalysis_spark.operators import skew

    ev = _events(spark, sf_dir).select("event_id", "user_id", "value")
    cust = _scan(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    out = skew.salted_join_auto(
        ev, cust, "user_id", "c_custkey", n_salts=8, salt_from="event_id"
    )
    return out.select("event_id", "user_id", "c_mktsegment", "value")


def q_incremental_semantic_flags(spark, sf_dir):
    """Daily-batch semantic dedup vs accumulated representative state
    (operators/dedup.py::incremental_semantic_dedup), driver-gated end
    to end like its hash (X111) and fingerprint (X112) siblings:
    history = the even-vec_id half's assignments (the all-reps state
    configuration -- every history vector kept as a representative, so
    the oracle replay needs no history keep pass), batch = the odd
    half; centroids = the SHARED pinned ivf_cents model state (same
    literals as ann_topk_ivf / dedup_semantic, so three keys pin the
    same k-means). The oracle replays the deterministic k-means CTEs,
    the round-9 argmax assignment, and both probes (same-cluster
    history match / smaller-id batch match) with the bit-identical dot
    fold. Nothing is materialized, so no cached table survives the call
    (bench.py's incremental_semantic_batch times the same kernel over
    a prebuilt history)."""
    emb = _emb(spark, sf_dir)
    cents = _cached(
        spark, sf_dir, "ivf_cents", lambda: ann_ops.kmeans_centroids(emb)
    )
    hist = emb.where(F.col("vec_id") % 2 == 0)
    batch = emb.where(F.col("vec_id") % 2 == 1)
    hr = dd.incremental_semantic_dedup(hist, None, EMBED_NEAR_DUP_THRESHOLD, cents)
    res = dd.incremental_semantic_dedup(
        batch, hr.assignments, EMBED_NEAR_DUP_THRESHOLD, cents
    )
    return res.result.select(
        "vec_id", "cluster", "near_dup_history", "near_dup_batch", "keep"
    )


def q_value_percentiles_approx(spark, sf_dir):
    """Mergeable approximate percentiles -- the 100 TB companion of
    value_percentiles, promoted into the oracle-checked surface the way
    approx_distinct_users promoted HLL: exact percentile() needs each
    group fully sorted, while percentile_approx's Greenwald-Khanna
    summaries are bounded-size mergeable partial aggs (map-side
    combine, no per-group sort). The raw estimates are implementation-
    specific, but their ACCURACY is not: GK at accuracy=10000
    guarantees the returned value's rank is within 1e-4 of the target,
    so the query measures each estimate's empirical rank BRACKET in
    one counting pass (the estimates broadcast back -- rows = #event
    types): a tied element's true rank is any point in
    [count(value < est), count(value <= est)], so the flag passes when
    that bracket comes within 0.02 + 1/n of the target (200x the
    deterministic bound, plus the 1/n rank-quantization term). The
    bracket form makes the flag stable even when one value carries
    heavy tie mass in a group (where the max-rank measurement alone
    could exceed the tolerance for a CORRECT summary on regenerated
    data); this is not a probabilistic sketch, so within those
    assumptions the flag does not flake. The oracle pins the booleans
    to 1 alongside the exact group counts; a broken/degraded summary
    still fails the hash."""
    ev = _events(spark, sf_dir)
    est = (
        ev.groupBy("event_type")
        .agg(
            F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("_apx")
        )
        .select(
            "event_type",
            F.col("_apx")[0].alias("_e50"),
            F.col("_apx")[1].alias("_e90"),
            F.col("_apx")[2].alias("_e99"),
        )
    )
    aggs = [F.count(F.lit(1)).alias("n_events")]
    for p in (50, 90, 99):
        aggs.append(
            F.sum((F.col("value") < F.col(f"_e{p}")).cast("long")).alias(
                f"_lo{p}"
            )
        )
        aggs.append(
            F.sum((F.col("value") <= F.col(f"_e{p}")).cast("long")).alias(
                f"_hi{p}"
            )
        )
    ranks = ev.join(F.broadcast(est), "event_type").groupBy("event_type").agg(
        *aggs
    )

    def ok(p, target):
        tol = F.lit(0.02) + 1.0 / F.col("n_events")
        lo = F.col(f"_lo{p}") / F.col("n_events")
        hi = F.col(f"_hi{p}") / F.col("n_events")
        # pass unless the whole bracket sits outside target +/- tol
        return ((hi >= target - tol) & (lo <= target + tol)).cast("long")

    return ranks.select(
        "event_type",
        "n_events",
        ok(50, 0.5).alias("p50_rank_ok"),
        ok(90, 0.9).alias("p90_rank_ok"),
        ok(99, 0.99).alias("p99_rank_ok"),
    )


def q_incremental_lines_batch(spark, sf_dir):
    """Daily-batch line-level dedup vs accumulated line-count history
    (operators/pipeline.py::incremental_dedup_lines), driver-gated end
    to end like its hash (X111), fingerprint (X112) and semantic (X115)
    siblings: history = line_counts of the even-doc_id half, batch =
    the odd half; a batch line is removed when history + batch count
    exceeds max_occurrences -- which over this split equals the
    FULL-corpus count, so the oracle replays the whole-corpus
    docs_line_dedup pipeline restricted to odd doc_ids (the
    union-then-restrict equivalence the pytest contract pins, checked
    value-for-value). Nothing persists: the line explode is one cheap
    map-only split (contrast the winnowing stage, which earns its
    persist)."""
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    d = _docs(spark, sf_dir)
    hist = d.where(F.col("doc_id") % 2 == 0)
    batch = d.where(F.col("doc_id") % 2 == 1)
    return pl.incremental_dedup_lines(batch, pl.line_counts(hist)).result


def q_incremental_ingest_verdict(spark, sf_dir):
    """The composed nightly-ingest key (operators/pipeline.py::
    incremental_ingest_verdict): ONE keep/drop verdict per batch doc
    with per-family audit columns, chaining all four gated incremental
    contracts -- hashes/bands (X111), winnowing spans (X112), raw lines
    (X118) and semantic reps (X115, embeddings keyed by doc id; docs
    past the embedded prefix carry NULL semantic flags and count as
    clean) -- over the same even(history)/odd(batch) split each of them
    gates individually. The oracle nests their four oracle queries as
    derived tables joined on doc_id, the way curation_pipeline nests
    its three. Nothing is left cached (persist_intermediates=False
    keeps the bands unpersisted); bench.py's incremental_ingest_batch
    times the same composition over prebuilt history with the bands
    persisted."""
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    d = _docs(spark, sf_dir, wide=True)
    hist = d.where(F.col("doc_id") % 2 == 0)
    batch = d.where(F.col("doc_id") % 2 == 1)
    hh = hist.select(F.sha2(F.col("text"), 256).alias("content_hash")).distinct()
    hb = dd.lsh_band_keys_flat(
        dd.minhash_signatures_flat(dd.shingle_hashes(hist))
    ).select("band", "key")
    hc = (
        dd.winnow_fingerprints(hist)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hl = pl.line_counts(hist)
    emb = _emb(spark, sf_dir)
    cents = _cached(
        spark, sf_dir, "ivf_cents", lambda: ann_ops.kmeans_centroids(emb)
    )
    hr = dd.incremental_semantic_dedup(
        emb.where(F.col("vec_id") % 2 == 0), None, EMBED_NEAR_DUP_THRESHOLD, cents
    )
    res = pl.incremental_ingest_verdict(
        batch,
        hh,
        hb,
        hc,
        hl,
        emb.where(F.col("vec_id") % 2 == 1),
        hr.assignments,
        cents,
        EMBED_NEAR_DUP_THRESHOLD,
        persist_intermediates=False,
    )
    return res.result


def q_streaming_verdict_day2(spark, sf_dir):
    """FIRST driver-gated STREAMING surface (r9 verdict stretch 7): the
    continuous composed-verdict loop's foreachBatch body
    (streaming/ingest.py::verdict_batch_processor) driven
    deterministically with fixed batch ids -- day-1 state (the exact
    four history tables + semantic reps the batch gate probes) is
    seeded through the module's own stamped-append path as batch 0,
    then the odd half streams through as micro-batch 1 into a fresh
    per-invocation temp state dir, and the day-2 flags read back from
    the flags sink ARE the result. Because the processor probes exactly
    the seeded state and runs the same composed operator, the output is
    byte-equal to the batch key's -- so the ORACLE IS
    incremental_ingest_verdict's, giving the streaming read-state ->
    probe -> append -> read-back path its first cross-engine value
    check (the streamed-day-1 form is pytest-pinned byte-equal
    separately). Eager by construction like ann_topk_ivf (the
    micro-batch runs at query build); everything written lands under a
    throwaway tempdir, so repeated invocations are independent."""
    import tempfile

    from sparkbigdatatextanalysis_spark.operators import pipeline as pl
    from sparkbigdatatextanalysis_spark.streaming.ingest import (
        _append_stamped,
        verdict_batch_processor,
    )

    d = _docs(spark, sf_dir, wide=True)
    hist = d.where(F.col("doc_id") % 2 == 0)
    batch = d.where(F.col("doc_id") % 2 == 1)
    emb = _emb(spark, sf_dir)
    cents = _cached(
        spark, sf_dir, "ivf_cents", lambda: ann_ops.kmeans_centroids(emb)
    )
    hr = dd.incremental_semantic_dedup(
        emb.where(F.col("vec_id") % 2 == 0), None, EMBED_NEAR_DUP_THRESHOLD, cents
    )
    tmp = tempfile.mkdtemp(prefix="spark_verdict_gate_")
    state, flags = f"{tmp}/state", f"{tmp}/flags"
    _append_stamped(
        hist.select(F.sha2(F.col("text"), 256).alias("content_hash")).distinct(),
        f"{state}/hashes",
        0,
    )
    _append_stamped(
        dd.lsh_band_keys_flat(
            dd.minhash_signatures_flat(dd.shingle_hashes(hist))
        ).select("band", "key"),
        f"{state}/bands",
        0,
    )
    for name, delta in (
        (
            "span_counts",
            dd.winnow_fingerprints(hist)
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("cnt")),
        ),
        ("line_counts", pl.line_counts(hist)),
    ):
        (
            delta.withColumn("batch_id", F.lit(0).cast("long"))
            .select("batch_id", *delta.columns)
            .write.mode("append")
            .parquet(f"{state}/{name}")
        )
    _append_stamped(hr.assignments, f"{state}/reps", 0)
    proc = verdict_batch_processor(
        state,
        flags,
        emb_lookup=emb,
        cents=cents,
        sem_threshold=EMBED_NEAR_DUP_THRESHOLD,
    )
    proc(batch, 1)
    return spark.read.parquet(flags).select(
        "doc_id",
        "content_hash",
        "exact_dup_history",
        "exact_dup_batch",
        "near_dup_history",
        "near_dup_batch",
        "n_dup_spans",
        "dup_span_chars",
        "n_lines",
        "n_lines_removed",
        "sem_dup_history",
        "sem_dup_batch",
        "keep",
    )


_SESS_FLUSH_SEQ = [0]


def q_streaming_sessions_flush(spark, sf_dir):
    """SECOND driver-gated streaming surface (r10 verdict item 6,
    applying the X165 pattern to the stateful sessionizer): the real
    events table replays through streaming/sessionize.py::
    sessionize_stream (applyInPandasWithState) as a 3-micro-batch file
    stream -- split at the median timestamp so open-session state must
    survive a batch boundary, then a FLUSH batch of one synthetic
    far-future sentinel event per user (ts = max + gap + 1h) closes
    every remaining open session. The sentinels' own sessions stay
    open in state and are never emitted, so the emitted set is EXACTLY
    the batch sessionizer's output over the non-null-ts events;
    session_idx is recovered afterwards as row_number over
    (user_id, session_start) -- per-user sessions are disjoint in
    time, so the ordinal is the batch one. Oracle = the
    events_sessionize SQL restricted to ts IS NOT NULL, giving the
    applyInPandasWithState state machine (batch-spanning state,
    gap-close, flush-close) its first cross-engine value check.

    Determinism: micro-batch ORDER is pinned by explicit os.utime
    mtimes (the file source orders by modification time); within a
    batch the group fn sorts by (ts, event_id). Eager by construction
    (the stream runs at query build, availableNow); everything lands
    in a throwaway tempdir + a uniquely-named memory sink, so repeat
    invocations are independent."""
    import glob as _glob
    import os as _os
    import tempfile

    from sparkbigdatatextanalysis_spark.streaming import sessionize as sz

    ev = (
        _events(spark, sf_dir)
        .where(F.col("ts").isNotNull())
        .select("event_id", "ts", "user_id", "value")
    )
    stats = ev.agg(
        F.expr("percentile(unix_micros(ts), 0.5)").alias("_med"),
        F.max(F.unix_micros("ts")).alias("_max"),
    ).collect()[0]
    med_us, max_us = int(stats["_med"]), int(stats["_max"])
    flush_us = max_us + (sz.SESSION_GAP_MINUTES + 60) * 60 * 1_000_000
    sentinels = (
        ev.select("user_id")
        .distinct()
        .select(
            F.lit(-1).cast("long").alias("event_id"),
            F.timestamp_micros(F.lit(flush_us)).alias("ts"),
            "user_id",
            F.lit(0.0).alias("value"),
        )
    )
    tmp = tempfile.mkdtemp(prefix="spark_sessions_gate_")
    batches = [
        ("b0", ev.where(F.unix_micros("ts") <= F.lit(med_us))),
        ("b1", ev.where(F.unix_micros("ts") > F.lit(med_us))),
        ("b2", sentinels),
    ]
    for i, (name, df) in enumerate(batches):
        path = f"{tmp}/{name}"
        df.coalesce(1).write.parquet(path)
        # pin micro-batch order: the file source sorts by mtime
        mt = 1_000_000 + 10 * i
        for f in _glob.glob(f"{path}/*"):
            _os.utime(f, (mt, mt))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/b*")
    )
    _SESS_FLUSH_SEQ[0] += 1
    qname = f"sessions_gate_{_SESS_FLUSH_SEQ[0]}"
    q = (
        sz.sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    from pyspark.sql import Window

    idx = Window.partitionBy("user_id").orderBy("session_start")
    return spark.table(qname).select(
        "user_id",
        F.row_number().over(idx).cast("long").alias("session_idx"),
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        "n_events",
        "sum_value",
    )


def q_history_merge_replay(spark, sf_dir):
    """Rerun-idempotent keyed history merge (operators/pipeline.py::
    merge_counts_keyed) -- closes the documented replay caveat of the
    span/line count contracts by construction: history rows remember
    which batch contributed them, and a merge appends the delta via one
    anti-join against the tiny batch manifest, so a crash-replayed
    merge unions zero rows. The key merges the odd half's line counts
    into the even half's state TWICE with the same batch id and emits
    the probe-time group-sum view; the oracle is the full-corpus line
    counts -- if the replay were not a no-op, every odd-half line's
    count would double and the hash would fail."""
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    d = _docs(spark, sf_dir)
    hist0 = (
        pl.line_counts(d.where(F.col("doc_id") % 2 == 0))
        .withColumn("batch_id", F.lit(0).cast("long"))
        .select("batch_id", "line", "cnt")
    )
    delta = pl.line_counts(d.where(F.col("doc_id") % 2 == 1))
    m1 = pl.merge_counts_keyed(hist0, delta, 1)
    m2 = pl.merge_counts_keyed(m1.history, delta, 1, m1.manifest)
    return m2.history.groupBy("line").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )


def q_pair_jaccard_estimates(spark, sf_dir):
    """MinHash accuracy surface over the LSH candidate pairs -- the
    threshold-tuning table a dedup operator reads before picking its
    cut: per candidate pair, the signature-agreement Jaccard ESTIMATE
    (fraction of the k minhash components that agree -- the unbiased
    MinHash estimator) next to the EXACT shingle-set Jaccard. Both are
    deterministic integer-ratio arithmetic, so both hash exactly: this
    pins the estimator itself, not just a bound. The shingle table is
    a cached pipeline point (it feeds the signature build, both sides
    of the intersection join and the set sizes -- four consumers);
    the intersection join runs only on the LSH-bounded candidate set,
    never all pairs."""
    pairs = _mh_pairs(spark, sf_dir)
    sh = _cached(
        spark,
        sf_dir,
        "pair_jaccard_sh",
        lambda: dd.shingle_hashes(_docs(spark, sf_dir, wide=True)),
    )
    sigs = dd.minhash_signatures(sh)
    ea = sigs.select(F.col("id").alias("a_id"), "i", F.col("sig").alias("_sa"))
    eb = sigs.select(F.col("id").alias("b_id"), "i", F.col("sig").alias("_sb"))
    est = (
        pairs.join(ea, "a_id")
        .join(eb, ["b_id", "i"])
        .groupBy("a_id", "b_id")
        .agg(
            (
                F.sum((F.col("_sa") == F.col("_sb")).cast("long"))
                / F.count(F.lit(1))
            ).alias("_est")
        )
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("_n"))
    sa = sh.select(F.col("id").alias("a_id"), "sh")
    sb2 = sh.select(F.col("id").alias("b_id"), "sh")
    inter = (
        pairs.join(sa, "a_id")
        .join(sb2, ["b_id", "sh"])
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    na = sizes.select(F.col("id").alias("a_id"), F.col("_n").alias("_na"))
    nb = sizes.select(F.col("id").alias("b_id"), F.col("_n").alias("_nb"))
    i0 = F.coalesce(F.col("_i"), F.lit(0).cast("long"))
    return (
        est.join(inter, ["a_id", "b_id"], "left")
        .join(na, "a_id")
        .join(nb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round("_est", 6).alias("jaccard_est"),
            F.round(
                i0 / (F.col("_na") + F.col("_nb") - i0), 6
            ).alias("jaccard_exact"),
        )
    )


# ---------------------------------------------------------------------------
# Round-9 extension queries
# ---------------------------------------------------------------------------


def q_events_interval_union(spark, sf_dir):
    """Interval-union coverage (operators/timeseries.py::interval_union):
    per user, the total seconds covered by the union of 5-minute
    activity intervals [ts, ts+300) -- the islands aggregation a plain
    SUM(end-start) double-counts whenever events overlap. Two windows +
    the final agg all share ONE hash exchange on user_id; exact integer
    arithmetic on floor-of-second epochs (date_trunc on the oracle side
    mirrors unix_timestamp's floor), so the hash is bit-exact."""
    from sparkbigdatatextanalysis_spark.operators import timeseries as tsx

    iv = (
        _events(spark, sf_dir)
        .where(F.col("ts").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.unix_timestamp("ts").cast("long").alias("start_s"),
            (F.unix_timestamp("ts").cast("long") + 300).alias("end_s"),
        )
    )
    return tsx.interval_union(iv, "user_id", order_id="event_id")


def q_events_type_transitions(spark, sf_dir):
    """First-order Markov transition matrix (operators/timeseries.py::
    markov_transitions) over per-user event sequences: global
    (prev_type, next_type) adjacency counts + row-normalized
    probabilities -- the sequence-behavior complement of the funnel
    (fixed step order) and the bigram LM (tokens instead of events).
    One user_id exchange for the lag window, one |types|^2 partial agg,
    one broadcast row-total join."""
    from sparkbigdatatextanalysis_spark.operators import timeseries as tsx

    return tsx.markov_transitions(_events(spark, sf_dir))


def q_dedup_kcore(spark, sf_dir):
    """Bounded k-core peeling (operators/components.py::kcore_peel) over
    the jaccard >= 0.05 near-dup graph -- the cohesion filter beside
    triangle counting (dedup_triangle_density): 3 rounds of 'drop nodes
    with < 2 surviving neighbors' leave the 2-core, separating clique
    cores from the stars/chains transitive candidate generation
    produces. Exact integers + fixed round count = the oracle replays
    the same 3 peels as unrolled CTEs, bit-for-bit (the PageRank/CC
    discipline; per-round eager localCheckpoints bound the plan)."""
    from sparkbigdatatextanalysis_spark.operators import components as cc

    pairs = dd.ngram_jaccard_pairs(
        _docs(spark, sf_dir, wide=True), min_jaccard=0.05
    ).select("a_id", "b_id")
    return cc.kcore_peel(pairs, "a_id", "b_id", k=2, rounds=3)


def q_orders_price_trend(spark, sf_dir):
    """Grouped OLS trend (operators/stats.py::grouped_linreg): per order
    priority, the least-squares slope/intercept/r2 of order value over
    time (days since 1995-01-01) -- 'is this segment's spend rising' as
    ONE partial-agg pass collapsing the fact table to |groups| moment
    rows; the closed-form normal equations then run in DOUBLE from
    exact DECIMAL sums with a fixed expression shape, so both engines
    agree bit-for-bit before the final rounding."""
    from sparkbigdatatextanalysis_spark.operators import stats as st

    o = _scan(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
        ).cast("double").alias("x"),
        F.col("o_totalprice").alias("y"),
    )
    return st.grouped_linreg(o, ["o_orderpriority"], "x", "y")


def q_basket_brand_pairs(spark, sf_dir):
    """Market-basket pair mining (operators/relational.py::
    cooccurrence_pairs): part-brand pairs appearing together in >= 40
    orders, with support -- the A-priori k=2 pass. The fact table
    collapses to |orders| sorted brand-set rows in one groupBy; pairs
    generate IN-ROW (quadratic only in the per-order brand count),
    never via the self-join that squares inside hot groups; the brand
    dimension broadcasts into the line items."""
    li = _scan(spark, sf_dir, "lineitem", wide=True).select("l_orderkey", "l_partkey")
    p = _scan(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(
        F.broadcast(p), li.l_partkey == p.p_partkey
    ).select("l_orderkey", "p_brand")
    return rel.cooccurrence_pairs(
        baskets, "l_orderkey", "p_brand", min_support=40
    )


def q_events_cumulative_users(spark, sf_dir):
    """Daily new-user and cumulative-user counts: each user collapses to
    a first-seen day (one partial-agg min over the raw feed -- the only
    full-data pass), days aggregate to new-user counts, and the running
    total is a window over the |days| table (tiny -- the documented
    single-partition window runs over days, never rows). The growth
    curve every activation dashboard starts from."""
    from pyspark.sql import Window

    first = (
        _events(spark, sf_dir)
        .where(F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(F.min(F.date_format("ts", "yyyy-MM-dd")).alias("day"))
    )
    daily = first.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "n_new_users",
        F.sum("n_new_users").over(w).cast("long").alias("cum_users"),
    )


def q_docs_keyterms(spark, sf_dir):
    """Per-document keyterm extraction: the top-3 TF-IDF terms of every
    document ((weight desc, token) row_number over the shared weights
    table) -- the classic document-tagging / topic-hint step, here a
    pure composition over the cached TF-IDF pipeline point. The window
    partitions by doc_id (high-cardinality, balanced); weights are the
    same bit-identical doubles the tfidf_vectors gate hashes raw."""
    from pyspark.sql import Window

    w = _weights(spark, sf_dir)
    wnd = Window.partitionBy("id").orderBy(
        F.col("weight").desc(), F.col("token").asc()
    )
    return (
        w.withColumn("rk", F.row_number().over(wnd))
        .where(F.col("rk") <= 3)
        .select(
            F.col("id").alias("doc_id"),
            "token",
            F.col("rk").cast("long").alias("rk"),
            "weight",
        )
    )


def q_embeddings_knn_label(spark, sf_dir):
    """k-NN majority-vote labeling (operators/ann.py::knn_label_vote):
    odd vec_ids take the most frequent label among their 5 nearest
    even-id vectors by cosine -- weak-labeling a corpus from a seed
    set. Neighbors rank by the shared _broadcast_topk (9-dp cosine
    desc, id) rule; votes resolve (count desc, label asc) -- all
    deterministic cross-engine. Brute force is the proven-exact
    baseline; the IVF probe is the documented swap at scale."""
    emb = _emb(spark, sf_dir)
    return ann_ops.knn_label_vote(
        emb.where(F.col("vec_id") % 2 == 1),
        emb.where(F.col("vec_id") % 2 == 0),
        k=5,
    )


def q_embeddings_knn_label_ivf(spark, sf_dir):
    """The at-scale twin of embeddings_knn_label (operators/ann.py::
    knn_label_vote_ivf, r9 verdict item 4): same odd-queries /
    even-labeled-corpus split, but neighbors come from the IVF probe --
    map-only in-row centroid ranking on BOTH sides, candidates from
    one plain hash equi-join on the cluster id -- so neither the query
    nor the corpus side is ever broadcast or collected (the brute-force
    gate streams the corpus past broadcast queries; this shape is the
    one that survives queries outnumbering the seed set at 100 TB).
    The index (Lloyd-refined centroids over the LABELED corpus) is
    cached as a pipeline point like ann_topk_ivf's. The oracle replays
    the identical kmeans/assign/probe/vote chain, so partial probing
    (n_probe=2 of 16) is value-checked exactly, not bounded."""
    emb = _emb(spark, sf_dir)
    labeled = emb.where(
        (F.col("vec_id") % 2 == 0) & F.col("label").isNotNull()
    )
    cents = _cached(
        spark,
        sf_dir,
        "knn_ivf_cents",
        lambda: ann_ops.kmeans_centroids(labeled),
    )
    return ann_ops.knn_label_vote_ivf(
        emb.where(F.col("vec_id") % 2 == 1),
        emb.where(F.col("vec_id") % 2 == 0),
        k=5,
        cents=cents,
    )


def q_events_value_mad(spark, sf_dir):
    """Median/MAD robust outliers (operators/stats.py::mad_outliers):
    per event type, values farther than 3 MADs from the median -- the
    robust twin of events_value_zscore, whose stddev a single extreme
    value inflates (outlier masking); medians cannot be dragged. Two
    exact-percentile group aggs (relative_error swaps in GK at scale)
    + broadcast joins; the flag is map-only."""
    from sparkbigdatatextanalysis_spark.operators import stats as st

    ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
    return st.mad_outliers(ev, "value", ["event_type"])


BPE_GATE_MERGES = 8


def q_docs_bpe_segments(spark, sf_dir):
    """BPE learn + segment, driver-gated (operators/bpe.py -- the last
    deterministic pytest-only surface, r8 verdict stretch): learn 8
    merge rules from the tokenized corpus (best pair = max n_occ-
    weighted adjacent count, ties (left, right) lexicographic,
    min_pair_count=2 -- exact integers, fully deterministic), then
    segment every document by replaying the rules greedily
    left-to-right. The oracle re-learns the SAME 8 rules as unrolled
    SQL stages (pair extraction from double-separator symbol strings;
    one replace() per stage IS the greedy merge, because double
    separators make adjacent occurrences share no characters) and
    re-segments -- so learning AND application are both cross-engine
    checked, not just replayed. Spark side: bpe_learn_local's one
    corpus pass + driver loop over the vocab-sized word table;
    segmentation is the in-row expression fold (map-only, zero
    shuffles)."""
    from sparkbigdatatextanalysis_spark.operators import bpe

    tok = _tok(spark, sf_dir)
    merges, _vocab = bpe.bpe_learn_local(
        tok, BPE_GATE_MERGES, min_pair_count=2
    )
    seg = bpe.bpe_segment(tok, merges)
    return seg.select(
        F.col("id").alias("doc_id"),
        F.size("pieces").cast("long").alias("n_pieces"),
        F.array_join("pieces", " ").alias("pieces_str"),
    )


def q_orders_unpivot(spark, sf_dir):
    """UNPIVOT/melt (the inverse of user_type_pivot's wide pivot): the
    per-status order metrics fold from one wide row into (status,
    metric, value) long rows via stack() -- map-only on a |statuses|-row
    aggregate, the shape that feeds generic metric sinks. Money goes
    through the DECIMAL sum discipline before the double cast."""
    per = (
        _scan(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("double").alias("_n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(28,10)")), 4
            ).cast("double").alias("_total"),
        )
    )
    return per.selectExpr(
        "o_orderstatus",
        "stack(2, 'n_orders', _n, 'total_price', _total) AS (metric, value)",
    )


def q_attribution_linear(spark, sf_dir):
    """Linear multi-touch attribution (the fractional complement of
    q_purchase_attribution's last-touch ASOF): each purchase splits one
    unit of credit EQUALLY across all the user's clicks within the
    7-day lookback window strictly before it; per click, the total
    accumulated credit. The window match is the equi-key interval join
    (operators/relational.py::interval_join -- hash join on user_id
    with the range as a join-side predicate, never a cartesian).
    Credit is exact integer arithmetic end-to-end: per-purchase share =
    floor(1e9 / n_clicks) parts-per-billion (one BIGINT division --
    bit-identical cross-engine), summed as BIGINTs, so no float
    summation order can wobble the hash. Click-less purchases simply
    attribute nothing (the last-touch key keeps them visible).

    Scale shape (r9 verdict fix): the per-purchase click count attaches
    via a count window over purchase_id -- matched rows exchange ONCE
    on purchase_id and the count rides that partitioning. The earlier
    form broadcast an O(|purchases|) aggregate to every executor:
    correct at gate scale, a driver-collect cliff at 100 TB (billions
    of purchase rows shipped whole to each task)."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).where(F.col("ts").isNotNull())
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.unix_micros("ts").alias("p_us"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.unix_micros("ts").alias("c_us"),
    )
    lookback_us = 7 * 86400 * 1_000_000
    matched = rel.interval_join(
        purchases,
        clicks,
        "p_user",
        "c_user",
        (F.col("c_us") < F.col("p_us"))
        & (F.col("c_us") >= F.col("p_us") - F.lit(lookback_us)),
    )
    # click counts attach per purchase with ONE window over the same
    # purchase_id partitioning the matched rows already need -- no
    # second join, and (the r9 verdict's scale defect) no forced
    # broadcast of an O(|purchases|) table to every executor: at 100 TB
    # per_purchase is billions of rows, exactly the collected-to-driver
    # failure class the triangle counter's degree attach fixed.
    credited = matched.withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("purchase_id"))
    ).select(
        "click_id",
        # integral `div`, not floor(double /): bit-for-bit the oracle's
        # BIGINT floor division at any magnitude
        F.expr("1000000000 div _n").cast("long").alias("_ppb"),
    )
    return credited.groupBy("click_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.sum("_ppb").cast("long").alias("credit_ppb"),
    )


def q_funnel_latency(spark, sf_dir):
    """Funnel step-transition latency: for each adjacent step pair of
    the view->click->purchase funnel, the converting users' p25/50/75
    wait (seconds between the user's reach times -- the SAME per-user
    reach chain funnel_conversion counts; operators/funnel.py::
    funnel_reaches exposes the row-level form). The product question
    behind every funnel: WHERE do users stall. Reach rows pivot to
    per-user columns via one max-aggregation (no second scan of raw
    events), deltas are exact integer seconds, and the percentile
    aggregation runs per step pair (exact; the GK swap is one argument
    away, the engine convention)."""
    from sparkbigdatatextanalysis_spark.operators import funnel as fn

    ev = _events(spark, sf_dir).where(F.col("ts").isNotNull())
    reaches = fn.funnel_reaches(ev, ["view", "click", "purchase"])
    per_user = reaches.groupBy("user_id").agg(
        *[
            F.max(
                F.when(
                    F.col("step_idx") == i, F.unix_timestamp("reach_ts")
                )
            ).alias(f"_t{i}")
            for i in range(3)
        ]
    )
    pairs = None
    for i, name in ((0, "view->click"), (1, "click->purchase")):
        d = per_user.where(
            F.col(f"_t{i}").isNotNull() & F.col(f"_t{i + 1}").isNotNull()
        ).select(
            F.lit(name).alias("step_pair"),
            (F.col(f"_t{i + 1}") - F.col(f"_t{i}")).alias("_d"),
        )
        pairs = d if pairs is None else pairs.unionByName(d)
    return pairs.groupBy("step_pair").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(F.expr("percentile(_d, 0.25)"), 6).alias("p25_sec"),
        F.round(F.expr("percentile(_d, 0.5)"), 6).alias("p50_sec"),
        F.round(F.expr("percentile(_d, 0.75)"), 6).alias("p75_sec"),
    )


def q_events_snapshot_diff(spark, sf_dir):
    """Row-level CDC snapshot diff (the drill-down behind
    events_reconcile's bucket checksums, same deterministically-
    corrupted replica): full-outer join the two snapshots on the key
    and classify every row as unchanged / changed / removed / added,
    then roll up per (day, change) counts. One hash shuffle per side on
    the uniform event key; the classification is map-only; output is
    |days| x 4 rows. The reconcile key TELLS you a day drifted; this is
    the operator you run next to see HOW."""
    ev = (
        _events(spark, sf_dir)
        .where(F.col("ts").isNotNull())
        .select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "event_id",
            "user_id",
            "event_type",
        )
    )
    replica = ev.where(F.col("event_id") % 991 != 5).withColumn(
        "event_type",
        F.when(F.col("event_id") % 997 == 3, "corrupted").otherwise(
            F.col("event_type")
        ),
    )
    a = ev.select(
        "event_id",
        F.col("day").alias("a_day"),
        F.col("user_id").alias("a_user"),
        F.col("event_type").alias("a_type"),
    )
    b = replica.select(
        "event_id",
        F.col("day").alias("b_day"),
        F.col("user_id").alias("b_user"),
        F.col("event_type").alias("b_type"),
    )
    j = a.join(b, "event_id", "full_outer")
    classified = j.select(
        F.coalesce("a_day", "b_day").alias("day"),
        F.when(F.col("a_day").isNull(), "added")
        .when(F.col("b_day").isNull(), "removed")
        .when(
            (F.col("a_user") == F.col("b_user"))
            & (F.col("a_type") == F.col("b_type")),
            "unchanged",
        )
        .otherwise("changed")
        .alias("change"),
    )
    return classified.groupBy("day", "change").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )


def q_orders_repeat_share(spark, sf_dir):
    """Repeat-purchase share per month: each order is 'repeat' when its
    customer placed a strictly earlier order; per order-month, the
    repeat count and share -- the retention-adjacent revenue-quality
    metric. First-order dates come from ONE partial-agg min per
    customer joined back on the uniform custkey (not a per-customer
    window over the fact table); the share is one BIGINT/BIGINT double
    division, rounded."""
    o = _scan(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    firsts = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("_first")
    )
    tagged = o.join(firsts, "o_custkey").select(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        ),
        (F.col("o_orderdate") > F.col("_first")).cast("long").alias("_rep"),
    )
    return tagged.groupBy("month").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("_rep").cast("long").alias("n_repeat"),
        F.round(F.sum("_rep") / F.count(F.lit(1)), 9).alias("repeat_share"),
    )


def q_dedup_containment(spark, sf_dir):
    """Directed shingle-containment near-subset pairs
    (operators/dedup.py::containment_pairs): |A∩B| / |A| >= 0.9 --
    Broder's asymmetric containment, catching a short doc quoted whole
    inside a longer one where symmetric Jaccard (union-normalized)
    stays under every near-dup threshold. Same one-equi-join plan as
    the Jaccard pairs; the threshold compares the unrounded IEEE
    division in both engines."""
    return dd.containment_pairs(_docs(spark, sf_dir, wide=True), min_containment=0.9)


def q_orders_abc_classes(spark, sf_dir):
    """ABC / Pareto customer classification: customers ranked by total
    revenue (exact DECIMAL sums) with rank-quantile classes -- A = top
    20% of customers, B = next 30%, C = rest. The global order comes
    from operators/relational.py::global_rank's two-phase bucket
    decomposition -- demonstrating the composition at scale where a
    plain row_number() OVER (ORDER BY revenue) would funnel every
    customer through one task; the class cut is a broadcast scalar
    count comparison, map-only. Rank-based classes (not
    cumulative-revenue ABC, which would need a global prefix sum of
    revenue -- global_rank's offset table gives exactly that extension
    path). Revenue DESC realized as rank over negated revenue (the
    decimal->double cast is deterministic; ties break on custkey)."""
    o = _scan(spark, sf_dir, "orders")
    rev = (
        o.groupBy("o_custkey")
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(28,10)")), 4
            )
            .cast("double")
            .alias("revenue")
        )
        .withColumn("_neg", -F.col("revenue"))
    )
    ranked = rel.global_rank(
        rev, key="_neg", tiebreaker="o_custkey", rank_col="rev_rank"
    )
    n = ranked.agg(F.count(F.lit(1)).alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .select(
            "o_custkey",
            "revenue",
            "rev_rank",
            F.when(F.col("rev_rank") * 5 <= F.col("_n"), "A")
            .when(F.col("rev_rank") * 2 <= F.col("_n"), "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )


def q_events_dau_wau(spark, sf_dir):
    """DAU/WAU stickiness: per day, distinct active users that day
    (DAU), distinct users active in the trailing 7-day window (WAU),
    and their ratio -- the canonical engagement metric. Rolling
    DISTINCT cannot sum from daily distincts, so each (user, day)
    activity pair fans out map-side to the <=7 window days it supports
    (an in-row sequence explode -- x7 rows, no shuffle), then ONE
    distinct-agg per window day. At 100 TB the events feed collapses to
    |user x day| pairs at the first partial agg before the fan-out; the
    mergeable-sketch alternative (X131's per-day HLL union-rolled over
    7 days) is the documented swap when exact WAU stops being worth
    the x7. Window days past the observed range are dropped (their
    windows are right-truncated); the ratio is one BIGINT/BIGINT
    double division, rounded."""
    ud = (
        _events(spark, sf_dir)
        .where(F.col("ts").isNotNull())
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    fan = ud.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
        "user_id",
    ).distinct()
    wau = fan.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("wau")
    )
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 9).alias("stickiness"),
        )
    )


def q_events_dau_wau_sketch(spark, sf_dir):
    """The HLL swap q_events_dau_wau documents, implemented (r9 verdict
    item 3): WAU from mergeable per-day DataSketches HLL sketches
    instead of the exact (user, day) x7 fan-out. The fan-out here is
    over DAILY SKETCH rows -- |days| x 7 rows of ~KB sketches, not
    |user x day| x 7 user rows -- so the rolling-window cost is
    decoupled from user cardinality entirely: at 100 TB the feed
    collapses to one sketch per day at the first partial agg, and ANY
    trailing window (7/28/90-day) re-merges the same daily sketch table
    because HLL union is associative. Gated like X131
    (events_monthly_uniques_sketch): DuckDB's HLL differs, so the
    hashed columns are the exact DAU/WAU and the 'sketch WAU within
    10% of exact' boolean the oracle pins to 1 (lgConfigK=12 rsd
    ~1.6%; 10% is ~6 sigma)."""
    ev = (
        _events(spark, sf_dir)
        .where(F.col("ts").isNotNull())
        .select(F.to_date("ts").alias("day"), "user_id")
    )
    ud = ev.distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    fan = ud.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
        "user_id",
    ).distinct()
    wau = fan.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("wau"))
    daily_sk = ev.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    sk_fan = daily_sk.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
        "sk",
    )
    wau_est = sk_fan.groupBy("day").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est")
    )
    return (
        dau.join(wau, "day")
        .join(wau_est, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            (F.abs(F.col("_est") - F.col("wau")) <= 0.10 * F.col("wau"))
            .cast("long")
            .alias("wau_within_10pct"),
        )
    )


def q_session_paths(spark, sf_dir):
    """Top-20 session paths: the ordered event-type sequence of every
    gap-based session (same 30-min session assignment as
    events_sessionize), counted across sessions -- the path-analysis
    query behind 'how do users actually move through the product'.
    Per-session paths form by ONE ordered in-row fold (collect structs,
    array_sort, join -- the line-reassembly pattern; no per-event
    window beyond the shared session-assignment scan), the path count
    is a low-cardinality partial agg, and the top-20 cut is a
    TakeOrdered on the deterministic (count desc, path) order."""
    ev = _events(spark, sf_dir).where(F.col("ts").isNotNull())
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 1800 * 1_000_000
    tagged = (
        ev.select("user_id", "event_id", "event_type", "ts")
        .withColumn("_prev", F.lag(F.unix_micros("ts")).over(w))
        .withColumn(
            "_new",
            (
                F.col("_prev").isNull()
                | (F.unix_micros("ts") - F.col("_prev") > gap_us)
            ).cast("long"),
        )
        .withColumn(
            "_sess",
            F.sum("_new").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    paths = (
        tagged.groupBy("user_id", "_sess")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.unix_micros("ts").alias("t"),
                                F.col("event_id").alias("e"),
                                F.col("event_type").alias("s"),
                            )
                        )
                    ),
                    lambda r: r["s"],
                ),
                ">",
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    )
    return (
        paths.orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(20)
        .withColumn("rank", F.row_number().over(
            Window.orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        ).cast("long"))
    )


def q_orders_mom_growth(spark, sf_dir):
    """Month-over-month revenue growth: per order-month, the exact
    DECIMAL revenue sum and its relative change vs the previous month
    -- the reporting primitive behind every growth dashboard. The fact
    table collapses to |months| rows at ONE partial agg; the lag window
    then runs over that tiny table (the documented single-partition
    window over months, never rows). First month keeps NULL growth."""
    from pyspark.sql import Window

    o = _scan(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        )
    ).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(28,10)")), 4)
        .cast("double")
        .alias("revenue")
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "revenue",
        F.round((F.col("revenue") - prev) / prev, 9).alias("mom_growth"),
    )


def q_dedup_cluster_sizes(spark, sf_dir):
    """Near-dup cluster size distribution: how many clusters of each
    size the MinHash-LSH + connected-components pipeline produced --
    the audit histogram behind every dedup report (a fat tail of huge
    clusters means the banding is over-merging; all-singletons means
    it is missing). Two partial aggs over the cached cluster table
    (one row per doc -> one per cluster -> one per size); the oracle
    nests the clustering key's own recursive-reachability oracle."""
    clusters = _dedup_clusters(spark, sf_dir)
    return (
        clusters.groupBy("keep_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(F.col("cluster_size").cast("long").alias("cluster_size"), "n_clusters")
    )


def q_docs_shingle_novelty(spark, sf_dir):
    """Per-document novelty score: the share of a doc's distinct 3-word
    shingles that appear in NO other document -- the curation signal
    complementary to near-dup detection (dedup asks 'is this a copy';
    novelty asks 'how much of this is new material'). One shingle
    document-frequency agg (partial, vocabulary-sized output) joined
    back onto the per-doc shingle sets; the score is one BIGINT/BIGINT
    double division, rounded. Docs too short to shingle keep NULL
    novelty (0 shingles -- no evidence either way)."""
    sh = dd.shingle_hashes(_docs(spark, sf_dir, wide=True)).select(
        F.col("id").alias("doc_id"), "sh"
    ).persist()
    df_counts = sh.groupBy("sh").agg(
        F.count_distinct("doc_id").alias("_df")
    )
    per_doc = (
        sh.join(df_counts, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum((F.col("_df") == 1).cast("long"))
            .cast("long")
            .alias("n_unique"),
        )
    )
    all_docs = _docs(spark, sf_dir).select("doc_id")
    return all_docs.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
        F.coalesce("n_unique", F.lit(0)).cast("long").alias("n_unique"),
        F.when(
            F.col("n_shingles").isNotNull(),
            F.round(F.col("n_unique") / F.col("n_shingles"), 9),
        ).alias("novelty"),
    )


def q_orders_mix_drift(spark, sf_dir):
    """Categorical mix drift per month: each month's order-priority
    share distribution vs the corpus-wide mix, summarized as the total
    variation distance (half the L1) -- the data-quality monitor for
    'did the composition of the feed change', the categorical
    complement of orders_profile_drift's numeric drift. Two partial
    aggs (month x priority counts; global priority counts broadcast) +
    one months-sized rollup; shares are exact integer ratios, TVD sums
    |share-share| over the bounded priority domain."""
    o = _scan(spark, sf_dir, "orders").select(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        ),
        "o_orderpriority",
    )
    mc = o.groupBy("month", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("_n")
    )
    mt = mc.groupBy("month").agg(F.sum("_n").alias("_mtot"))
    g = o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("_gn"))
    gt = g.agg(F.sum("_gn").alias("_gtot"))
    gshare = g.crossJoin(F.broadcast(gt)).select(
        "o_orderpriority", (F.col("_gn") / F.col("_gtot")).alias("_gs")
    )
    return (
        mc.join(mt, "month")
        .join(F.broadcast(gshare), "o_orderpriority")
        .groupBy("month")
        .agg(
            F.sum("_n").cast("long").alias("n_orders"),
            F.round(
                F.sum(F.abs(F.col("_n") / F.col("_mtot") - F.col("_gs")))
                / 2,
                9,
            ).alias("mix_tvd"),
        )
    )


def q_embeddings_profile(spark, sf_dir):
    """Vector-column data-quality profile per label: row count, NULL
    and zero-vector counts, dimensionality consistency (distinct dims),
    and the mean L2 norm -- the table-profiling operator (X56)
    specialized to embedding columns, where the failure modes are
    all-zero rows, mixed dimensionality and NULLs from a failed encoder
    upstream. ONE partial-agg pass; the norm mean goes through the
    DECIMAL sum discipline so it hashes exactly."""
    emb = _emb(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")
    dot = F.aggregate(
        F.zip_with(v, v, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    per = emb.select(
        "label",
        v.alias("_v"),
        F.when(v.isNotNull(), F.sqrt(dot)).alias("_norm"),
    )
    return per.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("_v").isNull().cast("long")).cast("long").alias("n_null"),
        F.sum((F.col("_norm") == 0.0).cast("long"))
        .cast("long")
        .alias("n_zero"),
        F.count_distinct(F.size("_v")).cast("long").alias("n_dims"),
        F.round(
            F.sum(F.col("_norm").cast("decimal(38,15)")).cast("double")
            / F.sum(F.col("_norm").isNotNull().cast("long")),
            9,
        ).alias("mean_norm"),
    )


def q_events_hourly_profile(spark, sf_dir):
    """Hour-of-day activity profile per event type: counts and the
    within-type share for each of the 24 UTC hours -- the seasonality
    fingerprint behind anomaly thresholds and capacity planning. One
    partial agg over the (type x 24)-sized domain; shares attach via a
    broadcast per-type total."""
    ev = _events(spark, sf_dir).where(F.col("ts").isNotNull())
    hc = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hour_utc")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    tot = hc.groupBy("event_type").agg(F.sum("n_events").alias("_t"))
    return hc.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "hour_utc",
        "n_events",
        F.round(F.col("n_events") / F.col("_t"), 9).alias("share"),
    )


def q_events_value_band_join(spark, sf_dir):
    """Numeric near-self-join (operators/relational.py::band_join):
    pairs of purchase events whose values differ by <= 0.01 -- the
    near-tie / duplicate-amount detector. The theta predicate Spark
    could only plan as a cartesian instead runs as ONE hash equi-join
    on floor(value/eps) bucket keys (adjacent buckets covered by a x2
    in-row emit) -- zero cartesian at any size, pinned in the budget;
    the oracle is the brute-force theta join DuckDB can afford at gate
    scale."""
    p = (
        _events(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select("event_id", "value")
    )
    out = rel.band_join(p, "value", eps=0.01, id_col="event_id")
    return out.select(
        "a_id",
        "b_id",
        "value_a",
        "value_b",
        F.round(F.col("value_b") - F.col("value_a"), 9).alias("dv"),
    )


def q_parts_copurchase_cosine(spark, sf_dir):
    """Item-item collaborative filtering over co-purchases ("customers
    who bought X also bought Y"): for part pairs appearing in >= 2
    common orders, the cosine of their order-membership vectors --
    n_together / sqrt(n_a * n_b). The pair mining is X139's in-row
    generator (operators/relational.py::cooccurrence_pairs -- quadratic
    only in per-order width, never a per-group self-join); the
    normalization attaches per-item order counts via one broadcast
    join (|parts| rows -- a dimension, broadcastable at any corpus
    scale)."""
    li = _scan(spark, sf_dir, "lineitem", wide=True).select("l_orderkey", "l_partkey")
    pairs = rel.cooccurrence_pairs(li, "l_orderkey", "l_partkey", min_support=2)
    ic = (
        li.distinct()
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
    )
    return (
        pairs.join(
            F.broadcast(ic.select(F.col("l_partkey").alias("item_a"), F.col("_n").alias("_na"))),
            "item_a",
        )
        .join(
            F.broadcast(ic.select(F.col("l_partkey").alias("item_b"), F.col("_n").alias("_nb"))),
            "item_b",
        )
        .select(
            "item_a",
            "item_b",
            "n_together",
            # factors cast to double BEFORE the multiply (the
            # session_type_pairs lift rule): a BIGINTxBIGINT product
            # can wrap in non-ANSI Spark at 100 TB counts
            F.round(
                F.col("n_together")
                / F.sqrt(
                    F.col("_na").cast("double")
                    * F.col("_nb").cast("double")
                ),
                9,
            ).alias("cosine"),
        )
    )


def q_events_value_moments(spark, sf_dir):
    """Per-type skewness / excess kurtosis (operators/stats.py::
    grouped_moments): distribution-shape profiling from four exact
    DECIMAL power sums in ONE partial-agg pass -- each power computed
    in doubles with a fixed left-associated shape (bit-identical
    cross-engine), only the SUMs through DECIMAL (order-independent).
    The single-pass complement to the two-pass exact-median MAD key."""
    from sparkbigdatatextanalysis_spark.operators import stats as st

    ev = _events(spark, sf_dir).select("event_type", "value")
    return st.grouped_moments(ev, "value", ["event_type"])


def q_docs_pmi_collocations(spark, sf_dir):
    """PMI collocations: adjacent token pairs occurring >= 10 times,
    scored ln((c_ab/B) * (N/c_a) * (N/c_b)) -- the classic phrase-
    mining statistic (which bigrams co-occur far above chance), the
    lift-scored complement of corpus_bigrams' raw counts. Bigrams form
    in-row (zip_with, no positional self-join); unigram and bigram
    counts are partial aggs; the scalar totals broadcast. The ln runs
    over one fixed-shape double expression on both engines; round(6)
    absorbs libm's last-ulp latitude (the unigram-LM precedent)."""
    from sparkbigdatatextanalysis_spark.functions.arrays import adjacent_pairs

    tok = _tok(spark, sf_dir)
    uni = tok.select(F.explode("tokens").alias("t")).groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    n_tot = uni.agg(F.sum("c").cast("long").alias("_n"))
    bg = (
        tok.where(F.size("tokens") >= 2)
        .select(
            F.explode(
                adjacent_pairs(
                    F.col("tokens"), lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))
                )
            ).alias("_p")
        )
        .select("_p.w1", "_p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .where(F.col("n_pair") >= 10)
    )
    b_tot = (
        tok.where(F.size("tokens") >= 2)
        .select((F.size("tokens") - 1).alias("_k"))
        .agg(F.sum("_k").cast("long").alias("_b"))
    )
    return (
        bg.join(F.broadcast(uni.select(F.col("t").alias("w1"), F.col("c").alias("_ca"))), "w1")
        .join(F.broadcast(uni.select(F.col("t").alias("w2"), F.col("c").alias("_cb"))), "w2")
        .crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(b_tot))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(
                F.log(
                    F.col("n_pair")
                    / F.col("_b")
                    * (F.col("_n") / F.col("_ca"))
                    * (F.col("_n") / F.col("_cb"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def q_dedup_blocking_quality(spark, sf_dir):
    """Blocking-quality report (operators/evaluation.py::
    blocking_quality): the MinHash-LSH blocker's candidate pairs
    audited against a 3-gram-Jaccard >= 0.5 ground truth --
    pairs_completeness (blocking recall) and reduction_ratio (share of
    the C(n,2) comparison space eliminated), the two standard record-
    linkage metrics and the reference's own headline claim for its
    inverted index (4,397,038 -> 2,441,100 candidates,
    ScalableEntityResolutionTest.scala:86-87). Overlap is one equi-join
    on the pair key; the doc count is a bounded eager aggregate. At
    100 TB the TRUTH side (all-pairs Jaccard) is the expensive half by
    nature -- run the audit over a stratified sample (X59's salted
    split): both metrics are ratios, sample-stable by construction."""
    from sparkbigdatatextanalysis_spark.operators import evaluation as eva

    docs = _docs(spark, sf_dir, wide=True)
    cand = _mh_pairs(spark, sf_dir).select("a_id", "b_id")
    truth = dd.ngram_jaccard_pairs(docs, min_jaccard=0.5).select("a_id", "b_id")
    n_docs = docs.count()
    return eva.blocking_quality(cand, truth, n_docs)


def q_events_ewma(spark, sf_dir):
    """Per-user EWMA of purchase values over the trailing 8 events --
    the smoothed-signal primitive (anomaly baselines, trend displays).
    Weights are EXACT powers of two (2^-1 .. 2^-8), so every product is
    a pure exponent shift (no rounding) and the fixed left-associated
    sum is bit-identical cross-engine; the recursive EWMA definition,
    by contrast, is order-dependent float folding no engine pair could
    hash-match. 8 explicit lags over ONE user-keyed window (bounded
    per-row state, no collect_list ordering hazard); truncation beyond
    8 events changes weights by < 0.4%."""
    from pyspark.sql import Window

    ev = (
        _events(spark, sf_dir)
        .where(
            (F.col("event_type") == "purchase")
            & F.col("ts").isNotNull()
            & F.col("value").isNotNull()
        )
        .select("event_id", "user_id", F.unix_micros("ts").alias("_us"), "value")
    )
    w = Window.partitionBy("user_id").orderBy("_us", "event_id")
    lags = [F.lag("value", j).over(w) for j in range(8)]
    weights = [2.0 ** -(j + 1) for j in range(8)]
    num = None
    den = None
    for lg, wt in zip(lags, weights):
        term = F.coalesce(lg * F.lit(wt), F.lit(0.0))
        have = F.when(lg.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
        num = term if num is None else num + term
        den = have if den is None else den + have
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.round(num / den, 9).alias("ewma8"),
    )


def q_orders_near_duplicate_amounts(spark, sf_dir):
    """Grouped near-tie detector: pairs of one CUSTOMER's orders whose
    totals differ by <= one cent -- the double-charge / split-invoice
    audit. band_join's partition_cols form (r10): the bucket equi-join
    key becomes (custkey, floor(price/2eps)), so pairs form only within
    a customer and every hash bucket shrinks by the customer
    cardinality -- the banded theta join composed with an equi key,
    still zero cartesian at any scale."""
    o = _scan(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    out = rel.band_join(
        o, "o_totalprice", eps=0.01, id_col="o_orderkey",
        partition_cols=("o_custkey",),
    )
    return out.select(
        "o_custkey",
        "a_id",
        "b_id",
        "value_a",
        "value_b",
        F.round(F.col("value_b") - F.col("value_a"), 9).alias("dv"),
    )


def q_orders_price_psi(spark, sf_dir):
    """Population Stability Index between the early and late halves of
    the order stream, over decile bins fitted on the EARLY period --
    the industry-standard drift score for a numeric feature (the binned
    complement of orders_mix_drift's categorical TV distance). Bin
    edges are ONE exact-percentile agg on the early period (9 cuts,
    broadcast as a single row; exact percentile holds the period's
    values in executor memory -- at 100 TB swap in approx_percentile,
    the engine's relative_error convention, and the PSI math is
    unchanged); binning is an in-row fold over the cut array; the
    per-bin counts are one partial agg per period. Laplace (+1)
    smoothing keeps ln finite when ties empty a bin; round(6) absorbs
    libm's last ulp."""
    o = _scan(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    split = F.lit("2000-01-01").cast("timestamp")
    early = o.where(F.col("o_orderdate") < split)
    late = o.where(F.col("o_orderdate") >= split)
    cuts = early.agg(
        F.expr(
            "percentile(o_totalprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
        ).alias("_cuts")
    )
    bin_of = F.aggregate(
        F.col("_cuts"),
        F.lit(0),
        lambda acc, c: acc + F.when(F.col("o_totalprice") > c, 1).otherwise(0),
    )

    def bins(df, name):
        return (
            df.crossJoin(F.broadcast(cuts))
            .select(bin_of.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias(name))
        )

    a = bins(early, "n_early")
    b = bins(late, "n_late")
    na = early.agg(F.count(F.lit(1)).cast("long").alias("_na"))
    nb = late.agg(F.count(F.lit(1)).cast("long").alias("_nb"))
    pa = (F.col("n_early") + 1) / (F.col("_na") + 10)
    pb = (F.col("n_late") + 1) / (F.col("_nb") + 10)
    return (
        a.join(b, "bin", "full")
        .select(
            "bin",
            F.coalesce("n_early", F.lit(0).cast("long")).alias("n_early"),
            F.coalesce("n_late", F.lit(0).cast("long")).alias("n_late"),
        )
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            "bin",
            "n_early",
            "n_late",
            F.round((pb - pa) * F.log(pb / pa), 6).alias("psi_term"),
        )
    )


def q_users_weekly_streaks(spark, sf_dir):
    """Longest consecutive-week activity streak per user (plus active-
    week count) -- the engagement-consistency metric behind 'N-week
    streak' product features. Gaps-and-islands over the distinct
    (user, week) grid: week index minus per-user row_number is the
    island key (one user-keyed window over |user x week| rows, already
    collapsed from raw events by the first partial agg)."""
    from pyspark.sql import Window

    uw = (
        _events(spark, sf_dir)
        .where(F.col("ts").isNotNull())
        .select(
            "user_id",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.lit("1970-01-05").cast("date"),
                )
                / 7
            )
            .cast("long")
            .alias("widx"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("widx")
    isl = uw.withColumn(
        "_isl", F.col("widx") - F.row_number().over(w)
    )
    streaks = isl.groupBy("user_id", "_isl").agg(
        F.count(F.lit(1)).cast("long").alias("_len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("_len").cast("long").alias("n_active_weeks"),
        F.max("_len").cast("long").alias("longest_streak"),
    )


def q_docs_zipf_fit(spark, sf_dir):
    """Zipf-law fit of the corpus head: OLS slope/intercept/r2 of
    ln(freq) on ln(rank) over the top-100 tokens -- the one-number
    summary of vocabulary concentration (a healthy natural-language
    corpus slopes ~-1; boilerplate floods flatten it). Reuses the
    DECIMAL-moment OLS aggregate (operators/stats.py::grouped_linreg,
    X138) over a 100-row ranked head (TakeOrdered cut); ln values are
    rounded to 9 dp BEFORE the moment sums so both engines feed the
    regression identical decimals."""
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl
    from sparkbigdatatextanalysis_spark.operators import stats as st

    top = pl.vocab_top_k(_tok(spark, sf_dir), k=100)
    pts = top.select(
        F.lit("corpus").alias("corpus"),
        F.round(F.log(F.col("rank").cast("double")), 9).alias("ln_rank"),
        F.round(F.log(F.col("n_occ").cast("double")), 9).alias("ln_freq"),
    )
    return st.grouped_linreg(pts, ["corpus"], "ln_rank", "ln_freq")


def q_orders_brand_rules(spark, sf_dir):
    """Association rules over co-purchased brands: for every DIRECTED
    brand pair (A -> B) in >= 2 common orders, confidence
    (n_ab / n_a) and lift (confidence / p(B)) -- the step after X139's
    support counts that actually ranks 'bought X, recommend Y'. The
    unordered pair mining is the in-row generator; both directions then
    emit map-side; brand order-counts attach via one broadcast join
    (|brands| is a dimension at any scale)."""
    li = _scan(spark, sf_dir, "lineitem", wide=True).select("l_orderkey", "l_partkey")
    p = _scan(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    pairs = rel.cooccurrence_pairs(ob, "l_orderkey", "p_brand", min_support=2)
    # both directions emit IN-ROW from the one mined pair row (a union
    # of two selects would duplicate the whole mining subtree into two
    # executed scans)
    both = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("antecedent"),
                    F.col("item_b").alias("consequent"),
                ),
                F.struct(
                    F.col("item_b").alias("antecedent"),
                    F.col("item_a").alias("consequent"),
                ),
            )
        ).alias("_d"),
        "n_together",
    ).select("_d.antecedent", "_d.consequent", "n_together")
    bc = ob.groupBy("p_brand").agg(F.count(F.lit(1)).cast("long").alias("_n"))
    n_orders = ob.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("_no")
    )
    return (
        both.join(
            F.broadcast(bc.select(F.col("p_brand").alias("antecedent"), F.col("_n").alias("_na"))),
            "antecedent",
        )
        .join(
            F.broadcast(bc.select(F.col("p_brand").alias("consequent"), F.col("_n").alias("_nb"))),
            "consequent",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "antecedent",
            "consequent",
            "n_together",
            F.round(F.col("n_together") / F.col("_na"), 9).alias("confidence"),
            F.round(
                (F.col("n_together") / F.col("_na"))
                * F.col("_no")
                / F.col("_nb"),
                9,
            ).alias("lift"),
        )
    )


def q_events_scd2_lookup(spark, sf_dir):
    """Point-in-time (temporal) dimension lookup: each purchase event
    joined to the SCD2 version (scd2_history's validity intervals over
    the user's tracked event_type) valid AT the purchase timestamp --
    the as-of-the-fact join every warehouse runs against slowly-
    changing dimensions. The match is the equi-key interval join
    (hash join on user_id, validity range as a join-side predicate --
    never a cartesian); exactly one version matches per fact by SCD2
    construction."""
    ev = _events(spark, sf_dir).where(F.col("ts").isNotNull())
    hist = rel.scd2_history(
        ev.select("user_id", "ts", "event_id", "event_type"),
        key="user_id",
        ts="ts",
        attrs=["event_type"],
        tiebreaker="event_id",
    ).select(
        F.col("user_id").alias("v_user"),
        F.col("event_type").alias("state_at_purchase"),
        F.unix_micros("valid_from").alias("_from_us"),
        F.unix_micros("valid_to").alias("_to_us"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("p_user"), F.unix_micros("ts").alias("p_us")
    )
    out = rel.interval_join(
        purchases,
        hist,
        "p_user",
        "v_user",
        (F.col("_from_us") <= F.col("p_us"))
        & (F.col("_to_us").isNull() | (F.col("p_us") < F.col("_to_us"))),
    )
    return out.select(
        "event_id",
        F.col("p_user").alias("user_id"),
        F.col("p_us").alias("ts_us"),
        "state_at_purchase",
        F.col("_from_us").alias("valid_from_us"),
    )


def q_docs_lexical_diversity(spark, sf_dir):
    """Per-document lexical diversity: type-token ratio (distinct /
    total tokens) and hapax share (tokens occurring once in the doc) --
    cheap quality signals that catch keyword-stuffed and template pages
    (TTR near 0) which length/stopword rules miss. ENTIRELY in-row over
    the cached token arrays (array_distinct + one aggregate fold): a
    map-only plan, zero shuffles at any corpus size."""
    tok = _tok(spark, sf_dir).where(F.size("tokens") > 0)
    distinct_n = F.size(F.array_distinct("tokens"))
    # hapax count: tokens whose in-row frequency is exactly 1 -- one
    # fold over the distinct set counting single-occurrence members
    hapax = F.size(
        F.filter(
            F.array_distinct("tokens"),
            lambda t: F.size(F.filter(F.col("tokens"), lambda u: u == t))
            == 1,
        )
    )
    return tok.select(
        F.col("id").alias("doc_id"),
        F.size("tokens").cast("long").alias("n_tokens"),
        distinct_n.cast("long").alias("n_types"),
        F.round(distinct_n / F.size("tokens"), 9).alias("ttr"),
        F.round(hapax / distinct_n, 9).alias("hapax_share"),
    )


def q_users_burst_rate(spark, sf_dir):
    """Burst detection: each user's maximum event count within any
    trailing 60-second window (RANGE frame over epoch microseconds,
    the events_rolling_1h discipline) -- the rate-based bot/abuse
    signal. One shuffle on the user key; per-row state is the trailing
    window. The flag threshold (>= 10 events/min) is an in-row
    comparison after the per-user max."""
    ev = (
        _events(spark, sf_dir)
        .where(F.col("ts").isNotNull())
        .select("user_id", F.unix_micros("ts").alias("_us"))
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("_us")
        .rangeBetween(-60_000_000, 0)
    )
    per_ev = ev.withColumn("_burst", F.count(F.lit(1)).over(w))
    return per_ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max("_burst").cast("long").alias("max_burst_60s"),
        (F.max("_burst") >= 10).alias("is_burst"),
    )


def q_embeddings_cluster_inertia(spark, sf_dir):
    """IVF index quality audit: per cluster, member count and the mean/
    min cosine to the assigned centroid -- the inertia report that
    decides n_centroids and flags degenerate clusters before they
    become hot probe buckets. Assignment is the map-only literal-
    centroid argmax (the shared _cent_scores kernel); the mean is a
    DECIMAL sum of the 9-dp scores (order-independent, so the hash
    cannot wobble with partitioning)."""
    emb = _emb(spark, sf_dir)
    cents = _cached(
        spark, sf_dir, "ivf_cents", lambda: ann_ops.kmeans_centroids(emb)
    )
    cents_arr = ann_ops._cents_lit(
        ann_ops._collect_cents(cents, "embeddings_cluster_inertia: collect centroids")
    )
    nv = ann_ops._norm_vecs(emb, "vec_id", "embedding")
    best = F.expr(f"array_max({ann_ops._cent_scores('v', 'norm', cents_arr)})")
    sel = nv.select(
        (-best["neg_cid"]).cast("long").alias("cluster"),
        best["cos"].alias("_cos"),
    )
    return sel.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.round(
            F.sum(F.col("_cos").cast("decimal(38,15)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("mean_cos"),
        F.round(F.min("_cos"), 9).alias("min_cos"),
    )


def q_docs_ngram_coverage(spark, sf_dir):
    """Vocabulary coverage curve: the share of ALL corpus token
    occurrences covered by the top-10 / top-100 / top-1000 tokens --
    the tokenizer-design statistic (how much of the stream a vocab
    prefix explains). The global agg collapses the corpus to |vocab|
    rows; the head is a TakeOrdered cut; the cumulative sum runs over
    the 1000-row head only (never a corpus-wide global sort)."""
    from pyspark.sql import Window

    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    top = pl.vocab_top_k(_tok(spark, sf_dir), k=1000)
    total = (
        _tok(spark, sf_dir)
        .select(F.size("tokens").alias("_k"))
        .agg(F.sum("_k").cast("long").alias("_total"))
    )
    w = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    cum = top.withColumn("_cum", F.sum("n_occ").over(w).cast("long"))
    return (
        cum.where(F.col("rank").isin(10, 100, 1000))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("rank").cast("long").alias("top_n"),
            F.col("_cum").alias("n_occ_covered"),
            F.round(F.col("_cum") / F.col("_total"), 9).alias("coverage"),
        )
    )


def q_embeddings_pca_power(spark, sf_dir):
    """Leading principal direction by power iteration (operators/
    ann.py::top_principal_component, 3 rounds): the iterative-numeric
    showcase beside PageRank and the Lloyd refinement -- every per-row
    product fixed-shape double arithmetic, every sum DECIMAL, every
    stage rounded to 9 dp before feeding the next, so the oracle's
    unrolled CTE replay is EQUAL by induction, not merely close. Per
    iteration the corpus collapses to `dim` rows at the map-side
    combiner; only the dim-sized iterate crosses the driver (kmeans
    ferrying pattern)."""
    return ann_ops.top_principal_component(_emb(spark, sf_dir), n_iter=3)


def q_nation_revenue_share(spark, sf_dir):
    """Percent-of-total within a hierarchy: each nation's share of its
    REGION's customer revenue -- the drill-down ratio every BI layer
    asks of a dimension tree. Nation revenues aggregate once through
    DECIMAL (rounded to 4 dp, the money convention); the region total
    re-aggregates those |nations| rounded values through DECIMAL again
    (NOT a window sum over doubles, whose fold order no two engines
    share), so the share is deterministic at any partitioning."""
    c = _scan(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _scan(spark, sf_dir, "nation")
    r = _scan(spark, sf_dir, "region")
    o = _scan(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    nat = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(28,10)")), 4)
            .cast("double")
            .alias("revenue")
        )
    )
    reg = nat.groupBy(F.col("r_name").alias("_r")).agg(
        F.round(F.sum(F.col("revenue").cast("decimal(28,10)")), 4)
        .cast("double")
        .alias("region_revenue")
    )
    return (
        nat.join(F.broadcast(reg), nat.r_name == F.col("_r"))
        .drop("_r")
        .select(
            "r_name",
            "n_name",
            "revenue",
            "region_revenue",
            F.round(F.col("revenue") / F.col("region_revenue"), 9).alias(
                "share"
            ),
        )
    )


def q_event_type_audience_overlap(spark, sf_dir):
    """Audience overlap matrix: exact Jaccard of the user sets of every
    event-type pair -- the cross-feature / cross-surface reach question
    ("how many clickers also purchase"). The |types| dimension is tiny,
    so the exact form is one self-join of the distinct (type, user)
    grid on the user key (per-user fan-out bounded by |types|^2); at a
    bigger type cardinality the MinHash estimate (X95's signature
    machinery) is the documented swap."""
    tu = (
        _events(spark, sf_dir)
        .where(F.col("event_type").isNotNull())
        .select("event_type", "user_id")
        .distinct()
    )
    sizes = tu.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    common = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    return (
        common.join(
            F.broadcast(sizes.select(F.col("event_type").alias("type_a"), F.col("_n").alias("_na"))),
            "type_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("event_type").alias("type_b"), F.col("_n").alias("_nb"))),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("_na") + F.col("_nb") - F.col("n_common")),
                9,
            ).alias("jaccard"),
        )
    )


def q_events_dow_deseasonalize(spark, sf_dir):
    """Additive day-of-week deseasonalization of the daily purchase-
    value mean: deseasonalized(day) = day_mean - dow_mean + global_mean
    -- the first step of every ops-metrics trend read ("is Monday low
    or is the WEEK low"). Three aggregation levels, each a DECIMAL sum
    over the previous level's ROUNDED output (day means 9 dp), so all
    three are engine- and partitioning-exact; the weekday index is pure
    date arithmetic (days since a known Monday mod 7), immune to the
    engines' different DAYOFWEEK numbering conventions."""
    ev = (
        _events(spark, sf_dir)
        .where(
            (F.col("event_type") == "purchase")
            & F.col("ts").isNotNull()
            & F.col("value").isNotNull()
        )
        .select(F.to_date("ts").alias("day"), "value")
    )
    daily = ev.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("day_mean"),
    ).withColumn(
        "dow",
        F.pmod(
            F.datediff(F.col("day"), F.lit("1970-01-05").cast("date")), 7
        ).cast("int"),
    )
    dowm = daily.groupBy(F.col("dow").alias("_dow")).agg(
        F.round(
            F.sum(F.col("day_mean").cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("dow_mean")
    )
    glob = daily.agg(
        F.round(
            F.sum(F.col("day_mean").cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("global_mean")
    )
    return (
        daily.join(F.broadcast(dowm), daily.dow == F.col("_dow"))
        .drop("_dow")
        .crossJoin(F.broadcast(glob))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dow",
            "n_events",
            F.round("day_mean", 6).alias("day_mean"),
            F.round("dow_mean", 6).alias("dow_mean"),
            F.round(
                F.col("day_mean") - F.col("dow_mean") + F.col("global_mean"),
                6,
            ).alias("deseasonalized"),
        )
    )


def q_customers_acctbal_gini(spark, sf_dir):
    """Gini coefficient of customer account balances -- the one-number
    inequality/concentration summary (how top-heavy is the balance
    distribution). Gini = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over the
    ascending-ranked values: the rank comes from the two-phase bucketed
    global_rank (X130 -- NEVER the single-partition ORDER BY window),
    the two weighted sums run through DECIMAL (rank*value products are
    fixed-shape doubles), and the closed form evaluates on the one
    result row. Negative balances are kept (the standard caveat: Gini
    can exceed 1 when totals near zero -- here totals are large and
    positive)."""
    c = _scan(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked = rel.global_rank(
        c, key="c_acctbal", tiebreaker="c_custkey", rank_col="rk"
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(38,10)")).alias("_s0"),
        F.sum(
            (F.col("rk") * F.col("c_acctbal")).cast("decimal(38,10)")
        ).alias("_s1"),
    )
    n = F.col("n_customers").cast("double")
    s0 = F.col("_s0").cast("double")
    s1 = F.col("_s1").cast("double")
    return agg.select(
        "n_customers",
        F.round(s0, 4).alias("total_balance"),
        F.round(2 * s1 / (n * s0) - (n + 1) / n, 9).alias("gini"),
    )


def q_events_peak_concurrency(spark, sf_dir):
    """Per-day peak concurrency of 5-minute activity intervals (each
    event opens [ts, ts+300s), truncated at its day's end): the
    capacity-planning number behind every 'max simultaneous sessions'
    dashboard. Classic sweep-line as SQL: +1/-1 boundary deltas emit
    in-row (x2, map-side), one day-partitioned running-sum window
    ordered (time, delta) -- -1 before +1 at ties, the half-open
    convention -- and a per-day max. Partitions are DAYS (bounded
    rows), so the running sum never becomes the single-partition
    global-sort straggler; day-crossing intervals are truncated by
    construction and documented as start-day attribution."""
    from pyspark.sql import Window

    ev = (
        _events(spark, sf_dir)
        .where(F.col("ts").isNotNull())
        .select(F.to_date("ts").alias("day"), F.unix_micros("ts").alias("_s"))
    )
    day_end = (
        F.unix_micros(F.date_add(F.col("day"), 1).cast("timestamp"))
    )
    deltas = ev.select(
        "day",
        F.explode(
            F.array(
                F.struct(F.col("_s").alias("t"), F.lit(1).alias("d")),
                F.struct(
                    F.least(F.col("_s") + 300_000_000, day_end).alias("t"),
                    F.lit(-1).alias("d"),
                ),
            )
        ).alias("_e"),
    ).select("day", "_e.t", "_e.d")
    w = (
        Window.partitionBy("day")
        .orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = deltas.withColumn("_c", F.sum("d").over(w))
    return run.groupBy("day").agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
        F.max("_c").cast("long").alias("peak_concurrency"),
    ).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_intervals",
        "peak_concurrency",
    )


def q_events_conversion_survival(spark, sf_dir):
    """Kaplan-Meier survival of view->purchase conversion at day
    granularity: for each duration day, the number still at risk, the
    conversions, the right-censored (users who never purchased --
    censored at the corpus horizon), and the KM survival estimate
    S(d) = prod(1 - d_i/n_i) -- the time-to-event analysis (media
    mix, onboarding funnels) that naive conversion rates get wrong by
    ignoring censoring. The product evaluates as exp(cumsum(ln(.)))
    over the |duration-days| table (bounded -- the cumulative_users
    single-partition-over-days convention); each factor is one
    fixed-shape ln over exact integer counts, rounded at the end."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).where(F.col("ts").isNotNull())
    v0 = ev.where(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("_t0")
    )
    p1 = (
        ev.where(F.col("event_type") == "purchase")
        .join(v0, "user_id")
        .where(F.col("ts") > F.col("_t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("_t1"))
    )
    horizon = ev.agg(F.max(F.to_date("ts")).alias("_h"))
    per_user = (
        v0.join(p1, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.col("_t1").isNotNull(),
                F.datediff(F.to_date("_t1"), F.to_date("_t0")),
            )
            .otherwise(F.datediff(F.col("_h"), F.to_date("_t0")))
            .cast("long")
            .alias("dur_day"),
            F.col("_t1").isNotNull().alias("_conv"),
        )
    )
    daily = per_user.groupBy("dur_day").agg(
        F.sum(F.when(F.col("_conv"), 1).otherwise(0))
        .cast("long")
        .alias("n_converted"),
        F.sum(F.when(F.col("_conv"), 0).otherwise(1))
        .cast("long")
        .alias("n_censored"),
    )
    wcum = Window.orderBy("dur_day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    total = per_user.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    at_risk = daily.crossJoin(F.broadcast(total)).withColumn(
        "n_at_risk",
        (
            F.col("_n")
            - F.coalesce(
                F.sum(F.col("n_converted") + F.col("n_censored")).over(wcum),
                F.lit(0),
            )
        ).cast("long"),
    )
    wkm = Window.orderBy("dur_day").rowsBetween(Window.unboundedPreceding, 0)
    # a day where EVERYONE at risk converts has factor 0: ln is
    # undefined (NULL in Spark -- silently DROPPED by the window sum --
    # and an error in DuckDB), so the zero factor is handled explicitly:
    # survival pins to 0 from that day onward
    factor = 1.0 - F.col("n_converted") / F.col("n_at_risk")
    safe_ln = F.log(F.when(factor > 0, factor).otherwise(F.lit(1.0)))
    return at_risk.withColumn(
        "survival",
        F.round(
            F.when(
                F.min(factor).over(wkm) > 0,
                F.exp(F.sum(safe_ln).over(wkm)),
            ).otherwise(F.lit(0.0)),
            6,
        ),
    ).select("dur_day", "n_at_risk", "n_converted", "n_censored", "survival")


def q_embeddings_remove_top_component(spark, sf_dir):
    """All-but-the-top-component postprocessing (Mu & Viswanath 2018):
    project every vector against the power-iteration direction (X185)
    and report the projection plus the norms before/after removal --
    the standard embedding-isotropy fix, here as the per-vector audit.
    The direction is bounded model state (dim doubles) embedded as a
    literal, so the removal pass is MAP-ONLY at any corpus size;
    ||v - proj*u||^2 folds in-row as dot(v,v) - proj^2 (u is unit),
    clamped at 0 against rounding."""
    emb = _emb(spark, sf_dir)
    u = _cached(
        spark,
        sf_dir,
        "pca_top_u",
        lambda: ann_ops.top_principal_component(emb, n_iter=3),
    )
    comps = [
        float(r["component"])
        for r in sorted(u.collect(), key=lambda r: r["pos"])
    ]
    ulit = "array(" + ", ".join(sql_double(x) for x in comps) + ")"
    v = "CAST(embedding AS ARRAY<DOUBLE>)"
    proj = F.round(vec_dot(v, ulit), 9)
    n2 = vec_dot(v, v)
    return emb.select(
        "vec_id",
        proj.alias("proj"),
        F.round(F.sqrt(n2), 6).alias("norm_before"),
        F.round(
            F.sqrt(F.greatest(n2 - proj * proj, F.lit(0.0))), 6
        ).alias("norm_after"),
    )


def q_events_daily_acf(spark, sf_dir):
    """Autocorrelation function of the daily event-count series at
    lags 1..7 (operators/timeseries.py::autocorrelation): the
    seasonality detector -- a weekly cycle shows as a positive lag-7
    spike, which the X188 deseasonalizer then removes. The series
    table is one row per DAY regardless of event volume (bounded time
    dimension), so the lag fan-out and self-join are trivially small
    at any scale; all moments are exact integer/DECIMAL sums and the
    centered estimator expands algebraically so only fixed-shape
    double arithmetic remains (no order-dependent float sum)."""
    from sparkbigdatatextanalysis_spark.operators import timeseries as tsr

    daily = (
        _events(spark, sf_dir)
        .where(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    return tsr.autocorrelation(daily, day_col="day", x_col="x", max_lag=7)


def q_docs_length_ks(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov statistic between the n_chars
    distributions of the even- and odd-numbered document sources
    (operators/stats.py::ks_two_sample) -- the shape-sensitive
    distribution-shift test a mean/stddev drift check misses (two
    corpora can share a mean while one is bimodal). A/B split follows
    the catalog convention: source 'srcN' with even N is sample A. The
    ECDF gap compares as an exact integer cross product per distinct
    length; the one float division happens on the single result row."""
    from sparkbigdatatextanalysis_spark.operators import stats as st_mod

    d = _docs(spark, sf_dir).select(
        "n_chars",
        (F.substring("source", 4, 10).cast("int") % 2 == 0).alias("_is_a"),
    )
    return st_mod.ks_two_sample(
        d, "n_chars", F.col("_is_a"), value_out="ks_at_n_chars"
    )


def q_dedup_assortativity(spark, sf_dir):
    """Degree assortativity of the n-gram-Jaccard candidate graph
    (operators/components.py::degree_assortativity): the one-number
    shape audit of the pair generator -- near-dup graphs of template
    families trend NEGATIVE (star centers attached to leaves), while a
    positive drift signals dense clique growth (a mass-duplication
    event) before cluster sizes blow up. Same jaccard >= 0.05 edge set
    as the triangle-density key, so the two audits read the same
    graph; the degree attach is two PLAIN equi-joins by design (the
    degree table is O(|V|) -- the count_triangles broadcast lesson)."""
    from sparkbigdatatextanalysis_spark.operators import components as cc

    pairs = dd.ngram_jaccard_pairs(
        _docs(spark, sf_dir, wide=True), min_jaccard=0.05
    ).select("a_id", "b_id")
    return cc.degree_assortativity(pairs, "a_id", "b_id")


def q_orders_interpurchase_dist(spark, sf_dir):
    """Inter-purchase gap distribution per market segment: consecutive
    same-customer order-date gaps bucketed (0-7 / 8-30 / 31-90 / 90+
    days) with each bucket's share and exact mean gap -- the
    replenishment-cadence read behind every churn-risk window choice.
    Gaps come from ONE customer-partitioned lag window (per-customer
    row counts are bounded); the segment attach is a plain equi-join
    on the customer key (AQE broadcasts at small scale); bucket shares
    divide exact BIGINT counts re-aggregated from the bucket table
    (X186's re-aggregate-the-rounded-level convention), never a
    window-over-doubles."""
    from pyspark.sql import Window

    o = _scan(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    c = _scan(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.withColumn(
            "_gap",
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(w)
            ).cast("long"),
        )
        .where(F.col("_gap").isNotNull())
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_mktsegment",
            "_gap",
            F.when(F.col("_gap") <= 7, "0-7")
            .when(F.col("_gap") <= 30, "8-30")
            .when(F.col("_gap") <= 90, "31-90")
            .otherwise("90+")
            .alias("gap_bucket"),
        )
    )
    per = gaps.groupBy("c_mktsegment", "gap_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("_gap").cast("decimal(18,0)").alias("_sg"),
    )
    seg = per.groupBy(F.col("c_mktsegment").alias("_seg")).agg(
        F.sum("n_gaps").cast("long").alias("_tot")
    )
    return (
        per.join(F.broadcast(seg), per.c_mktsegment == F.col("_seg"))
        .select(
            "c_mktsegment",
            "gap_bucket",
            "n_gaps",
            F.round(
                F.col("n_gaps").cast("double") / F.col("_tot").cast("double"),
                9,
            ).alias("share"),
            F.round(
                F.col("_sg").cast("double") / F.col("n_gaps").cast("double"),
                9,
            ).alias("mean_gap_days"),
        )
    )


def q_events_chisq_type_dow(spark, sf_dir):
    """Chi-square statistic of independence between event_type and
    day-of-week: the contingency-table test behind "does the type mix
    shift across the week" -- the categorical complement of the X188
    additive decomposition. Observed cells are one bounded
    groupBy(type, dow); marginals RE-AGGREGATE the cell table (never a
    second raw scan) and broadcast back as true dimensions; expected
    counts and per-cell terms are fixed-shape doubles over exact
    BIGINTs, each term rounded to 9 dp before the DECIMAL sum (the 35
    cells would otherwise fold in engine order). Weekday is pure date
    arithmetic, days-since-Monday mod 7 (the X188 convention)."""
    ev = (
        _events(spark, sf_dir)
        .where(F.col("ts").isNotNull())
        .select(
            "event_type",
            F.pmod(
                F.datediff(
                    F.to_date("ts"), F.lit("1970-01-05").cast("date")
                ),
                7,
            ).cast("int").alias("dow"),
        )
    )
    cells = ev.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    rt = cells.groupBy(F.col("event_type").alias("_t")).agg(
        F.sum("n").cast("long").alias("_rt")
    )
    ct = cells.groupBy(F.col("dow").alias("_d")).agg(
        F.sum("n").cast("long").alias("_ct")
    )
    tot = cells.agg(F.sum("n").cast("long").alias("_n"))
    j = (
        cells.join(F.broadcast(rt), cells.event_type == F.col("_t"))
        .join(F.broadcast(ct), cells.dow == F.col("_d"))
        .crossJoin(F.broadcast(tot))
    )
    e = (
        F.col("_rt").cast("double")
        * F.col("_ct").cast("double")
        / F.col("_n").cast("double")
    )
    term = F.round(
        (F.col("n").cast("double") - e) * (F.col("n").cast("double") - e) / e,
        9,
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.max("_n").alias("n_total"),
        (
            (F.count_distinct(F.col("event_type")) - 1)
            * (F.count_distinct(F.col("dow")) - 1)
        ).cast("long").alias("dof"),
        F.round(
            F.sum(term.cast("decimal(38,10)")).cast("double"), 6
        ).alias("chi2"),
    )


def q_brand_supplier_hhi(spark, sf_dir):
    """Herfindahl-Hirschman concentration of supplier revenue within
    each part brand: HHI = sum(share^2) over suppliers -- the
    supply-risk number behind single-source alerts (1.0 = one
    supplier, 1/n = perfectly split). Revenue products are fixed-shape
    doubles summed through DECIMAL per (brand, supplier); the brand
    total re-aggregates the ROUNDED supplier revenues (X186's
    convention), shares divide two exact doubles, and share^2 terms
    round to 12 dp before their DECIMAL sum. The brand re-join reuses
    the groupBy's hash partitioning (no forced broadcast -- the
    attribution_linear lesson: the supplier-level table is
    O(|brands| x |suppliers|))."""
    li = _scan(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        ).cast("decimal(38,10)").alias("_rev"),
    )
    p = _scan(spark, sf_dir, "part").select("p_partkey", "p_brand")
    bs = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "l_suppkey")
        .agg(F.round(F.sum("_rev").cast("double"), 4).alias("_rev_s"))
    )
    btot = bs.groupBy(F.col("p_brand").alias("_b")).agg(
        F.sum(F.col("_rev_s").cast("decimal(38,10)")).alias("_totd")
    )
    share = F.col("_rev_s") / F.col("_totd").cast("double")
    return (
        bs.join(btot, bs.p_brand == F.col("_b"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.round(F.max(F.col("_totd").cast("double")), 4).alias(
                "brand_revenue"
            ),
            F.round(
                F.sum(
                    F.round(share * share, 12).cast("decimal(38,18)")
                ).cast("double"),
                9,
            ).alias("hhi"),
            F.round(F.max(share), 9).alias("top_share"),
        )
    )


_MMR_K = 5
_MMR_POOL = 20
_MMR_LAMBDA = 0.7
_MMR_CACHE: dict[tuple, tuple[SparkSession, tuple]] = {}


def _mmr_pool(spark, sf_dir):
    """The MMR candidate pool: the _MMR_POOL nearest neighbors of the
    min-vec_id probe by ENGINE-rounded 9dp cosine, tie-broken to the
    smallest id -- exactly _broadcast_topk's (cos desc, n_id) order, so
    the pool can ride the IVF index at scale: with full probing
    cosine_topk_ivf returns this identical set (equality-pinned in
    tests/test_round10_wave12.py, the hubness/triplet discipline).
    Returns (nv, q_id, qv, qn, [(id, rel), ...])."""
    nv = ann_ops._norm_vecs(_emb(spark, sf_dir), "vec_id", "embedding")
    qrow = nv.orderBy("id").limit(1).collect()[0]
    q_id, qv, qn = qrow["id"], [float(x) for x in qrow["v"]], float(qrow["norm"])
    qlit = "array(" + ", ".join(sql_double(x) for x in qv) + ")"
    rel = F.round(vec_dot("v", qlit) / (F.lit(qn) * F.col("norm")), 9)
    cands = (
        nv.where(F.col("id") != q_id)
        .select("id", "v", "norm", rel.alias("rel"))
        .orderBy(F.col("rel").desc(), "id")
        .limit(_MMR_POOL)
        .collect()
    )
    pool = [(int(r["id"]), float(r["rel"])) for r in cands]
    return nv, q_id, qv, qn, pool


def _mmr_select(spark, sf_dir):
    """Maximal-Marginal-Relevance selection, ferried driver-side over
    BOUNDED state (the kmeans/BPE precedent): the candidate pool is
    _MMR_POOL rows x dim doubles -- model state, not data. Relevance
    and EVERY pairwise cosine are rounded to 9 dp BY THE ENGINE before
    they cross the driver (a Python-side round emulation differed in
    the last digit at one boundary -- the engines' round must do all
    rounding); the greedy score 0.7*rel - 0.3*maxsim is then pure
    fixed-shape double arithmetic over those ferried values, so the
    oracle's unrolled per-pick CTE replay selects identically. Ties
    break to the smallest vec_id.

    Cache keyed by sf_dir with the owning session stored alongside and
    identity-checked (the _DF_CACHE pattern): id(spark) alone collides
    when a stopped session's address is reused, which would replay
    stale ferried picks against rewritten data."""
    key = (sf_dir,)
    slot = _MMR_CACHE.get(key)
    if slot is not None and slot[0] is spark:
        return slot[1]

    nv, q_id, qv, qn, pool = _mmr_pool(spark, sf_dir)
    ids = [c[0] for c in pool]
    # pairwise candidate cosines, rounded by the ENGINE (bounded:
    # pool*(pool-1)/2 rows) -- the one extra build job
    sub_a = nv.where(F.col("id").isin(ids)).select(
        F.col("id").alias("_a"), F.col("v").alias("_va"), F.col("norm").alias("_na")
    )
    sub_b = nv.where(F.col("id").isin(ids)).select(
        F.col("id").alias("_b"), F.col("v").alias("_vb"), F.col("norm").alias("_nb")
    )
    sim_rows = (
        sub_a.join(F.broadcast(sub_b), F.col("_a") < F.col("_b"))
        .select(
            "_a",
            "_b",
            F.round(
                vec_dot("_va", "_vb")
                / (F.col("_na") * F.col("_nb")),
                9,
            ).alias("_s"),
        )
        .collect()
    )
    simmap: dict[tuple, float] = {}
    for r in sim_rows:
        s = float(r["_s"])
        simmap[(r["_a"], r["_b"])] = s
        simmap[(r["_b"], r["_a"])] = s

    selected: list[tuple] = []
    remaining = list(pool)
    while remaining and len(selected) < _MMR_K:
        best = None
        for cid, crel in remaining:
            maxsim = max(
                (simmap[(cid, s[0][0])] for s in selected), default=0.0
            )
            score = _MMR_LAMBDA * crel - (1.0 - _MMR_LAMBDA) * maxsim
            if best is None or (score, -cid) > (best[1], -best[0][0]):
                best = ((cid, crel), score)
        selected.append(best)
        remaining = [c for c in remaining if c[0] != best[0][0]]
    out = [
        (rank + 1, c[0], c[1], score)
        for rank, (c, score) in enumerate(selected)
    ]
    _MMR_CACHE[key] = (spark, (out, q_id, qv, qn))
    return _MMR_CACHE[key][1]


def q_embeddings_mmr_topk(spark, sf_dir):
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein 1998): greedily pick 5 of the 20 nearest neighbors of a
    fixed probe (the minimum vec_id) maximizing 0.7*relevance -
    0.3*max-similarity-to-already-picked -- the exemplar-selection
    primitive behind diverse few-shot pools and dedup-aware retrieval,
    where plain top-k returns five copies of the same cluster. The
    greedy loop runs driver-side over the BOUNDED candidate pool (20 x
    dim doubles -- the kmeans/BPE model-state precedent); the gated
    surface re-derives each pick's relevance DISTRIBUTED against the
    probe literal, and the oracle replays the whole greedy as five
    unrolled materialized CTE picks -- selection proven, not trusted."""
    sel, q_id, qv, qn = _mmr_select(spark, sf_dir)
    ids = [s[1] for s in sel]
    rank_expr = F.lit(None).cast("int")
    score_expr = F.lit(None).cast("double")
    for rank, vid, _rel, score in sel:
        rank_expr = F.when(F.col("vec_id") == vid, F.lit(rank)).otherwise(
            rank_expr
        )
        score_expr = F.when(
            F.col("vec_id") == vid, F.round(F.lit(score), 6)
        ).otherwise(score_expr)
    nv = ann_ops._norm_vecs(_emb(spark, sf_dir), "vec_id", "embedding")
    qlit = "array(" + ", ".join(sql_double(x) for x in qv) + ")"
    rel = F.round(vec_dot("v", qlit) / (F.lit(qn) * F.col("norm")), 9)
    return (
        nv.where(F.col("id").isin(ids))
        .select(F.col("id").alias("vec_id"), rel.alias("relevance"))
        .withColumn("rank", rank_expr)
        .withColumn("mmr_score", score_expr)
        .select("rank", "vec_id", "relevance", "mmr_score")
    )


def q_events_cusum_changepoint(spark, sf_dir):
    """CUSUM changepoint detection over the daily event-count series:
    S_t = (cumulative count through day t) - t*global_mean, and the
    changepoint is the day of max |S_t| -- the standard level-shift
    locator (Page 1954) behind "when did traffic actually change"
    reads. The cumulative sum is an EXACT integer running total over
    the bounded |days| table (ordered window, day-unique rows); only
    the final S_t subtracts a fixed-shape double mean, so no
    order-dependent float sum exists. Ties break to the earliest day
    via a struct max carrying the negated epoch day."""
    from pyspark.sql import Window

    daily = (
        _events(spark, sf_dir)
        .where(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("x").cast("long").alias("_sx"),
    )
    cum = daily.select(
        "day",
        F.sum("x").over(w).cast("long").alias("_cum"),
        F.row_number().over(Window.orderBy("day")).cast("long").alias("_t"),
    )
    mean = F.col("_sx").cast("double") / F.col("_n").cast("double")
    dev = F.abs(
        F.col("_cum").cast("double") - F.col("_t").cast("double") * mean
    )
    scored = cum.crossJoin(F.broadcast(tot)).select(
        "_n",
        F.round(dev, 9).alias("_dev"),
        (-F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))).alias(
            "_nd"
        ),
    )
    best = scored.groupBy("_n").agg(
        F.max(F.struct(F.col("_dev"), F.col("_nd"))).alias("_m")
    )
    return best.select(
        F.col("_n").alias("n_days"),
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"), -F.col("_m._nd")),
            "yyyy-MM-dd",
        ).alias("changepoint_day"),
        F.col("_m._dev").alias("max_abs_cusum"),
    )


def q_docs_token_entropy(spark, sf_dir):
    """Per-document Shannon entropy of the token distribution (plus a
    type-normalized form): the quality signal that separates natural
    prose from keyword-stuffed or template pages at equal length --
    the probabilistic complement of X181's type-token ratio. One
    explode + (doc, token) partial agg; the per-doc total join reuses
    the groupBy's doc partitioning. Each -p*ln(p) term is fixed-shape
    (ln rounded to 9 dp first, the Zipf/PMI libm-ulp convention) and
    the per-doc sum runs through DECIMAL, so fold order cannot move
    the hash."""
    tok = _tok(spark, sf_dir)
    ex = tok.select("id", F.explode("tokens").alias("token"))
    cnt = ex.groupBy("id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    tot = cnt.groupBy("id").agg(
        F.sum("_c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    p = F.col("_c").cast("double") / F.col("n_tokens").cast("double")
    term = (p * F.round(F.log(p), 9)).cast("decimal(38,10)")
    ent = cnt.join(tot, "id").groupBy("id", "n_tokens", "n_types").agg(
        F.round(-F.sum(term).cast("double"), 6).alias("entropy")
    )
    return ent.select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        "n_types",
        "entropy",
        F.round(
            F.when(
                F.col("n_types") > 1,
                F.col("entropy")
                / F.round(F.log(F.col("n_types").cast("double")), 9),
            ),
            6,
        ).alias("norm_entropy"),
    )


def q_customers_pareto_front(spark, sf_dir):
    """2-D skyline / Pareto front of customers by (order count, total
    spend), both maximized (operators/relational.py::skyline_2d): the
    rows no other customer strictly dominates -- the multi-objective
    shortlist a single blended score would distort. The decomposition
    (per-x max collapse -> bounded prefix-max window -> join-back) is
    proven equal to the quadratic NOT-EXISTS definition by the oracle.
    Spend sums run through DECIMAL and round to 4 dp before any
    comparison, so skyline membership is engine-exact."""
    stats = (
        _scan(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(38,10)")).cast(
                    "double"
                ),
                4,
            ).alias("total_spend"),
        )
    )
    return rel.skyline_2d(stats, "n_orders", "total_spend")


def q_sessions_bounce_rate(spark, sf_dir):
    """Per-day session bounce rate: share of gap-based sessions (X19's
    sessionizer, 30-min gap) containing exactly ONE event, plus the
    exact mean session duration -- the engagement-quality read behind
    every landing-page report. Sessions re-aggregate to days (the
    session table is already user-collapsed); durations sum as exact
    integer microseconds through DECIMAL; the bounce share divides two
    exact BIGINTs. Day attribution follows session_start."""
    from sparkbigdatatextanalysis_spark.streaming import sessionize as sz

    s = sz.sessionize_batch(_events(spark, sf_dir))
    dur_us = F.unix_micros("session_end") - F.unix_micros("session_start")
    per_day = s.groupBy(
        F.date_format("session_start", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_bounce"),
        F.sum(dur_us.cast("decimal(18,0)")).alias("_dur"),
    )
    return per_day.select(
        "day",
        "n_sessions",
        "n_bounce",
        F.round(
            F.col("n_bounce").cast("double") / F.col("n_sessions").cast("double"),
            9,
        ).alias("bounce_rate"),
        F.round(
            F.col("_dur").cast("double")
            / F.col("n_sessions").cast("double")
            / F.lit(1000000.0),
            6,
        ).alias("mean_duration_s"),
    )


def q_sources_similarity_matrix(spark, sf_dir):
    """Pairwise cosine similarity between per-source TF-IDF centroids:
    the corpus-curation "source redundancy map" -- two crawls with
    near-identical centroids are candidates for dedup/deprioritization
    before any pair-level work runs. Centroid components are mean
    TF-IDF weights per (source, token) -- exact-scalar weights summed
    through DECIMAL, mean rounded 9 dp -- and the source-pair dot/norms
    re-aggregate those ROUNDED components (X186's convention). The
    token self-join fans out |sources| per token (a bounded dimension),
    so cost scales with vocabulary, never with pairs of documents."""
    d = _docs(spark, sf_dir).select(F.col("doc_id").alias("id"), "source")

    def _build_cent():
        w = _weights(spark, sf_dir).join(d, "id")
        nsrc = d.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("_nd")
        )
        return (
            w.groupBy("source", "token")
            .agg(F.sum(F.col("weight").cast("decimal(38,10)")).alias("_sw"))
            .join(F.broadcast(nsrc), "source")
            .select(
                "source",
                "token",
                F.round(
                    F.col("_sw").cast("double") / F.col("_nd").cast("double"),
                    9,
                ).alias("m"),
            )
        )

    # persisted: the centroid table (|sources| x |vocab| -- sublinear
    # in the corpus) feeds THREE consumers (norms + both join sides);
    # un-persisted, the whole TF-IDF lineage would re-run per consumer
    cent = _cached(spark, sf_dir, "src_centroids", _build_cent)
    nrm = cent.groupBy(F.col("source").alias("_s")).agg(
        F.sum((F.col("m") * F.col("m")).cast("decimal(38,18)")).alias("_n2")
    )
    a = cent.select(
        F.col("source").alias("source_a"), "token", F.col("m").alias("_ma")
    )
    b = cent.select(
        F.col("source").alias("source_b"), "token", F.col("m").alias("_mb")
    )
    dots = (
        a.join(b, "token")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common_tokens"),
            F.sum((F.col("_ma") * F.col("_mb")).cast("decimal(38,18)")).alias(
                "_dot"
            ),
        )
    )
    na = nrm.select(F.col("_s").alias("source_a"), F.col("_n2").alias("_na2"))
    nb = nrm.select(F.col("_s").alias("source_b"), F.col("_n2").alias("_nb2"))
    return (
        dots.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common_tokens",
            F.round(
                F.col("_dot").cast("double")
                / (
                    F.sqrt(F.col("_na2").cast("double"))
                    * F.sqrt(F.col("_nb2").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
    )


def q_dedup_bfs_depths(spark, sf_dir):
    """Bounded BFS level census from the (degree, id)-argmax seed of
    the n-gram-Jaccard candidate graph (operators/components.py::
    bfs_levels): how far the densest near-dup family spreads hop by
    hop -- component SIZE (X33/X156) without SHAPE misses chain
    topologies that transitive dedup then over-merges. Frontier
    expansion is exact set algebra, so the oracle replays every hop as
    an unrolled CTE; the unreachable remainder (dist = -1) covers the
    rest of the graph."""
    from sparkbigdatatextanalysis_spark.operators import components as cc

    pairs = dd.ngram_jaccard_pairs(
        _docs(spark, sf_dir, wide=True), min_jaccard=0.05
    ).select("a_id", "b_id")
    return cc.bfs_levels(pairs, "a_id", "b_id", max_hops=4)


def q_embeddings_knn_hubness(spark, sf_dir):
    """k-NN in-degree (hubness) audit: how often each vector appears
    in OTHER vectors' top-5 neighbor lists -- the classic
    high-dimensional pathology check (Radovanovic et al. 2010): hub
    vectors dominate retrieval and poison k-NN labeling (X142), so the
    in-degree distribution is the go/no-go on cosine k-NN before it
    ships. Reuses the X7 brute-force top-k (every vector as query; the
    IVF path X8b is the documented swap at scale) via the shared
    cached audit baseline (_bf_topk_all, r12); the in-degree is
    one groupBy over the top-k edge list, left-joined back so
    zero-in-degree anti-hubs are reported too."""
    emb = _emb(spark, sf_dir)
    topk = _bf_topk_all(spark, sf_dir)
    indeg = topk.groupBy(F.col("n_id").alias("vec_id")).agg(
        F.count(F.lit(1)).cast("long").alias("in_degree")
    )
    return (
        emb.select("vec_id")
        .join(indeg, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("in_degree", F.lit(0)).cast("long").alias("in_degree"),
        )
    )


def q_referential_integrity_audit(spark, sf_dir):
    """Cross-table referential-integrity audit: per foreign-key
    relationship, the child row count, orphan count (no matching
    parent), and orphan rate -- the first data-quality gate of every
    warehouse load (a broken upstream export shows here before any
    metric silently drops rows at an inner join). The four TPC-H legs
    are clean by construction; the events->customer leg genuinely
    carries orphans (event user ids are not all customer keys), so the
    audit's non-zero path is exercised at gate scale. Each leg is one
    left join against the DISTINCT parent key set (key-only, plain
    equi-join -- parent key sets are NOT force-broadcast; AQE
    broadcasts the genuinely small ones)."""
    li = _scan(spark, sf_dir, "lineitem")
    legs = [
        (
            "lineitem->orders",
            li.select(F.col("l_orderkey").alias("k")),
            _scan(spark, sf_dir, "orders").select(
                F.col("o_orderkey").alias("k")
            ),
        ),
        (
            "orders->customer",
            _scan(spark, sf_dir, "orders").select(
                F.col("o_custkey").alias("k")
            ),
            _scan(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("k")
            ),
        ),
        (
            "lineitem->part",
            li.select(F.col("l_partkey").alias("k")),
            _scan(spark, sf_dir, "part").select(F.col("p_partkey").alias("k")),
        ),
        (
            "lineitem->supplier",
            li.select(F.col("l_suppkey").alias("k")),
            _scan(spark, sf_dir, "supplier").select(
                F.col("s_suppkey").alias("k")
            ),
        ),
        (
            "events->customer",
            _events(spark, sf_dir).select(F.col("user_id").alias("k")),
            _scan(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("k")
            ),
        ),
    ]
    out = None
    for name, child, parent in legs:
        pk = parent.distinct().withColumn("_hit", F.lit(1))
        leg = (
            child.join(pk, "k", "left")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_child"),
                F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_orphans"),
            )
            .select(
                F.lit(name).alias("relationship"),
                "n_child",
                "n_orphans",
                F.round(
                    F.col("n_orphans").cast("double")
                    / F.col("n_child").cast("double"),
                    9,
                ).alias("orphan_rate"),
            )
        )
        out = leg if out is None else out.unionByName(leg)
    return out


def q_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value curve: customers cohorted by first-order
    year, cumulative revenue per cohort customer by years-since-first
    -- the growth metric that separates "new cohorts spend faster"
    from "we just have more cohorts" (X123's retention counts say who
    came back, not what they were worth). Yearly revenue sums run
    through DECIMAL and round at the (cohort, age) grid; the
    cumulative sum re-aggregates those ROUNDED cells over an ordered
    window whose partitions are cohorts (bounded grid -- the
    cumulative-users convention); LTV divides by the fixed cohort
    size, so later-age rows stay comparable as activity thins."""
    from pyspark.sql import Window

    o = _scan(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").cast("int").alias("yr"),
        F.col("o_totalprice").cast("decimal(38,10)").alias("_p"),
    )
    first = o.groupBy("o_custkey").agg(F.min("yr").alias("cohort_year"))
    cells = (
        o.join(first, "o_custkey")
        .groupBy(
            "cohort_year", (F.col("yr") - F.col("cohort_year")).alias("age_years")
        )
        .agg(
            F.count_distinct("o_custkey").cast("long").alias("n_active"),
            F.round(F.sum("_p").cast("double"), 4).alias("_rev"),
        )
    )
    csize = first.groupBy(F.col("cohort_year").alias("_cy")).agg(
        F.count(F.lit(1)).cast("long").alias("_nc")
    )
    w = Window.partitionBy("cohort_year").orderBy("age_years").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        cells.withColumn(
            "_cum",
            F.sum(F.col("_rev").cast("decimal(38,10)")).over(w).cast("double"),
        )
        .join(F.broadcast(csize), cells.cohort_year == F.col("_cy"))
        .select(
            "cohort_year",
            F.col("age_years").cast("int").alias("age_years"),
            "n_active",
            F.round("_cum", 4).alias("cum_revenue"),
            F.round(
                F.col("_cum") / F.col("_nc").cast("double"), 6
            ).alias("ltv_per_customer"),
        )
    )


def q_orders_price_qq(spark, sf_dir):
    """Decile QQ comparison of order prices between the early and late
    halves of the stream (same 2000-01-01 split as the PSI key): the
    quantile-level drill-down behind a moved PSI -- WHERE in the
    distribution the shift lives (a tail move and a median move need
    different responses). Each period is ONE exact-percentile agg (9
    cuts, broadcast single rows; at 100 TB swap approx_percentile, the
    PSI convention); cuts round to 6 dp on BOTH engines before any
    arithmetic (Spark percentile and DuckDB quantile_cont share the
    (n-1)p interpolation, and 6 dp absorbs their low-order bits); the
    ratio divides the two rounded cuts."""
    o = _scan(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    split = F.lit("2000-01-01").cast("timestamp")
    qs = "array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)"

    def cuts(df):
        return df.agg(
            F.expr(
                f"transform(percentile(o_totalprice, {qs}), c -> round(c, 6))"
            ).alias("_c")
        )

    early = cuts(o.where(F.col("o_orderdate") < split))
    late = cuts(o.where(F.col("o_orderdate") >= split))
    paired = (
        early.crossJoin(F.broadcast(late.withColumnRenamed("_c", "_cl")))
        .select(
            F.posexplode(F.arrays_zip(F.col("_c"), F.col("_cl"))).alias(
                "_i", "_p"
            )
        )
    )
    return paired.select(
        (F.round((F.col("_i") + 1) * F.lit(0.1), 1)).alias("quantile"),
        F.col("_p._c").alias("q_early"),
        F.col("_p._cl").alias("q_late"),
        F.round(F.col("_p._cl") / F.col("_p._c"), 6).alias("qq_ratio"),
    )


def q_dedup_medoid_reps(spark, sf_dir):
    """Medoid representative per near-dup cluster: the member with the
    highest MEAN n-gram Jaccard to its cluster peers (ties to the
    smaller id) -- the centrality-based survivor policy beside
    X102's quality-based one (the medoid is the least-mangled copy by
    construction, no quality model needed). Cluster-internal pair sims
    come from a CLUSTER-KEYED shingle self-join -- the cluster label
    attaches to the shingle rows first and the pair join keys on
    (keep_id, sh), so cross-cluster candidates are pruned INSIDE the
    join (the raw >=1-shared-shingle graph is quadratically dense in
    hot shingle buckets; generating it only to filter afterwards is
    the plan that dies at 100 TB). Pairs sharing no shingle contribute
    0 (transitive members); per-member sums run through DECIMAL on the
    9-dp-rounded jaccards; the mean divides by (cluster_size - 1) and
    the per-cluster argmax is a struct max. Singletons keep NULL mean.
    The oracle computes the same jaccards from the UNKEYED candidate
    graph + an after-the-fact cluster filter, so the pruned join is
    proven equal to the naive shape."""
    cl = _dedup_clusters(spark, sf_dir).select("doc_id", "keep_id")
    sh = dd.shingle_hashes(_docs(spark, sf_dir, wide=True)).select(
        F.col("id").alias("doc_id"), "sh"
    )
    sizes_doc = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("_nsh")
    )
    shc = sh.join(cl, "doc_id").persist()
    a = shc.select("keep_id", "sh", F.col("doc_id").alias("_a"))
    b = shc.select("keep_id", "sh", F.col("doc_id").alias("_b"))
    inter = (
        a.join(b, ["keep_id", "sh"])
        .where(F.col("_a") < F.col("_b"))
        .groupBy("keep_id", "_a", "_b")
        .agg(F.count(F.lit(1)).cast("long").alias("_ni"))
    )
    jpair = (
        inter.join(
            sizes_doc.select(F.col("doc_id").alias("_a"), F.col("_nsh").alias("_na")),
            "_a",
        )
        .join(
            sizes_doc.select(F.col("doc_id").alias("_b"), F.col("_nsh").alias("_nb")),
            "_b",
        )
        .select(
            "keep_id",
            "_a",
            "_b",
            (
                F.col("_ni")
                / (F.col("_na") + F.col("_nb") - F.col("_ni"))
            ).alias("_j"),
        )
    )
    sym = jpair.select(
        "keep_id",
        F.explode(
            F.array(
                F.struct(F.col("_a").alias("m"), F.col("_j").alias("j")),
                F.struct(F.col("_b").alias("m"), F.col("_j").alias("j")),
            )
        ).alias("_e"),
    ).select("keep_id", "_e.m", "_e.j")
    insums = sym.groupBy("keep_id", "m").agg(
        F.sum(F.round("j", 9).cast("decimal(38,18)")).alias("_sj")
    )
    sizes = cl.groupBy("keep_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    members = (
        cl.join(sizes, "keep_id")
        .join(
            insums.withColumnRenamed("m", "doc_id"),
            ["keep_id", "doc_id"],
            "left",
        )
        .select(
            "keep_id",
            "cluster_size",
            "doc_id",
            F.when(
                F.col("cluster_size") > 1,
                F.coalesce(F.col("_sj").cast("double"), F.lit(0.0))
                / (F.col("cluster_size") - 1).cast("double"),
            ).alias("_avg"),
        )
    )
    best = members.groupBy("keep_id", "cluster_size").agg(
        F.max(
            F.struct(
                F.coalesce(F.col("_avg"), F.lit(0.0)).alias("_a"),
                (-F.col("doc_id")).alias("_nd"),
                F.col("_avg").alias("_raw"),
            )
        ).alias("_m")
    )
    return best.select(
        "keep_id",
        "cluster_size",
        (-F.col("_m._nd")).alias("medoid_id"),
        F.round(F.col("_m._raw"), 6).alias("medoid_avg_sim"),
    )


def q_nation_revenue_forecast_backtest(spark, sf_dir):
    """Grouped OLS forecast backtest: fit yearly revenue per customer
    nation on pre-1998 years (X138's DECIMAL-moment linreg), predict
    1998, report absolute percentage error against the actual -- the
    eval harness every forecasting swap needs (changing the model
    changes one stage; the backtest contract stays). Revenue cells
    round at the (nation, year) grid before either the fit or the
    actuals read them, so fit and truth share one exact input; the
    forecast is fixed-shape arithmetic over the ROUNDED fit
    coefficients (both engines round identically)."""
    from sparkbigdatatextanalysis_spark.operators import stats as st_mod

    o = _scan(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").cast("int").alias("yr"),
        F.col("o_totalprice").cast("decimal(38,10)").alias("_p"),
    )
    c = _scan(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _scan(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cells = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "yr")
        .agg(F.round(F.sum("_p").cast("double"), 4).alias("rev"))
    )
    fit = st_mod.grouped_linreg(
        cells.where(F.col("yr") < 1998).withColumn(
            "x", (F.col("yr") - 1995).cast("double")
        ),
        ["n_name"],
        "x",
        "rev",
    )
    actual = cells.where(F.col("yr") == 1998).select(
        "n_name", F.col("rev").alias("actual_1998")
    )
    forecast = F.round(F.col("slope") * F.lit(3.0) + F.col("intercept"), 4)
    return (
        fit.join(actual, "n_name")
        .where(F.col("slope").isNotNull())
        .select(
            "n_name",
            "n_points",
            "slope",
            "intercept",
            forecast.alias("forecast_1998"),
            "actual_1998",
            F.round(
                F.abs(forecast - F.col("actual_1998"))
                / F.col("actual_1998"),
                6,
            ).alias("ape"),
        )
    )


def q_docs_feature_hash(spark, sf_dir):
    """Hashing-trick featurization (Weinberger et al. 2009): every
    token folds into one of 64 signed buckets via the shared md5 hash
    -- the fixed-width featurizer that feeds linear models at corpus
    scale with NO vocabulary table (new tokens never grow state, the
    property TF-IDF lacks). Output is the sparse relational form
    (doc_id, bucket, fh_value): one explode + one partial agg, all
    integer arithmetic (bucket = h mod 64, sign = bit 6 of the same
    hash), so the hash is exact by construction on both engines."""
    ex = _tok(spark, sf_dir).select(
        F.col("id").alias("doc_id"), F.explode("tokens").alias("token")
    )
    from sparkbigdatatextanalysis_spark.functions.hashing import (
        string_hash31 as _h31,
    )

    hcol = _h31(F.col("token"))
    sign = F.when(
        F.shiftright(hcol, 6).bitwiseAND(F.lit(1)) == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    return (
        ex.select("doc_id", (hcol % 64).cast("int").alias("bucket"), sign.alias("_s"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("_s").cast("long").alias("fh_value"))
    )


def q_users_wow_retention(spark, sf_dir):
    """Week-over-week retention: per week, the active users, the brand
    new ones, the retained (also active the PRIOR week), and the WoW
    retention rate (retained / previous week's actives) -- the
    canonical growth-accounting read (X123's cohort matrix collapsed
    to its first off-diagonal, kept fresh weekly). Events collapse to
    the distinct |user x week| grid first (the X177 week index:
    days-since-Monday-epoch / 7); retention is ONE self-equi-join of
    that grid on (user, week-1); the weekly rollup and its lag window
    run over the bounded |weeks| table."""
    from pyspark.sql import Window

    uw = (
        _events(spark, sf_dir)
        .where(F.col("ts").isNotNull())
        .select(
            "user_id",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.lit("1970-01-05").cast("date"),
                )
                / 7
            )
            .cast("long")
            .alias("widx"),
        )
        .distinct()
    )
    act = uw.groupBy("widx").agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )
    prev = uw.select(
        "user_id", (F.col("widx") + 1).alias("widx")
    )
    ret = (
        uw.join(prev, ["user_id", "widx"])
        .groupBy("widx")
        .agg(F.count(F.lit(1)).cast("long").alias("n_retained"))
    )
    firstw = uw.groupBy("user_id").agg(F.min("widx").alias("widx"))
    new = firstw.groupBy("widx").agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    w = Window.orderBy("week_idx")
    weekly = (
        act.join(ret, "widx", "left")
        .join(new, "widx", "left")
        .select(
            F.col("widx").alias("week_idx"),
            "n_active",
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
            F.coalesce("n_retained", F.lit(0)).cast("long").alias("n_retained"),
        )
    )
    return weekly.withColumn(
        "wow_retention",
        F.round(
            F.col("n_retained").cast("double")
            / F.lag("n_active").over(w).cast("double"),
            9,
        ),
    )


def q_customers_lorenz_deciles(spark, sf_dir):
    """Lorenz-curve deciles of customer revenue: customers ranked by
    revenue, cut into 10 equal-count buckets, each with its revenue
    share and the cumulative share -- the distribution read behind
    X189's one-number Gini (WHERE the concentration lives). The rank
    is X130's two-phase bucketed global_rank (never a single-partition
    window over customers); decile assignment is exact integer
    arithmetic on (rank-1)*10/n; decile revenues re-aggregate ROUNDED
    per-customer revenues through DECIMAL, the total re-aggregates the
    10 decile rows (X186), and the cumulative share is a window over
    exactly 10 rows."""
    from pyspark.sql import Window

    rev = (
        _scan(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(38,10)")).cast(
                    "double"
                ),
                4,
            ).alias("revenue")
        )
    )
    # one agg over orders; persisted because it feeds BOTH the rank
    # decomposition and the customer-count scalar
    rev = rev.persist()
    ranked = rel.global_rank(
        rev, key="revenue", tiebreaker="custkey", rank_col="rk"
    )
    tot_n = rev.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    deciles = (
        ranked.crossJoin(F.broadcast(tot_n))
        .select(
            F.floor(
                (F.col("rk") - 1) * 10 / F.col("_n")
            ).cast("int").alias("decile"),
            "revenue",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(
                F.sum(F.col("revenue").cast("decimal(38,10)")).cast("double"),
                4,
            ).alias("decile_revenue"),
        )
        # 10 rows feeding the total re-agg AND the final projection
        .persist()
    )
    tot_rev = deciles.agg(
        F.sum(F.col("decile_revenue").cast("decimal(38,10)"))
        .cast("double")
        .alias("_tot")
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        deciles.crossJoin(F.broadcast(tot_rev))
        .select(
            "decile",
            "n_customers",
            "decile_revenue",
            F.round(F.col("decile_revenue") / F.col("_tot"), 9).alias(
                "revenue_share"
            ),
            F.round(
                F.sum(
                    F.col("decile_revenue").cast("decimal(38,10)")
                ).over(w).cast("double")
                / F.col("_tot"),
                9,
            ).alias("cum_share"),
        )
    )


def q_session_type_pairs(spark, sf_dir):
    """Within-session event-type co-occurrence with lift: which event
    types happen in the SAME session more than their base rates
    predict -- the behavioral association read (X139's basket miner
    pointed at X19's sessions instead of orders). Sessions come from
    the same gap windows as the sessionizer; the pair pass is the
    in-row miner (never a self-join); lift divides exact BIGINTs
    (n_together * n_sessions / (n_a * n_b))."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).where(F.col("ts").isNotNull())
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_us = F.lag(F.unix_micros("ts")).over(order)
    is_new = F.when(
        prev_us.isNull()
        | ((F.unix_micros("ts") - prev_us) > 1800 * 1000 * 1000),
        1,
    ).otherwise(0)
    st = (
        ev.withColumn("_new", is_new)
        .withColumn(
            "_sk",
            F.concat_ws(
                "#", F.col("user_id"), F.sum("_new").over(running)
            ),
        )
        .select("_sk", "event_type")
        # the sessionize windows feed the miner AND the lift sides --
        # persisted so the user-keyed window runs once
        .persist()
    )
    pairs = rel.cooccurrence_pairs(st, "_sk", "event_type", min_support=2)
    grid = st.distinct().persist()
    sizes = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    nsess = grid.select("_sk").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("_ns")
    )
    return (
        pairs.join(
            F.broadcast(
                sizes.select(
                    F.col("event_type").alias("item_a"),
                    F.col("_n").alias("_na"),
                )
            ),
            "item_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("event_type").alias("item_b"),
                    F.col("_n").alias("_nb"),
                )
            ),
            "item_b",
        )
        .crossJoin(F.broadcast(nsess))
        .select(
            F.col("item_a").alias("type_a"),
            F.col("item_b").alias("type_b"),
            "n_together",
            "support",
            # each factor casts to double BEFORE the multiply: a
            # BIGINTxBIGINT product can silently wrap in non-ANSI
            # Spark at 100 TB counts (the DuckDB side would error
            # instead); double*double just loses ulps, identically on
            # both engines
            F.round(
                (
                    F.col("n_together").cast("double")
                    * F.col("_ns").cast("double")
                )
                / (
                    F.col("_na").cast("double")
                    * F.col("_nb").cast("double")
                ),
                6,
            ).alias("lift"),
        )
    )


_MARKOV_ROUNDS = 3


def q_events_markov_stationary(spark, sf_dir):
    """Stationary distribution of the X145 event-type Markov chain by
    power iteration (3 rounds from uniform): where user behavior
    settles if the observed transition dynamics persist -- the
    equilibrium read behind "what share of long-run activity is
    purchases". The kmeans/PCA ferrying discipline: each round is one
    bounded groupBy over the |states|^2 transition table with the
    current iterate embedded as literals, per-term products rounded 12
    dp then DECIMAL-summed, the new iterate rounded 9 dp BY THE ENGINE
    before it crosses the driver (the MMR lesson); the oracle unrolls
    all three rounds as CTEs, so the iteration is equal by induction.
    States with no incoming transitions settle at 0."""
    from sparkbigdatatextanalysis_spark.operators import timeseries as tsr

    trans = _cached(
        spark,
        sf_dir,
        "markov_trans",
        lambda: tsr.markov_transitions(_events(spark, sf_dir)).select(
            "prev_state", "next_state", "p_transition"
        ),
    )
    states = sorted(
        r["s"]
        for r in trans.select(F.col("prev_state").alias("s"))
        .unionByName(trans.select(F.col("next_state").alias("s")))
        .distinct()
        .collect()
    )
    pi = {s: 1.0 / len(states) for s in states}

    def round_plan(cur: dict):
        pi_expr = F.lit(None).cast("double")
        for s, p in cur.items():
            pi_expr = F.when(
                F.col("prev_state") == s, F.lit(p)
            ).otherwise(pi_expr)
        term = F.round(F.col("p_transition") * pi_expr, 12).cast(
            "decimal(38,18)"
        )
        nxt = trans.groupBy(F.col("next_state").alias("s")).agg(
            F.round(F.sum(term).cast("double"), 9).alias("pi")
        )
        sdf = spark.createDataFrame([(s,) for s in states], "s STRING")
        return sdf.join(nxt, "s", "left").select(
            "s", F.coalesce("pi", F.lit(0.0)).alias("pi")
        )

    for _ in range(_MARKOV_ROUNDS - 1):
        pi = {r["s"]: float(r["pi"]) for r in round_plan(pi).collect()}
    return round_plan(pi).select(
        F.col("s").alias("state"), F.col("pi").alias("stationary_prob")
    )


def q_embeddings_triplet_margin(spark, sf_dir):
    """Label-consistency (triplet-margin) audit of the embedding
    space: per vector, the best same-label cosine (excluding self)
    minus the best other-label cosine, summarized per label -- the
    are-my-labels-linearly-recoverable eval run before any k-NN
    labeling (X142) ships: a label with negative mean margin or low
    positive share will mislabel under ANY neighbor rule. Brute-force
    all-pairs at gate scale (the X7 precedent; IVF X8b is the swap);
    margins are differences of two 9-dp-rounded cosines, per-label
    means through DECIMAL."""
    emb = _emb(spark, sf_dir)
    v = "CAST(embedding AS ARRAY<DOUBLE>)"
    nv = emb.select(
        "vec_id", "label", F.expr(v).alias("v"), F.sqrt(vec_dot(v, v)).alias("n")
    )
    q = nv.select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
        F.col("n").alias("qn"),
    )
    cos = F.round(
        vec_dot("qv", "v") / (F.col("qn") * F.col("n")), 9
    )
    scored = (
        F.broadcast(q)
        .crossJoin(nv)
        .where(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "q_label",
            F.col("label").alias("n_label"),
            cos.alias("cos"),
        )
    )
    per_q = scored.groupBy("q_id", "q_label").agg(
        F.max(F.when(F.col("q_label") == F.col("n_label"), F.col("cos"))).alias(
            "_bs"
        ),
        F.max(F.when(F.col("q_label") != F.col("n_label"), F.col("cos"))).alias(
            "_bd"
        ),
    )
    margin = F.round(F.col("_bs") - F.col("_bd"), 9)
    return (
        per_q.where(F.col("_bs").isNotNull() & F.col("_bd").isNotNull())
        .select("q_label", margin.alias("_m"))
        .groupBy(F.col("q_label").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.round(
                F.sum(F.col("_m").cast("decimal(38,18)")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_margin"),
            F.round(
                F.sum(F.when(F.col("_m") > 0, 1).otherwise(0))
                / F.count(F.lit(1)),
                9,
            ).alias("share_positive"),
        )
    )


def q_users_power_curve(spark, sf_dir):
    """Power-user curve: users bucketed by log2 of their event count
    (1, 2-3, 4-7, 8-15, ...), with each bucket's user share -- the
    activity-concentration histogram behind every "1% of users
    generate X% of events" claim (the engagement complement of X189's
    revenue Gini). One per-user partial agg; bucketing is an unrolled
    exact-integer CASE over powers of two (never a float log2, whose
    boundary values differ per libm); the share divides exact BIGINTs."""
    per_user = (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
    )
    bucket = F.lit(20)
    for k in range(19, -1, -1):
        bucket = F.when(F.col("_n") < F.lit(2 ** (k + 1)), F.lit(k)).otherwise(
            bucket
        )
    buckets = per_user.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    tot = buckets.agg(F.sum("n_users").cast("long").alias("_t"))
    return buckets.crossJoin(F.broadcast(tot)).select(
        F.col("bucket").cast("int").alias("bucket"),
        F.pow(F.lit(2.0), F.col("bucket")).cast("long").alias("lo_events"),
        (F.pow(F.lit(2.0), F.col("bucket") + 1).cast("long") - 1).alias(
            "hi_events"
        ),
        "n_users",
        F.round(
            F.col("n_users").cast("double") / F.col("_t").cast("double"), 9
        ).alias("user_share"),
    )


_DEDUP_CURVE_THRESHOLDS = [0.05, 0.1, 0.15, 0.2, 0.3, 0.4, 0.5]
_LSH_CURVE_BANDS = [2, 4, 8, 16]
_LSH_CURVE_TRUE_J = 0.3


def q_dedup_threshold_curve(spark, sf_dir):
    """Dedup threshold tuning curve: for each candidate jaccard
    threshold, the surviving pair count and the number of documents in
    >= 1 surviving pair -- the sensitivity sweep every dedup deployment
    runs before pinning its threshold (X5 runs ONE point of this
    curve; the cliff between points is where template families sit).
    One pass over the candidate-pair table: each pair emits its
    surviving thresholds IN-ROW (bounded fan-out x |thresholds|), doc
    membership is a distinct over (threshold, doc); the exact IEEE
    jaccard compares against the same literals on both engines."""
    pairs = dd.ngram_jaccard_pairs(
        _docs(spark, sf_dir, wide=True), min_jaccard=0.0
    ).select("a_id", "b_id", "jaccard").persist()
    th = F.array(*[F.lit(t) for t in _DEDUP_CURVE_THRESHOLDS])
    surv = pairs.select(
        "a_id",
        "b_id",
        F.explode(
            F.filter(th, lambda t: F.col("jaccard") >= t)
        ).alias("threshold"),
    )
    n_pairs = surv.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    n_docs = (
        surv.select(
            "threshold",
            F.explode(F.array("a_id", "b_id")).alias("doc_id"),
        )
        .distinct()
        .groupBy("threshold")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs_in_pairs"))
    )
    return n_pairs.join(n_docs, "threshold").select(
        F.round("threshold", 2).alias("threshold"),
        "n_pairs",
        "n_docs_in_pairs",
    )


def q_dedup_lsh_band_curve(spark, sf_dir):
    """MinHash-LSH band-count tuning curve: candidate volume,
    true-pair capture (jaccard >= 0.3), precision, and recall for 2 /
    4 / 8 / 16 bands over the SAME 16 minhashes -- the S-curve trade
    (more bands = higher recall, more junk candidates) that X2/X3 run
    at one fixed point. The signature table builds ONCE (persisted);
    each band count re-keys it in-row and runs one (band, key)
    equi-join; truth is the exact-jaccard candidate table (pairs
    sharing no shingle CAN collide by minhash chance -- they join as
    jaccard 0). Recall denominates in all true pairs (scalar
    broadcast)."""
    docs = _docs(spark, sf_dir, wide=True)
    flat = _cached(
        spark,
        sf_dir,
        "lshcurve_sigs",
        lambda: dd.minhash_signatures_flat(dd.shingle_hashes(docs)),
    )
    truth = _cached(
        spark,
        sf_dir,
        "lshcurve_truth",
        lambda: dd.ngram_jaccard_pairs(docs, min_jaccard=0.0).select(
            "a_id", "b_id", "jaccard"
        ),
    )
    cand = None
    for b in _LSH_CURVE_BANDS:
        keys = dd.lsh_band_keys_flat(flat, bands=b)
        a = keys.select("band", "key", F.col("id").alias("a_id"))
        bb = keys.select("band", "key", F.col("id").alias("b_id"))
        p = (
            a.join(bb, ["band", "key"])
            .where(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id")
            .distinct()
            .withColumn("n_bands", F.lit(b))
        )
        cand = p if cand is None else cand.unionByName(p)
    lab = cand.join(truth, ["a_id", "b_id"], "left").select(
        "n_bands",
        (F.coalesce("jaccard", F.lit(0.0)) >= _LSH_CURVE_TRUE_J).alias("_t"),
    )
    per_b = lab.groupBy("n_bands").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.sum(F.when(F.col("_t"), 1).otherwise(0))
        .cast("long")
        .alias("n_true_captured"),
    )
    tot_true = truth.where(
        F.col("jaccard") >= _LSH_CURVE_TRUE_J
    ).agg(F.count(F.lit(1)).cast("long").alias("_nt"))
    return per_b.crossJoin(F.broadcast(tot_true)).select(
        F.col("n_bands").cast("int").alias("n_bands"),
        (F.lit(dd.MINHASH_K) / F.col("n_bands")).cast("int").alias(
            "rows_per_band"
        ),
        "n_candidates",
        "n_true_captured",
        F.round(
            F.col("n_true_captured").cast("double")
            / F.col("n_candidates").cast("double"),
            9,
        ).alias("precision"),
        F.round(
            F.col("n_true_captured").cast("double")
            / F.col("_nt").cast("double"),
            9,
        ).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Round 11 wave: rank/parametric two-sample tests, per-node and per-edge
# structure audits of the candidate graph
# ---------------------------------------------------------------------------


def q_docs_length_mannwhitney(spark, sf_dir):
    """Mann-Whitney U (Wilcoxon rank-sum) between the even- and odd-
    source documents' n_chars (operators/stats.py::mann_whitney_u) --
    the LOCATION companion to docs_length_ks' shape test: rank-based,
    so one template family of mega-docs cannot drag the verdict the
    way it drags a mean test. Same A/B split as the KS key so the two
    read as one drift panel. Ranks never materialize: doubled-midrank
    integer arithmetic over the distinct-length counts, cumulative
    counts via the shared bucketed prefix decomposition."""
    from sparkbigdatatextanalysis_spark.operators import stats as st_mod

    d = _docs(spark, sf_dir).select(
        "n_chars",
        (F.substring("source", 4, 10).cast("int") % 2 == 0).alias("_is_a"),
    )
    return st_mod.mann_whitney_u(d, "n_chars", F.col("_is_a"))


def q_events_value_welch(spark, sf_dir):
    """Welch's unequal-variance t-test between purchase and
    non-purchase event values (operators/stats.py::welch_t): the
    parametric mean-difference check beside the KS/MWU pair -- six
    DECIMAL power sums in one partial agg, the t statistic and
    Welch-Satterthwaite df evaluate on the single result row."""
    from sparkbigdatatextanalysis_spark.operators import stats as st_mod

    ev = _events(spark, sf_dir)
    return st_mod.welch_t(ev, "value", F.col("event_type") == "purchase")


def q_dedup_local_clustering(spark, sf_dir):
    """Per-node local clustering coefficient of the n-gram-Jaccard
    candidate graph (operators/components.py::local_clustering): the
    node-level readout the global triangle density (X133) and
    assortativity (X195) summarize away -- clique members score ~1,
    chain/star artifacts ~0. Same jaccard >= 0.05 edge set as those
    audits, same hub-safe compact-forward triangle enumeration; the
    coefficient is NULL for degree-1 nodes by contract."""
    from sparkbigdatatextanalysis_spark.operators import components as cc

    pairs = dd.ngram_jaccard_pairs(
        _docs(spark, sf_dir, wide=True), min_jaccard=0.05
    ).select("a_id", "b_id")
    return cc.local_clustering(pairs, "a_id", "b_id")


def q_dedup_adamic_adar(spark, sf_dir):
    """Adamic-Adar structural support for every candidate edge
    (operators/components.py::adamic_adar_edges): ranks which near-dup
    pairs the surrounding graph corroborates (shared RARE witnesses
    weigh 1/ln(deg)) vs pairs supported only by their own similarity
    -- the edge-level complement of the clustering key, riding the
    same triangle enumeration. Terms are engine-rounded 12 dp and
    DECIMAL-summed so the oracle folds identically."""
    from sparkbigdatatextanalysis_spark.operators import components as cc

    pairs = dd.ngram_jaccard_pairs(
        _docs(spark, sf_dir, wide=True), min_jaccard=0.05
    ).select("a_id", "b_id")
    return cc.adamic_adar_edges(pairs, "a_id", "b_id")


# Benford expected first-digit probabilities, rounded at 12 dp ONCE in
# Python and embedded as identical literals in BOTH the Spark plan and
# the DuckDB oracle -- the two engines' log10 never have to agree.
import math as _math

_BENFORD_P = {d: round(_math.log10(1.0 + 1.0 / d), 12) for d in range(1, 10)}


def q_orders_benford(spark, sf_dir):
    """Benford first-significant-digit audit of order totals (Newcomb
    1881 / Benford 1938): observed digit shares vs the log10(1+1/d)
    law with per-digit chi-square terms -- the classic fabricated-or-
    truncated-numbers smell test for a financial column. The digit
    comes from the INTEGER part rendered as a string (BIGINT-to-string
    is engine-identical; float log10/div would not be), one bounded
    9-row groupBy; expected probabilities are shared 12dp literals, so
    the only doubles are the final per-digit shares and chi2 terms."""
    o = _scan(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    cells = d.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    tot = cells.agg(F.sum("n_orders").cast("long").alias("_n"))
    p = F.create_map(
        *[F.lit(x) for kv in _BENFORD_P.items() for x in kv]
    )[F.col("digit")]
    nn = F.col("_n").cast("double")
    e = nn * p
    obs = F.col("n_orders").cast("double")
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_orders",
            F.round(obs / nn, 9).alias("observed_share"),
            p.alias("expected_share"),
            F.round((obs - e) * (obs - e) / e, 9).alias("chi2_term"),
        )
    )


def q_customers_cramers_v(spark, sf_dir):
    """Cramer's V effect size between customer nation and market
    segment: the chi-square machinery of X197 (bounded cell agg,
    marginals re-aggregated from the cell table, 9dp terms DECIMAL-
    summed) finished with V = sqrt(chi2 / (n * (min(r,c) - 1))) -- the
    normalized [0,1] association read that lets a 25x5 table compare
    against any other pair of categoricals."""
    c = _scan(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment")
    cells = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    rt = cells.groupBy(F.col("c_nationkey").alias("_r")).agg(
        F.sum("n").cast("long").alias("_rt")
    )
    ct = cells.groupBy(F.col("c_mktsegment").alias("_c")).agg(
        F.sum("n").cast("long").alias("_ct")
    )
    tot = cells.agg(F.sum("n").cast("long").alias("_n"))
    j = (
        cells.join(F.broadcast(rt), cells.c_nationkey == F.col("_r"))
        .join(F.broadcast(ct), cells.c_mktsegment == F.col("_c"))
        .crossJoin(F.broadcast(tot))
    )
    e = (
        F.col("_rt").cast("double")
        * F.col("_ct").cast("double")
        / F.col("_n").cast("double")
    )
    term = F.round(
        (F.col("n").cast("double") - e) * (F.col("n").cast("double") - e) / e,
        9,
    )
    agg = j.agg(
        F.max("_n").alias("n_total"),
        F.count_distinct("c_nationkey").cast("long").alias("n_rows_dim"),
        F.count_distinct("c_mktsegment").cast("long").alias("n_cols_dim"),
        F.round(
            F.sum(term.cast("decimal(38,10)")).cast("double"), 6
        ).alias("chi2"),
    )
    kmin = F.least(F.col("n_rows_dim"), F.col("n_cols_dim")) - 1
    return agg.select(
        "n_total",
        "n_rows_dim",
        "n_cols_dim",
        "chi2",
        F.round(
            F.when(
                kmin > 0,
                F.sqrt(
                    F.col("chi2")
                    / (F.col("n_total").cast("double") * kmin.cast("double"))
                ),
            ),
            6,
        ).alias("cramers_v"),
    )


def q_events_seasonality_strength(spark, sf_dir):
    """Day-of-week seasonality strength of daily event volume: the
    share of daily-count variance explained by the weekday means
    (eta-squared of the one-way DOW decomposition) -- the single
    number that says whether X188's deseasonalization is load-bearing
    or cosmetic. Daily counts are exact BIGINTs from one bounded
    groupBy(day); the variance decomposition uses only exact integer
    sums (S, S^2 totals; per-DOW S_g, n_g), with the <= 7 between-
    group terms rounded 6dp and DECIMAL-summed before the single
    closed-form division."""
    ev = _events(spark, sf_dir).where(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).select(
        "day",
        "c",
        F.pmod(
            F.datediff(F.col("day"), F.lit("1970-01-05").cast("date")), 7
        ).cast("int").alias("dow"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("c").cast("decimal(18,0)").alias("_s"),
        F.sum(F.col("c").cast("decimal(18,0)") * F.col("c").cast("decimal(18,0)")).alias("_s2"),
    )
    per = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("_ng"),
        F.sum("c").cast("decimal(18,0)").alias("_sg"),
    )
    bterm = F.round(
        F.col("_sg").cast("double")
        * F.col("_sg").cast("double")
        / F.col("_ng").cast("double"),
        6,
    )
    btw = per.agg(
        F.sum(bterm.cast("decimal(38,10)")).cast("double").alias("_b")
    )
    nd = F.col("n_days").cast("double")
    s = F.col("_s").cast("double")
    s2 = F.col("_s2").cast("double")
    ss_total = s2 - s * s / nd
    ss_between = F.col("_b") - s * s / nd
    return tot.crossJoin(F.broadcast(btw)).select(
        "n_days",
        F.round(s / nd, 6).alias("mean_daily_events"),
        F.round(
            F.when(ss_total > 0, ss_between / ss_total), 6
        ).alias("dow_variance_share"),
    )


def q_users_activity_entropy(spark, sf_dir):
    """Per-user behavioral diversity: Shannon entropy of each user's
    event-type distribution -- 0 = single-behavior users (pure
    viewers, bots), ln(5) = uniform across all five types; the
    per-entity readout behind segment screens and bot heuristics.
    One bounded groupBy(user, type), per-user totals re-aggregated
    from the cell table, each of the <= 5 terms -p*ln(p) rounded 12dp
    and DECIMAL-summed (the chi-square convention)."""
    ev = _events(spark, sf_dir)
    cells = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    per = cells.groupBy("user_id").agg(
        F.sum("_c").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.collect_list(F.col("_c")).alias("_cs"),
    )
    # in-row entropy over the bounded type list: p*ln(p) per type,
    # 12dp-rounded, exact DECIMAL fold via aggregate()
    tot = F.col("n_events").cast("double")
    ent = F.aggregate(
        "_cs",
        F.lit(0).cast("decimal(28,12)"),
        # the re-cast keeps the accumulator type fixed: DECIMAL + DECIMAL
        # widens precision and aggregate() requires merge type == acc type
        lambda acc, c: (
            acc
            + F.round(
                -(c.cast("double") / tot) * F.log(c.cast("double") / tot),
                12,
            ).cast("decimal(28,12)")
        ).cast("decimal(28,12)"),
    )
    return per.select(
        "user_id",
        "n_events",
        "n_types",
        F.round(ent.cast("double"), 6).alias("entropy"),
    )


def q_orders_theilsen_monthly(spark, sf_dir):
    """Theil-Sen robust trend of monthly revenue: the median of all
    pairwise month-to-month slopes (Theil 1950, Sen 1968) -- the
    outlier-proof companion to X138's least-squares trend, unmoved by
    one promotional spike that drags OLS. Months are a bounded domain
    (the X193 ACF argument), so the pair set is |months|^2/2 tiny
    rows; monthly revenue re-aggregates DECIMAL sums rounded 4dp (the
    HHI convention), slopes round 9dp before the median so both
    engines interpolate identical doubles."""
    o = _scan(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("_m")
    ).agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(38,10)")).cast("double"),
            4,
        ).alias("_rev")
    ).persist()
    a = monthly.select(F.col("_m").alias("_ma"), F.col("_rev").alias("_ra"))
    b = monthly.select(F.col("_m").alias("_mb"), F.col("_rev").alias("_rb"))
    slopes = a.join(F.broadcast(b), F.col("_ma") < F.col("_mb")).select(
        F.round(
            (F.col("_rb") - F.col("_ra"))
            / (F.col("_mb") - F.col("_ma")).cast("double"),
            9,
        ).alias("_slope")
    )
    return slopes.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.expr("percentile(_slope, 0.5)"), 6).alias("theilsen_slope"),
    )


def q_orders_basket_poisson(spark, sf_dir):
    """Basket-size distribution vs a Poisson fit: items-per-order
    observed shares against Poisson(lambda = mean items) with
    per-size chi-square terms -- the standard "is arrival-like
    randomness a good model for basket composition" check; a fat
    tail (bulk orders) shows up as large terms at high k. One
    map-side count per order, one bounded groupBy(k); lambda is an
    exact BIGINT ratio evaluated once; the pmf exp(-l)*l^k/k! rounds
    9dp on both engines (k is bounded, factorial exact)."""
    li = _scan(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    cells = per.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    tot = cells.agg(
        F.sum("n_orders").cast("long").alias("_no"),
        F.sum(F.col("k") * F.col("n_orders")).cast("long").alias("_ni"),
    )
    lam = F.col("_ni").cast("double") / F.col("_no").cast("double")
    pk = F.round(
        F.exp(-lam)
        * F.pow(lam, F.col("k").cast("double"))
        / F.factorial(F.col("k").cast("int")).cast("double"),
        9,
    )
    obs = F.col("n_orders").cast("double")
    nn = F.col("_no").cast("double")
    e = nn * pk
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            F.col("k").alias("basket_size"),
            "n_orders",
            F.round(obs / nn, 9).alias("observed_share"),
            pk.alias("poisson_p"),
            F.round(F.when(e > 0, (obs - e) * (obs - e) / e), 9).alias(
                "chi2_term"
            ),
            F.round(lam, 6).alias("lambda_fit"),
        )
    )


def q_orders_spearman_price_items(spark, sf_dir):
    """Spearman rank correlation between an order's total price and
    its item count (operators/stats.py::spearman_rho): the monotone-
    association read -- raw Pearson (X67) is dominated by price
    outliers, rank correlation is not. Item counts are heavily tied,
    so the midrank convention matters; ranks come from the shared
    bucketed-prefix decomposition, never a global row_number window."""
    from sparkbigdatatextanalysis_spark.operators import stats as st_mod

    li = _scan(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_items")
    )
    o = _scan(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    d = o.join(li, o.o_orderkey == li.l_orderkey)
    return st_mod.spearman_rho(d, "o_totalprice", "n_items")


def q_docs_perplexity_buckets(spark, sf_dir):
    """Perplexity-decile curation table: per-doc mean unigram log-
    probability (X50's LM signal) cut into 10 equal-frequency buckets,
    with each bucket's population, mean logprob, and mean token count
    -- exactly the table a perplexity-filtered sampling policy (keep
    the middle deciles, drop the tails) is tuned from. Decile cuts are
    exact percentiles rounded 6dp on BOTH engines before binning (the
    PSI convention); bucket means divide DECIMAL sums of the already-
    6dp-rounded per-doc scores, so no double ever folds in engine
    order."""
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    lp = _cached(
        spark,
        sf_dir,
        "unigram_lp",
        lambda: pl.unigram_logprob(_tok(spark, sf_dir)),
    )
    cuts = lp.agg(
        *[
            F.round(
                F.expr(f"percentile(avg_logprob, {i / 10})"), 6
            ).alias(f"_c{i}")
            for i in range(1, 10)
        ]
    )
    bucket = sum(
        (F.col("avg_logprob") > F.col(f"_c{i}")).cast("long")
        for i in range(1, 10)
    )
    b = (
        lp.crossJoin(F.broadcast(cuts))
        .withColumn("bucket", bucket)
        .drop(*[f"_c{i}" for i in range(1, 10)])
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(
            F.sum(F.col("avg_logprob").cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_logprob"),
        F.round(
            F.sum("n_tokens").cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_tokens"),
    )


_ANN_RECALL_PROBES = (1, 2, 4)


def q_embeddings_ann_recall_curve(spark, sf_dir):
    """IVF recall@k tuning curve: for each n_probe in {1, 2, 4}, the
    share of the exact brute-force top-k neighbor pairs (ALL vectors
    as queries, the hubness discipline) that the IVF index reproduces
    -- the ANN analog of the LSH band-count curve (X220): every IVF
    deployment tunes exactly this recall-vs-probe-cost trade, and
    recall is PROVABLY monotone in n_probe (a truth pair caught at
    probe p cannot be displaced at 2p: any candidate outscoring a
    global top-k item is itself global top-k; pinned in
    tests/test_round11_ops.py along with recall == 1.0 under full
    probing). The brute-force truth side is the documented audit
    baseline at gate scale; at 100 TB the truth is a sampled query
    subset (the blocking_quality truth_sample_rate pattern) while the
    IVF side IS the production path. Centroids come from the shared
    cached index build; the three probe levels share one persisted
    IVF index (it depends on neither n_probe nor k), so the corpus is
    ranked against the centroids once."""
    emb = _emb(spark, sf_dir)
    cents = _cached(
        spark, sf_dir, "ivf_cents", lambda: ann_ops.kmeans_centroids(emb)
    )
    qids = emb.select("vec_id")
    # truth = the shared cached brute-force baseline (r12; one
    # enumeration per session across the three audits, replacing a
    # per-call persist of the same table)
    truth = _bf_topk_all(spark, sf_dir).select("q_id", "n_id")
    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    parts = []
    for p in _ANN_RECALL_PROBES:
        ivf = ann_ops.cosine_topk_ivf(
            emb, qids, k=ANN_K, n_probe=p, cents=cents
        ).select("q_id", "n_id")
        caught = ivf.join(truth, ["q_id", "n_id"], "left_semi").agg(
            F.count(F.lit(1)).cast("long").alias("n_caught")
        )
        parts.append(
            caught.select(
                F.lit(p).cast("int").alias("n_probe"), "n_caught"
            )
        )
    cur = parts[0]
    for extra in parts[1:]:
        cur = cur.unionByName(extra)
    return cur.crossJoin(F.broadcast(nt)).select(
        "n_probe",
        "n_truth",
        "n_caught",
        F.round(
            F.col("n_caught").cast("double") / F.col("n_truth").cast("double"),
            9,
        ).alias("recall"),
    )


def q_orders_mann_kendall(spark, sf_dir):
    """Mann-Kendall monotone-trend test on monthly revenue
    (operators/timeseries.py::mann_kendall): the WHETHER beside
    orders_theilsen_monthly's HOW MUCH -- the standard pairing for
    rank-based trend reads (both unmoved by a single promotional
    spike). Same monthly cells as the Theil-Sen key (DECIMAL revenue
    sums rounded 4 dp), so the two keys audit one shared series; S,
    tie counts, and Var(S) are exact integers, z and tau-b fixed-shape
    doubles."""
    from sparkbigdatatextanalysis_spark.operators import timeseries as tsx

    o = _scan(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("_m")
    ).agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(38,10)")).cast("double"),
            4,
        ).alias("_rev")
    )
    return tsx.mann_kendall(monthly, "_m", "_rev")


def q_events_pettitt_daily(spark, sf_dir):
    """Pettitt rank-based changepoint on daily event counts
    (operators/timeseries.py::pettitt): the nonparametric complement
    to events_cusum_changepoint -- CUSUM reacts to mean shifts in
    value units, Pettitt to any location shift in rank units, immune
    to one outlier day's magnitude. Daily counts are exact BIGINTs
    from one bounded groupBy(day); days pass as yyyy-MM-dd strings so
    the window order and the output type are engine-identical."""
    from sparkbigdatatextanalysis_spark.operators import timeseries as tsx

    ev = _events(spark, sf_dir).where(F.col("ts").isNotNull())
    daily = ev.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    out = tsx.pettitt(daily, "day", "c")
    return out.select(
        "n_periods",
        F.col("changepoint_t").alias("changepoint_day"),
        "k_stat",
        "u_at_changepoint",
        "p_approx",
    )


def q_embeddings_anisotropy(spark, sf_dir):
    """Corpus-level embedding anisotropy audit (Ethayarajh 2019): the
    mean pairwise cosine between ALL unit-normalized vectors and the
    norm of their mean direction -- a high mean cosine says the space
    collapses into a narrow cone, which silently inflates every
    similarity score the dedup/ANN/labeling keys consume (the reason
    top-component removal X192 exists; this key measures whether it is
    needed). NEVER materializes a pair: with S = sum of unit vectors
    and T = sum of self-dots, sum_{i != j} cos(i,j) = |S|^2 - T, so
    the whole audit is one map-only normalize pass + one 64-row
    per-dim aggregate -- O(n * d) at any scale, the best possible
    shape (the brute-force pair join the identity replaces is the
    hubness key's documented baseline).

    Exactness: float32 components cast exactly to double; the norm and
    self-dot fold in-row in fixed sequential order (vec_dot ==
    list_reduce); per-dim sums cast each component DECIMAL(38,15)
    before the order-insensitive DECIMAL fold; each dim's sum rounds
    to a 9 dp double, squares in fixed shape, rounds 12 dp, and
    DECIMAL-sums again -- no engine-order float fold anywhere."""
    emb = _emb(spark, sf_dir).where(F.col("embedding").isNotNull())
    v = "CAST(embedding AS ARRAY<DOUBLE>)"
    nv = emb.select(
        F.expr(v).alias("_v"), F.sqrt(vec_dot(v, v)).alias("_norm")
    ).where(F.col("_norm") > 0)
    u = nv.select(
        F.transform("_v", lambda x: x / F.col("_norm")).alias("_u")
    ).persist()
    per_dim = (
        u.select(F.posexplode("_u").alias("dim", "x"))
        .groupBy("dim")
        .agg(F.sum(F.col("x").cast("decimal(38,15)")).alias("_s"))
    )
    sd9 = F.round(F.col("_s").cast("double"), 9)
    s2 = per_dim.agg(
        F.sum(
            F.round(sd9 * sd9, 12).cast("decimal(38,12)")
        ).cast("double").alias("_s2")
    )
    tot = u.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(
            F.round(vec_dot("_u", "_u"), 12).cast(
                "decimal(38,12)"
            )
        ).cast("double").alias("_t"),
    )
    n = F.col("n_vectors").cast("double")
    return tot.crossJoin(F.broadcast(s2)).select(
        "n_vectors",
        F.round(
            F.when(
                F.col("n_vectors") > 1,
                (F.col("_s2") - F.col("_t")) / (n * (n - 1.0)),
            ),
            9,
        ).alias("mean_pairwise_cos"),
        F.round(F.sqrt(F.col("_s2")) / n, 9).alias("mean_direction_norm"),
    )


_MIX_TEMPERATURES = (0.3, 0.5, 0.7)


def q_docs_mixture_temperature(spark, sf_dir):
    """Temperature-scaled source-mixture weights: for each sampling
    temperature alpha in {0.3, 0.5, 0.7}, the renormalized weight
    w_s = p_s^alpha / sum_s p_s^alpha over each source's natural token
    share p_s -- the standard multilingual/multi-source rebalancing
    rule (alpha < 1 upsamples tail sources; the mT5/XLM-R exponent
    family), i.e. the table a mixture policy (X44's sampler) is
    actually configured from. One equi-join of docs to the cached
    token table, one bounded groupBy(source); p_s is an exact BIGINT
    ratio, p^alpha rounds 12 dp (the Poisson-pmf pow convention),
    denominators DECIMAL-sum the rounded terms per alpha over the
    bounded source domain."""
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    tok = _tok(spark, sf_dir).select(
        F.col("id").alias("doc_id"), F.size("tokens").alias("_nt")
    )
    per = (
        docs.join(tok, "doc_id")
        .groupBy("source")
        .agg(F.sum("_nt").cast("long").alias("n_tokens"))
    )
    tot = per.agg(F.sum("n_tokens").cast("long").alias("_tot"))
    p = F.col("n_tokens").cast("double") / F.col("_tot").cast("double")
    fan = (
        per.crossJoin(F.broadcast(tot))
        .withColumn(
            "alpha",
            F.explode(F.array(*[F.lit(a) for a in _MIX_TEMPERATURES])),
        )
        .select(
            "source",
            F.col("alpha").cast("double").alias("alpha"),
            "n_tokens",
            F.round(p, 9).alias("p_natural"),
            # pow over the ALREADY-9dp-rounded share: both engines then
            # exponentiate the identical double, so the only cross-engine
            # surface is pow's own final rounding (hidden by the 12dp
            # round, the ln/exp convention used by survival/entropy).
            F.round(F.pow(F.round(p, 9), F.col("alpha")), 12).alias("_w_raw"),
        )
    )
    den = fan.groupBy("alpha").agg(
        F.sum(F.col("_w_raw").cast("decimal(38,12)")).cast("double").alias("_den")
    )
    return fan.join(F.broadcast(den), "alpha").select(
        "source",
        "alpha",
        "n_tokens",
        "p_natural",
        F.round(F.col("_w_raw") / F.col("_den"), 9).alias("w_temperature"),
    )


_ANOM_REPLAY_SEQ = [0]


def q_streaming_anomaly_replay(spark, sf_dir):
    """THIRD driver-gated streaming surface (the X165/X221 pattern
    applied to the online anomaly monitor): the real events replay
    through streaming/monitor.py::anomaly_stream
    (applyInPandasWithState, Welford (n, mean, M2) state per user with
    M2 ferried as raw int64 bits) as a 3-micro-batch file stream split
    at the 1/3 and 2/3 timestamp percentiles -- so every user's
    running state must survive TWO batch boundaries mid-history.
    Anomalies emit append-mode the moment they are observed; no flush
    sentinel is needed (the monitor holds no open aggregates). The
    oracle is the events_anomaly SQL verbatim (the strictly-prior
    window-frame z-score): this gates the stream == batch == SQL
    three-way equality externally, where before only pytest pinned it.

    Determinism: micro-batch order pinned by explicit mtimes; batches
    are time-disjoint by construction (ts <= c1 < ts <= c2 < ts), so
    per-key batch arrival respects event-time order, the monitor's
    documented ordering contract. Eager by construction (availableNow
    at query build); throwaway tempdir + uniquely-named memory sink."""
    import glob as _glob
    import os as _os
    import tempfile

    from sparkbigdatatextanalysis_spark.streaming import monitor as mon

    ev = (
        _events(spark, sf_dir)
        .where(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select("event_id", "ts", "user_id", "value")
    )
    cuts = ev.agg(
        F.expr("percentile(unix_micros(ts), 0.3333)").alias("_c1"),
        F.expr("percentile(unix_micros(ts), 0.6667)").alias("_c2"),
    ).collect()[0]
    c1, c2 = int(cuts["_c1"]), int(cuts["_c2"])
    tmp = tempfile.mkdtemp(prefix="spark_anom_gate_")
    us = F.unix_micros("ts")
    batches = [
        ("b0", ev.where(us <= F.lit(c1))),
        ("b1", ev.where((us > F.lit(c1)) & (us <= F.lit(c2)))),
        ("b2", ev.where(us > F.lit(c2))),
    ]
    for i, (name, df) in enumerate(batches):
        path = f"{tmp}/{name}"
        df.coalesce(1).write.parquet(path)
        # pin micro-batch order: the file source sorts by mtime
        mt = 1_000_000 + 10 * i
        for f in _glob.glob(f"{path}/*"):
            _os.utime(f, (mt, mt))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/b*")
    )
    _ANOM_REPLAY_SEQ[0] += 1
    qname = f"anomaly_gate_{_ANOM_REPLAY_SEQ[0]}"
    q = (
        mon.anomaly_stream(stream, threshold=3.0, min_n=5)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(qname).select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "value",
        F.round("zscore", 6).alias("zscore"),
        "n_prior",
    )


_SNM_WINDOW = 3
_SNM_PREFIX = 8


def q_dedup_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood blocking (Hernandez & Stolfo 1995): sort
    the corpus by a normalized content key, emit every pair within a
    rank window of 3 -- the classic record-linkage blocking scheme
    BESIDE the hash-bucket families (LSH bands X3, prefix blocking
    X85): SNM catches near-dups whose difference falls OUTSIDE the
    hashed prefix (hash blocking is all-or-nothing on the key; rank
    adjacency degrades gracefully), and its candidate count is
    EXACTLY w*n by construction -- the predictable-budget blocker.

    The global sort NEVER funnels through one window: the 8-char
    normalized prefix packs order-preservingly into ONE BIGINT
    (ascii codes are monotone per position; base-128 Horner, max
    128^8 < 2^63), and the rank comes from the two-phase global_rank
    decomposition (GK-sketch cuts, exact ranks). The window join is an
    equi-join on rank+gap after an in-row x3 fan-out -- a balanced
    shuffle on the rank, no broadcast of anything data-proportional.
    Oracle = the plain single-window row_number over the same packed
    key, proving the decomposition + window-join exact."""
    d = _docs(spark, sf_dir, wide=True).select("doc_id", "text")
    norm = F.rpad(
        F.substring(
            F.regexp_replace(F.lower("text"), r"\W+", ""), 1, _SNM_PREFIX
        ),
        _SNM_PREFIX,
        " ",
    )
    packed = F.lit(0).cast("long")
    for i in range(1, _SNM_PREFIX + 1):
        packed = packed * 128 + F.ascii(F.substring(norm, i, 1)).cast("long")
    keyed = d.select("doc_id", packed.alias("sort_key"))
    ranked = rel.global_rank(
        keyed, key="sort_key", tiebreaker="doc_id", relative_error=0.01
    ).persist()
    fan = ranked.select(
        F.col("doc_id").alias("a_id"),
        F.col("sort_key").alias("_ka"),
        F.explode(
            F.array(*[F.lit(g) for g in range(1, _SNM_WINDOW + 1)])
        ).alias("rank_gap"),
        F.col("global_rank").alias("_ra"),
    ).withColumn("_rb", F.col("_ra") + F.col("rank_gap"))
    right = ranked.select(
        F.col("doc_id").alias("b_id"),
        F.col("sort_key").alias("_kb"),
        F.col("global_rank").alias("_rb"),
    )
    return fan.join(right, "_rb").select(
        "a_id",
        "b_id",
        F.col("rank_gap").cast("int").alias("rank_gap"),
        (F.col("_ka") == F.col("_kb")).alias("same_prefix"),
    )


_HITS_ROUNDS = 2  # ferried rounds AFTER the degree-seeded round 0


def q_user_brand_hits(spark, sf_dir):
    """HITS hubs/authorities (Kleinberg 1999) over the user -> brand
    purchase bipartite graph: authority = brands bought by heavy
    cross-brand buyers, hubs = users whose baskets concentrate on
    authoritative brands -- the mutual-reinforcement ranking that plain
    degree (round 0 here IS degree) cannot express, beside PageRank
    (X129) which ranks a DIRECTED event graph. Emits the bounded
    per-brand authority table after 2 ferried rounds from the
    degree-normalized seed.

    Ferrying discipline (the Markov/PCA shape): the authority vector
    is BOUNDED (|brands|), so it crosses the driver as 9dp
    engine-rounded literals each round; hub scores stay distributed
    (|users| rows, one groupBy(u) of exact-literal DECIMAL sums + one
    equi-join back to the edges per round -- never collected). L1
    normalization constants are exact DECIMAL folds divided in
    fixed-shape double arithmetic; the oracle unrolls both rounds as
    CTE pairs, equal by induction from the exact-integer degree seed."""
    edges = _cached(
        spark,
        sf_dir,
        "hits_edges",
        lambda: (
            # wide=True (r11): the broadcast-probe map over the fact
            # table is the heavy stage; a single-row-group scan would
            # run it on one core
            _scan(spark, sf_dir, "lineitem", wide=True)
            .select("l_orderkey", "l_partkey")
            .join(
                F.broadcast(
                    _scan(spark, sf_dir, "part").select("p_partkey", "p_brand")
                ),
                F.col("l_partkey") == F.col("p_partkey"),
            )
            .join(
                _scan(spark, sf_dir, "orders").select(
                    "o_orderkey", "o_custkey"
                ),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .select(
                F.col("o_custkey").alias("u"), F.col("p_brand").alias("b")
            )
            .distinct()
            # hash-repartition on u BEFORE the persist (r12, the
            # shingle-family pattern): every ferried round runs one
            # groupBy(u) and one join on u against the cached edges --
            # exposing HashPartitioning(u) from the cache removes both
            # exchanges per round; the one pre-persist exchange is paid
            # once per session
            .repartition(spark.sparkContext.defaultParallelism, "u")
        ),
    )
    deg = edges.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    ne = deg.agg(F.sum("n_users").cast("long").alias("_ne"))
    a0 = deg.crossJoin(F.broadcast(ne)).select(
        "b",
        F.round(
            F.col("n_users").cast("double") / F.col("_ne").cast("double"), 9
        ).alias("a"),
    )
    auth = {r["b"]: float(r["a"]) for r in a0.collect()}

    def hits_round(a_prev: dict):
        aexpr = F.create_map(
            *[F.lit(x) for kv in a_prev.items() for x in kv]
        )[F.col("b")]
        hub_raw = edges.groupBy("u").agg(
            F.sum(aexpr.cast("decimal(28,9)")).alias("_hr")
        )
        hsum = hub_raw.agg(F.sum("_hr").alias("_h"))
        hub = hub_raw.crossJoin(F.broadcast(hsum)).select(
            "u",
            F.round(
                F.col("_hr").cast("double") / F.col("_h").cast("double"), 12
            ).alias("_hub"),
        )
        auth_raw = edges.join(hub, "u").groupBy("b").agg(
            F.sum(F.col("_hub").cast("decimal(38,12)")).alias("_ar")
        )
        asum = auth_raw.agg(F.sum("_ar").alias("_a"))
        return auth_raw.crossJoin(F.broadcast(asum)).select(
            "b",
            F.round(
                F.col("_ar").cast("double") / F.col("_a").cast("double"), 9
            ).alias("a"),
        )

    for _ in range(_HITS_ROUNDS - 1):
        auth = {r["b"]: float(r["a"]) for r in hits_round(auth).collect()}
    final = hits_round(auth)
    return deg.join(final, "b").select(
        F.col("b").alias("brand"),
        "n_users",
        F.col("a").alias("authority"),
    )


_OVERLAP_CURVE_NS = (3, 5, 8)


def q_train_test_overlap_curve(spark, sf_dir):
    """Decontamination sensitivity curve: the X49 train/test n-gram
    overlap swept over shingle sizes n in {3, 5, 8} -- the tuning
    table behind every decontamination policy's n choice (short
    n-grams over-flag boilerplate, long ones miss paraphrase; GPT-3
    used 13-grams, Gopher 8): per n, the share of test DOCS with any
    hit and the share of test SHINGLES hit. Same deterministic
    hash-bucket split as X49 (train < 80, test >= 90); each n is one
    shingle build + one distinct-hash semi-join + two bounded aggs --
    the n-gram dedup join shape, so the 100 TB story is unchanged per
    curve point."""
    from sparkbigdatatextanalysis_spark.functions.hashing import string_hash31

    rows = []
    for n in _OVERLAP_CURVE_NS:
        sh = dd.shingle_hashes(_docs(spark, sf_dir, wide=True), n=n)
        bucket = string_hash31(F.col("id").cast("string")) % 100
        tr = sh.where(bucket < 80).select("sh").distinct()
        te = (
            sh.where(bucket >= 90)
            .select(F.col("id").alias("doc_id"), "sh")
            .distinct()
            .persist()
        )
        hits = te.join(tr, "sh", "left_semi")
        tot = te.agg(
            F.count_distinct("doc_id").cast("long").alias("n_test_docs"),
            F.count(F.lit(1)).cast("long").alias("n_test_shingles"),
        )
        hit = hits.agg(
            F.count_distinct("doc_id").cast("long").alias("n_docs_contaminated"),
            F.count(F.lit(1)).cast("long").alias("n_shingle_hits"),
        )
        rows.append(
            tot.crossJoin(F.broadcast(hit)).select(
                F.lit(n).cast("int").alias("n_gram"),
                "n_test_docs",
                "n_docs_contaminated",
                F.round(
                    F.col("n_docs_contaminated").cast("double")
                    / F.col("n_test_docs").cast("double"),
                    9,
                ).alias("doc_contamination_rate"),
                "n_test_shingles",
                "n_shingle_hits",
                F.round(
                    F.col("n_shingle_hits").cast("double")
                    / F.col("n_test_shingles").cast("double"),
                    9,
                ).alias("shingle_hit_rate"),
            )
        )
    cur = rows[0]
    for extra in rows[1:]:
        cur = cur.unionByName(extra)
    return cur


_FUNNEL_REPLAY_SEQ = [0]


def q_streaming_funnel_replay(spark, sf_dir):
    """FOURTH driver-gated streaming surface (the replay pattern
    applied to the stateful funnel): the real events replay through
    streaming/funnel.py::funnel_stream (applyInPandasWithState, state
    = (next step index, last reach micros) per user) as a 3-micro-
    batch time-split file stream, emitting a row the moment a user
    first completes view -> click -> purchase with first-touch
    strictly-after semantics. The oracle derives the same reach chain
    relationally (min view; min click > that; min purchase > that) --
    so this gate checks ROW-LEVEL reach events cross-engine, a
    strictly stronger check than the aggregated funnel_conversion
    counts. Strict > at every hop makes equal-timestamp scan order
    irrelevant, so the replay is deterministic by construction."""
    import glob as _glob
    import os as _os
    import tempfile

    from sparkbigdatatextanalysis_spark.streaming import funnel as sfn

    ev = (
        _events(spark, sf_dir)
        .where(F.col("ts").isNotNull())
        .select("event_id", "ts", "user_id", "event_type")
    )
    cuts = ev.agg(
        F.expr("percentile(unix_micros(ts), 0.3333)").alias("_c1"),
        F.expr("percentile(unix_micros(ts), 0.6667)").alias("_c2"),
    ).collect()[0]
    c1, c2 = int(cuts["_c1"]), int(cuts["_c2"])
    tmp = tempfile.mkdtemp(prefix="spark_funnel_gate_")
    us = F.unix_micros("ts")
    batches = [
        ("b0", ev.where(us <= F.lit(c1))),
        ("b1", ev.where((us > F.lit(c1)) & (us <= F.lit(c2)))),
        ("b2", ev.where(us > F.lit(c2))),
    ]
    for i, (name, df) in enumerate(batches):
        path = f"{tmp}/{name}"
        df.coalesce(1).write.parquet(path)
        mt = 1_000_000 + 10 * i
        for f in _glob.glob(f"{path}/*"):
            _os.utime(f, (mt, mt))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/b*")
    )
    _FUNNEL_REPLAY_SEQ[0] += 1
    qname = f"funnel_gate_{_FUNNEL_REPLAY_SEQ[0]}"
    q = (
        sfn.funnel_stream(stream, ["view", "click", "purchase"])
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(qname).select(
        "user_id",
        "step_idx",
        "step",
        F.unix_micros(F.col("reach_ts")).alias("reach_us"),
    )


def q_embeddings_silhouette(spark, sf_dir):
    """Simplified (centroid-based) silhouette of the IVF clustering:
    per vector s = (cos_own - cos_second) / max(1 - cos_own,
    1 - cos_second) over cosine distances to the assigned vs the
    best OTHER centroid, summarized per cluster -- the
    cluster-separation audit beside inertia (X183: cohesion only):
    low mean silhouette flags clusters whose members sit near a
    neighboring centroid, exactly the vectors IVF probing misses
    first. The SIMPLIFIED form scores against the k literal centroids
    only (never a pair join), so the whole audit is map-only + one
    bounded groupBy -- O(n*k) at any scale, unlike the O(n^2) full
    silhouette. Scores reuse the shared _cent_scores kernel (9-dp
    rounded by the engine); the in-row s rounds 9 dp before the
    DECIMAL mean fold."""
    emb = _emb(spark, sf_dir)
    cents = _cached(
        spark, sf_dir, "ivf_cents", lambda: ann_ops.kmeans_centroids(emb)
    )
    cents_arr = ann_ops._cents_lit(
        ann_ops._collect_cents(cents, "embeddings_silhouette: collect centroids")
    )
    nv = ann_ops._norm_vecs(emb, "vec_id", "embedding")
    scores = ann_ops._cent_scores("v", "norm", cents_arr)
    srt = F.expr(f"reverse(array_sort({scores}))")
    sel = nv.select(
        (-srt[0]["neg_cid"]).cast("long").alias("cluster"),
        srt[0]["cos"].alias("_own"),
        srt[1]["cos"].alias("_second"),
    )
    a = 1.0 - F.col("_own")
    b = 1.0 - F.col("_second")
    s = F.round(
        F.when(
            F.greatest(a, b) > 0,
            (F.col("_own") - F.col("_second")) / F.greatest(a, b),
        ).otherwise(F.lit(0.0)),
        9,
    )
    per = sel.select("cluster", s.alias("_s"))
    return per.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.round(
            F.sum(F.col("_s").cast("decimal(38,15)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("mean_silhouette"),
        F.round(F.min("_s"), 9).alias("min_silhouette"),
    )


_CORR_METRICS = ("total_price", "n_items", "sum_qty", "sum_discount")


def q_orders_metric_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlation matrix over four per-order
    metrics (price, item count, total quantity, total discount) in
    ONE pass -- the numeric-profiling staple every feature-engineering
    step starts from, beside the single-pair corr (X67): all 14 power
    sums (4 sums, 4 squares, 6 cross products) ride ONE partial
    aggregate over the per-order table, so the whole matrix costs one
    lineitem groupBy + one broadcast orders join + one map-side-
    combine scan regardless of pair count. Products cast
    DECIMAL(38,10) before summing (the Welch convention); each corr
    is a fixed-shape double over the exact sums, rounded 9 dp."""
    li = _scan(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("double").alias("n_items"),
        F.sum("l_quantity").cast("double").alias("sum_qty"),
        F.sum("l_discount").cast("double").alias("sum_discount"),
    )
    o = _scan(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("total_price")
    )
    d = o.join(per, F.col("o_orderkey") == F.col("l_orderkey"))
    cols = list(_CORR_METRICS)
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    for c in cols:
        aggs.append(
            F.sum(F.col(c).cast("decimal(38,10)")).alias(f"_s_{c}")
        )
    for i, ci in enumerate(cols):
        for cj in cols[i:]:
            aggs.append(
                F.sum(
                    (F.col(ci) * F.col(cj)).cast("decimal(38,10)")
                ).alias(f"_p_{ci}_{cj}")
            )
    m = d.agg(*aggs).persist()
    rows = []
    for i, ci in enumerate(cols):
        for cj in cols[i + 1 :]:
            n = F.col("_n").cast("double")
            sx = F.col(f"_s_{ci}").cast("double")
            sy = F.col(f"_s_{cj}").cast("double")
            sxx = F.col(f"_p_{ci}_{ci}").cast("double")
            syy = F.col(f"_p_{cj}_{cj}").cast("double")
            sxy = F.col(f"_p_{ci}_{cj}").cast("double")
            den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
            rows.append(
                m.select(
                    F.lit(ci).alias("metric_a"),
                    F.lit(cj).alias("metric_b"),
                    F.col("_n").alias("n_orders"),
                    F.round(
                        F.when(den > 0, (n * sxy - sx * sy) / den), 9
                    ).alias("pearson_r"),
                )
            )
    cur = rows[0]
    for extra in rows[1:]:
        cur = cur.unionByName(extra)
    return cur


def q_docs_rule_firing_matrix(spark, sf_dir):
    """Per-source curation-rule firing matrix: for every source, how
    many docs pass each of the six Gopher/C4 rules (X43) and the
    final keep rate -- the WHERE-is-my-corpus-losing-docs drill-down
    a curation policy review starts from (a rule firing 100x more on
    one crawl than the rest is either a bad crawl or a bad rule).
    Map-only rule flags + one doc_id equi-join for the source + one
    bounded groupBy(source)."""
    flags = ts.curation_rules(_docs(spark, sf_dir, wide=True))
    src = _docs(spark, sf_dir).select("doc_id", "source")
    rule_cols = [
        "r_n_tokens", "r_mean_word_len", "r_symbol_ratio",
        "r_bullet_ratio", "r_alpha_ratio", "r_stopword_hits",
    ]
    j = flags.join(src, "doc_id")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[
            F.sum(F.col(c).cast("long")).cast("long").alias(f"pass_{c[2:]}")
            for c in rule_cols
        ],
        F.sum(F.col("keep").cast("long")).cast("long").alias("n_keep"),
        F.round(
            F.sum(F.col("keep").cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            9,
        ).alias("keep_rate"),
    )


def q_dedup_bcubed_eval(spark, sf_dir):
    """B-cubed clustering evaluation of the near-dup pipeline (Bagga &
    Baldwin 1998; the ER-standard metric per Amigo et al. 2009): item-
    level precision/recall of the LSH+CC predicted clusters against the
    gold-pair truth clustering -- the CLUSTER-level verdict the
    pair-level gold join (D9) cannot give: B-cubed punishes both
    over-merging (precision) and over-splitting (recall) per ITEM, so
    one giant wrong cluster costs proportionally to its size. Truth
    labels come from the gold-pair CSV (disjoint pairs -> label =
    min(id, partner)); with C(i)/T(i) the predicted/true clusters,
    P = avg_i |C(i) cap T(i)| / |C(i)| which re-sums per (pred, true)
    cell as joint^2/n_pred -- three partial-agg groupBys + two
    equi-joins over the assignment table, no per-item fan-out. Terms
    round 12 dp into DECIMAL folds; F1 evaluates on the
    already-9dp-rounded P and R (fixed shape both engines)."""
    pred = _dedup_clusters(spark, sf_dir).select(
        "doc_id", F.col("keep_id").alias("_p")
    )
    g = _gold(spark, sf_dir)
    partner = g.select(
        F.col("a_id").alias("doc_id"), F.col("b_id").alias("_partner")
    ).unionByName(
        g.select(
            F.col("b_id").alias("doc_id"), F.col("a_id").alias("_partner")
        )
    )
    lab = (
        pred.join(F.broadcast(partner), "doc_id", "left")
        .select(
            "doc_id",
            "_p",
            F.least(
                F.col("doc_id"), F.coalesce("_partner", F.col("doc_id"))
            ).alias("_t"),
        )
        .persist()
    )
    cells = lab.groupBy("_p", "_t").agg(
        F.count(F.lit(1)).cast("long").alias("_joint")
    )
    psz = lab.groupBy("_p").agg(F.count(F.lit(1)).cast("long").alias("_np"))
    tsz = lab.groupBy("_t").agg(F.count(F.lit(1)).cast("long").alias("_nt"))
    j = cells.join(psz, "_p").join(tsz, "_t")
    # cast each factor BEFORE the product: BIGINT*BIGINT could wrap at
    # the 100 TB scale in non-ANSI Spark (the session_type_pairs lesson)
    jj = F.col("_joint").cast("double") * F.col("_joint").cast("double")
    pterm = F.round(jj / F.col("_np").cast("double"), 12).cast("decimal(38,12)")
    rterm = F.round(jj / F.col("_nt").cast("double"), 12).cast("decimal(38,12)")
    sums = j.agg(
        F.sum(pterm).cast("double").alias("_sp"),
        F.sum(rterm).cast("double").alias("_sr"),
    )
    tot = lab.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct("_p").cast("long").alias("n_pred_clusters"),
        F.count_distinct("_t").cast("long").alias("n_true_clusters"),
    )
    n = F.col("n_docs").cast("double")
    p9 = F.round(F.col("_sp") / n, 9)
    r9 = F.round(F.col("_sr") / n, 9)
    return tot.crossJoin(F.broadcast(sums)).select(
        "n_docs",
        "n_pred_clusters",
        "n_true_clusters",
        p9.alias("bcubed_precision"),
        r9.alias("bcubed_recall"),
        F.round(
            F.when(p9 + r9 > 0, 2.0 * p9 * r9 / (p9 + r9)).otherwise(0.0), 9
        ).alias("bcubed_f1"),
    )


def q_embeddings_quantization_error(spark, sf_dir):
    """int8 quantization fidelity audit: for the float brute-force
    top-5 neighbor pairs of a deterministic 20% query subset, the
    absolute cosine error introduced by the int8-quantized scoring
    (X88's rerank path) summarized per rank, plus the top-k set
    overlap -- the accept/reject table for swapping the quantized
    corpus into production retrieval (a mean error well under the
    typical neighbor gap and ~1.0 overlap is the green light). The
    quantized score for EXACTLY the float pairs comes from one
    equi-join of the pair list against the quantized table on each
    side (never a second all-pairs pass); overlap joins the two top-k
    tables. Score errors are differences of identically-rounded 9dp
    doubles (engine-identical), rounded 12 dp into DECIMAL folds."""
    from sparkbigdatatextanalysis_spark.operators.vectors import (
        quantize_embeddings,
        quantized_cosine,
    )

    emb = _emb(spark, sf_dir)
    qids = emb.where(F.col("vec_id") % 5 == 0).select("vec_id")
    # the 20% query subset's brute-force top-k IS the all-queries
    # baseline filtered to its q_ids (per-query independence: each
    # query's neighbor list never depends on the other queries), so
    # the shared cached table replaces a per-call enumeration+persist
    ftop = _bf_topk_all(spark, sf_dir).where(F.col("q_id") % 5 == 0)
    qt = quantize_embeddings(emb).persist()
    qa = qt.select(
        F.col("vec_id").alias("q_id"),
        F.col("scale").alias("a_scale"),
        F.col("qvec").alias("a_q"),
    )
    qb = qt.select(
        F.col("vec_id").alias("n_id"),
        F.col("scale").alias("b_scale"),
        F.col("qvec").alias("b_q"),
    )
    scored = (
        ftop.join(qa, "q_id")
        .join(qb, "n_id")
        .select(
            "q_id",
            "n_id",
            "rank",
            "cos",
            quantized_cosine(
                F.col("a_scale"), F.col("a_q"),
                F.col("b_scale"), F.col("b_q"), round_to=9,
            ).alias("_qcos"),
        )
    )
    # a left join against the quantized top-k (one row per pair, so no
    # fan-out) counts the overlap in the same aggregation, so `scored`
    # is read once
    qtop = ann_ops.cosine_topk_quantized(emb, qids, k=ANN_K).select(
        "q_id", "n_id", F.lit(1).alias("_in")
    )
    err = F.round(F.abs(F.col("cos") - F.col("_qcos")), 12)
    per = scored.join(qtop, ["q_id", "n_id"], "left").groupBy("rank").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(
            F.sum(err.cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("mean_abs_err"),
        F.round(F.max(err), 9).alias("max_abs_err"),
        F.count("_in").alias("_n_in"),
    )
    return per.select(
        "rank",
        "n_pairs",
        "mean_abs_err",
        "max_abs_err",
        F.round(
            F.col("_n_in").cast("double") / F.col("n_pairs").cast("double"), 9
        ).alias("quant_topk_overlap"),
    )


DEBOUNCE_GAP_SECONDS = 300


def q_events_debounce(spark, sf_dir):
    """Burst debounce / throttle: collapse each run of same-(user,
    type) events with < 5-minute gaps to its FIRST event, reporting
    how many duplicates it suppressed -- the client-retry / double-
    fire cleaner that runs before any per-event metric (a purchase
    double-click inflates revenue; a pageview burst inflates
    engagement). Gap-chain semantics over (user_id, event_type): one
    (user,type)-partitioned lag window + one cumulative-flag sum +
    one partial agg -- exactly the sessionizer shape (X19) keyed by
    (user, type), so the 100 TB story is unchanged. The kept row is
    the (ts, event_id) struct-min of its burst (fully deterministic
    under equal timestamps)."""
    from pyspark.sql import Window

    ev = (
        _events(spark, sf_dir)
        .where(F.col("ts").isNotNull())
        .select(
            "user_id", "event_type", "event_id", F.unix_micros("ts").alias("_us")
        )
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("_us", "event_id")
    gap = F.col("_us") - F.lag("_us").over(w)
    flagged = ev.withColumn(
        "_new",
        F.when(
            gap.isNull() | (gap > DEBOUNCE_GAP_SECONDS * 1_000_000), 1
        ).otherwise(0),
    )
    wb = Window.partitionBy("user_id", "event_type").orderBy(
        "_us", "event_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    bursts = flagged.withColumn("_b", F.sum("_new").over(wb))
    kept = bursts.groupBy("user_id", "event_type", "_b").agg(
        F.min(F.struct("_us", "event_id")).alias("_first"),
        F.count(F.lit(1)).cast("long").alias("_sz"),
    )
    return kept.select(
        "user_id",
        "event_type",
        F.col("_first.event_id").alias("event_id"),
        F.col("_first._us").alias("kept_us"),
        (F.col("_sz") - 1).cast("long").alias("n_suppressed"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # DECLARATION ORDER IS LOAD-BEARING: the driver's correctness gate
    # checks the FIRST 50 declared keys. Round-12 window = the r11
    # VERDICT's item 3 demand first -- every key whose computation
    # strategy the r11 optimizer rewrote gets its external row at the
    # NEW plan now (dot_product, tokens_except, docs_hashed_embeddings,
    # the minhash/simhash/containment family, table_profile) -- plus
    # every key the r12 optimizer touched (the localCheckpoint dedup
    # family, the shared brute-force audit baseline, the one-pass
    # spearman, the key-partitioned HITS edges, the BM25 batch
    # barrier), then the rotation the r11 comment promised: the 8
    # r10-new keys without a driver row and the displaced r07-latest
    # tail (staleness maximum). The r13 window is the first 50 of the
    # queue sectioned after the window marker: leftover r07/r11-new
    # keys, then the r08 cohort; r09 and r10 cohorts rotate last.
    # CEILING NOTE: at 234+ keys the 50-slot window cycles in ~5
    # rounds; every key added pushes one old key's next driver row out
    # by one round. In-repo freshness does not lag: every key is
    # re-verified against its DuckDB oracle on every suite run by
    # tests/test_oracle_parity.py and by the per-round full driver
    # sim, regardless of the window.
    return {
        # --- r12 window (50). Leading: the r11 strategy rewrites the
        # r11 verdict (item 3) requires external rows for NOW ---
        "dot_product": q_dot_product,
        "tokens_except": q_tokens_except,
        "docs_hashed_embeddings": q_docs_hashed_embeddings,
        "minhash_signatures": q_minhash_signatures,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "dedup_containment": q_dedup_containment,
        "table_profile": q_table_profile,
        # --- r12 strategy changes (this round's optimizer touched
        # these plans; results identical, external rows NOW) ---
        "incremental_ingest_verdict": q_incremental_ingest_verdict,
        "streaming_verdict_day2": q_streaming_verdict_day2,
        "incremental_dedup_flags": q_incremental_dedup_flags,
        "incremental_semantic_flags": q_incremental_semantic_flags,
        "dedup_semantic": q_dedup_semantic,
        "docs_bm25_batch": q_docs_bm25_batch,
        "orders_spearman_price_items": q_orders_spearman_price_items,
        "embeddings_knn_hubness": q_embeddings_knn_hubness,
        "embeddings_ann_recall_curve": q_embeddings_ann_recall_curve,
        "embeddings_quantization_error": q_embeddings_quantization_error,
        "user_brand_hits": q_user_brand_hits,
        # --- promised r12 queue: the 8 r10-new keys with no driver
        # row yet ---
        "users_wow_retention": q_users_wow_retention,
        "customers_lorenz_deciles": q_customers_lorenz_deciles,
        "session_type_pairs": q_session_type_pairs,
        "events_markov_stationary": q_events_markov_stationary,
        "embeddings_triplet_margin": q_embeddings_triplet_margin,
        "users_power_curve": q_users_power_curve,
        "dedup_threshold_curve": q_dedup_threshold_curve,
        "dedup_lsh_band_curve": q_dedup_lsh_band_curve,
        # --- promised r12 queue: the r07-latest displaced tail
        # (staleness max), minus the three promoted above ---
        "str_strip_quotes": q_str_strip_quotes,
        "tokenize": q_tokenize,
        "docs_line_dedup": q_docs_line_dedup,
        "docs_token_budget": q_docs_token_budget,
        "docs_bm25_topk": q_docs_bm25_topk,
        "dedup_best_rep": q_dedup_best_rep,
        "docs_substring_dedup": q_docs_substring_dedup,
        "docs_chunk_windows": q_docs_chunk_windows,
        "embeddings_quantized": q_embeddings_quantized,
        "docs_domain_caps": q_docs_domain_caps,
        "dedup_near_clusters": q_dedup_near_clusters,
        "tpch_q2_like": q_tpch_q2_like,
        "tpch_q3_like": q_tpch_q3_like,
        "tpch_q4_like": q_tpch_q4_like,
        "tpch_q5_like": q_tpch_q5_like,
        "tpch_q7_like": q_tpch_q7_like,
        "tpch_q16_like": q_tpch_q16_like,
        "tpch_q18_like": q_tpch_q18_like,
        "curation_pipeline": q_curation_pipeline,
        "events_hourly_from_minutely": q_events_hourly_from_minutely,
        "docs_split_sample": q_docs_split_sample,
        "text_repetition": q_text_repetition,
        "events_value_zscore": q_events_value_zscore,
        # ---- end of the 50-key gate window ----
        # --- r13+ queue, in rotation order as sectioned below: any
        # remaining r07/r11-new keys first, then the r08, r09 and
        # r10 cohorts (oldest external row first). Keys promoted
        # into the r12 window above were removed from their old
        # sections; section headers otherwise still describe the
        # cohort each block came from.
        # --- NEW in r10, first 50 (declaration order): FIRST external driver rows NOW (the r11 window the r10 comment promised) ---
        "events_dau_wau_sketch": q_events_dau_wau_sketch,
        "embeddings_knn_label_ivf": q_embeddings_knn_label_ivf,
        "tpch_q9_like": q_tpch_q9_like,
        "tpch_q12_like": q_tpch_q12_like,
        "tpch_q20_like": q_tpch_q20_like,
        "tpch_q21_like": q_tpch_q21_like,
        "parts_copurchase_cosine": q_parts_copurchase_cosine,
        "events_value_moments": q_events_value_moments,
        "docs_pmi_collocations": q_docs_pmi_collocations,
        "dedup_blocking_quality": q_dedup_blocking_quality,
        "events_ewma": q_events_ewma,
        "orders_near_duplicate_amounts": q_orders_near_duplicate_amounts,
        "orders_price_psi": q_orders_price_psi,
        "users_weekly_streaks": q_users_weekly_streaks,
        "docs_zipf_fit": q_docs_zipf_fit,
        "orders_brand_rules": q_orders_brand_rules,
        "events_scd2_lookup": q_events_scd2_lookup,
        "docs_lexical_diversity": q_docs_lexical_diversity,
        "users_burst_rate": q_users_burst_rate,
        "embeddings_cluster_inertia": q_embeddings_cluster_inertia,
        "docs_ngram_coverage": q_docs_ngram_coverage,
        "embeddings_pca_power": q_embeddings_pca_power,
        "nation_revenue_share": q_nation_revenue_share,
        "event_type_audience_overlap": q_event_type_audience_overlap,
        "events_dow_deseasonalize": q_events_dow_deseasonalize,
        "customers_acctbal_gini": q_customers_acctbal_gini,
        "events_peak_concurrency": q_events_peak_concurrency,
        "events_conversion_survival": q_events_conversion_survival,
        "embeddings_remove_top_component": q_embeddings_remove_top_component,
        "events_daily_acf": q_events_daily_acf,
        "docs_length_ks": q_docs_length_ks,
        "dedup_assortativity": q_dedup_assortativity,
        "orders_interpurchase_dist": q_orders_interpurchase_dist,
        "events_chisq_type_dow": q_events_chisq_type_dow,
        "brand_supplier_hhi": q_brand_supplier_hhi,
        "embeddings_mmr_topk": q_embeddings_mmr_topk,
        "events_cusum_changepoint": q_events_cusum_changepoint,
        "docs_token_entropy": q_docs_token_entropy,
        "customers_pareto_front": q_customers_pareto_front,
        "sessions_bounce_rate": q_sessions_bounce_rate,
        "sources_similarity_matrix": q_sources_similarity_matrix,
        "dedup_bfs_depths": q_dedup_bfs_depths,
        "referential_integrity_audit": q_referential_integrity_audit,
        "cohort_ltv": q_cohort_ltv,
        "orders_price_qq": q_orders_price_qq,
        "dedup_medoid_reps": q_dedup_medoid_reps,
        "nation_revenue_forecast_backtest": q_nation_revenue_forecast_backtest,
        "docs_feature_hash": q_docs_feature_hash,
        # ---- end of the 50-key gate window ----
        # --- NEW in r10, last 8: no driver row yet; lead the r12 window ---
        # --- latest driver row r07, displaced tail (26): staleness max, gate r12 beside the 8 above ---
        # --- NEW in r11 keys go HERE (section marker): first rows r12/r13 ---
        "streaming_sessions_flush": q_streaming_sessions_flush,
        "docs_length_mannwhitney": q_docs_length_mannwhitney,
        "events_value_welch": q_events_value_welch,
        "dedup_local_clustering": q_dedup_local_clustering,
        "dedup_adamic_adar": q_dedup_adamic_adar,
        "orders_benford": q_orders_benford,
        "customers_cramers_v": q_customers_cramers_v,
        "events_seasonality_strength": q_events_seasonality_strength,
        "users_activity_entropy": q_users_activity_entropy,
        "orders_theilsen_monthly": q_orders_theilsen_monthly,
        "orders_basket_poisson": q_orders_basket_poisson,
        "docs_perplexity_buckets": q_docs_perplexity_buckets,
        "orders_mann_kendall": q_orders_mann_kendall,
        "events_pettitt_daily": q_events_pettitt_daily,
        "embeddings_anisotropy": q_embeddings_anisotropy,
        "docs_mixture_temperature": q_docs_mixture_temperature,
        "streaming_anomaly_replay": q_streaming_anomaly_replay,
        "dedup_sorted_neighborhood": q_dedup_sorted_neighborhood,
        "train_test_overlap_curve": q_train_test_overlap_curve,
        "streaming_funnel_replay": q_streaming_funnel_replay,
        "embeddings_silhouette": q_embeddings_silhouette,
        "orders_metric_corr_matrix": q_orders_metric_corr_matrix,
        "docs_rule_firing_matrix": q_docs_rule_firing_matrix,
        "dedup_bcubed_eval": q_dedup_bcubed_eval,
        "events_debounce": q_events_debounce,
        # --- latest driver row r08 (50): 16 fill the r12 window, rest r13 ---
        "vocab_top_tokens": q_vocab_top_tokens,
        "train_test_ngram_overlap": q_train_test_ngram_overlap,
        "docs_unigram_logprob": q_docs_unigram_logprob,
        "events_latest_per_user": q_events_latest_per_user,
        "funnel_conversion": q_funnel_conversion,
        "corpus_bigrams": q_corpus_bigrams,
        "events_rolling_1h": q_events_rolling_1h,
        "docs_stratified_sample": q_docs_stratified_sample,
        "merge_upsert_events": q_merge_upsert_events,
        "events_gapfill": q_events_gapfill,
        "orders_corr": q_orders_corr,
        "embedding_centroids": q_embedding_centroids,
        "heavy_hitter_users": q_heavy_hitter_users,
        "docs_pii_scrub": q_docs_pii_scrub,
        "skew_join_events": q_skew_join_events,
        "user_running_stats": q_user_running_stats,
        "events_anomaly": q_events_anomaly,
        "scd2_history": q_scd2_history,
        "winsorize_values": q_winsorize_values,
        "scan_concat": q_scan_concat,
        "tfidf_vectors": q_tfidf_vectors,
        "fast_cosine_join": q_fast_cosine_join,
        "media_ahash_pairs": q_media_ahash_pairs,
        "media_resize_stats": q_media_resize_stats,
        "dedup_near_clusters_star": q_dedup_near_clusters_star,
        "events_session_native": q_events_session_native,
        "embeddings_decontaminate": q_embeddings_decontaminate,
        "tpch_q6_like": q_tpch_q6_like,
        "tpch_q10_like": q_tpch_q10_like,
        "tpch_q14_like": q_tpch_q14_like,
        "history_merge_replay": q_history_merge_replay,
        "dedup_triangle_density": q_dedup_triangle_density,
        "purchase_attribution": q_purchase_attribution,
        "events_reconcile": q_events_reconcile,
        "docs_global_rank": q_docs_global_rank,
        "events_monthly_uniques_sketch": q_events_monthly_uniques_sketch,
        "events_pagerank": q_events_pagerank,
        "docs_bigram_logprob": q_docs_bigram_logprob,
        "docs_weighted_sample": q_docs_weighted_sample,
        "user_retention_cohorts": q_user_retention_cohorts,
        "orders_rfm_segments": q_orders_rfm_segments,
        "tpch_q1_like": q_tpch_q1_like,
        "tpch_q8_like": q_tpch_q8_like,
        "tpch_q13_like": q_tpch_q13_like,
        "tpch_q15_like": q_tpch_q15_like,
        "tpch_q17_like": q_tpch_q17_like,
        "tpch_q19_like": q_tpch_q19_like,
        "tpch_q22_like": q_tpch_q22_like,
        # --- latest driver row r09 (50): gate after the r08 cohort ---
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "events_sessionize": q_events_sessionize,
        "user_type_pivot": q_user_type_pivot,
        "pair_edit_distance": q_pair_edit_distance,
        "orders_by_month": q_orders_by_month,
        "text_normalize": q_text_normalize,
        "orders_grouping_sets": q_orders_grouping_sets,
        "events_interarrival": q_events_interarrival,
        "orders_status_breakdown": q_orders_status_breakdown,
        "docs_substring_clean": q_docs_substring_clean,
        "incremental_spans_batch": q_incremental_spans_batch,
        "docs_bloom_decontaminate": q_docs_bloom_decontaminate,
        "tokens_cms_estimates": q_tokens_cms_estimates,
        "events_json_props": q_events_json_props,
        "docs_pack_sequences": q_docs_pack_sequences,
        "approx_distinct_users": q_approx_distinct_users,
        "events_anomaly_sql": q_events_anomaly_sql,
        "docs_mixture_sample": q_docs_mixture_sample,
        "docs_shuffle_shards": q_docs_shuffle_shards,
        "events_value_bins": q_events_value_bins,
        "docs_curation_rules": q_docs_curation_rules,
        "ann_topk_ivf": q_ann_topk_ivf,
        "cosine_similarity": q_cosine_similarity,
        "tokenize_stopwords": q_tokenize_stopwords,
        "term_frequencies": q_term_frequencies,
        "idf_dict": q_idf_dict,
        "l2_norm": q_l2_norm,
        "inverted_index": q_inverted_index,
        "common_token_pairs": q_common_token_pairs,
        "cross_similarity": q_cross_similarity,
        "filter_pair_lookup": q_filter_pair_lookup,
        "doc_similarity": q_doc_similarity,
        "count_tokens": q_count_tokens,
        "top1_by_token_count": q_top1_by_token_count,
        "union_corpus": q_union_corpus,
        "gold_join_eval": q_gold_join_eval,
        "threshold_sweep": q_threshold_sweep,
        "idf_histogram": q_idf_histogram,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_embedding": q_dedup_embedding,
        "dedup_embedding_lsh": q_dedup_embedding_lsh,
        "ann_topk_bruteforce": q_ann_topk_bruteforce,
        "ann_topk_lsh": q_ann_topk_lsh,
        # --- latest driver row r10 (50): freshest, rotate last ---
        "events_interval_union": q_events_interval_union,
        "events_type_transitions": q_events_type_transitions,
        "dedup_kcore": q_dedup_kcore,
        "orders_price_trend": q_orders_price_trend,
        "basket_brand_pairs": q_basket_brand_pairs,
        "events_cumulative_users": q_events_cumulative_users,
        "docs_keyterms": q_docs_keyterms,
        "embeddings_knn_label": q_embeddings_knn_label,
        "events_value_mad": q_events_value_mad,
        "orders_unpivot": q_orders_unpivot,
        "docs_bpe_segments": q_docs_bpe_segments,
        "attribution_linear": q_attribution_linear,
        "funnel_latency": q_funnel_latency,
        "events_snapshot_diff": q_events_snapshot_diff,
        "orders_repeat_share": q_orders_repeat_share,
        "orders_abc_classes": q_orders_abc_classes,
        "events_dau_wau": q_events_dau_wau,
        "session_paths": q_session_paths,
        "orders_mom_growth": q_orders_mom_growth,
        "dedup_cluster_sizes": q_dedup_cluster_sizes,
        "docs_shingle_novelty": q_docs_shingle_novelty,
        "orders_mix_drift": q_orders_mix_drift,
        "embeddings_profile": q_embeddings_profile,
        "events_hourly_profile": q_events_hourly_profile,
        "events_value_band_join": q_events_value_band_join,
        "text_lang_id": q_text_lang_id,
        "text_quality": q_text_quality,
        "token_counts": q_token_counts,
        "doc_fingerprint": q_doc_fingerprint,
        "media_decode": q_media_decode,
        "media_frame_sample": q_media_frame_sample,
        "events_windowed": q_events_windowed,
        "events_sliding_users": q_events_sliding_users,
        "pricing_rollup": q_pricing_rollup,
        "top_parts_by_brand": q_top_parts_by_brand,
        "asof_join_events": q_asof_join_events,
        "range_join_events": q_range_join_events,
        "sales_cube": q_sales_cube,
        "value_percentiles": q_value_percentiles,
        "customers_no_orders": q_customers_no_orders,
        "docs_prefix_blocking": q_docs_prefix_blocking,
        "events_zorder_key": q_events_zorder_key,
        "orders_profile_drift": q_orders_profile_drift,
        "skew_join_auto": q_skew_join_auto,
        "value_percentiles_approx": q_value_percentiles_approx,
        "pair_jaccard_estimates": q_pair_jaccard_estimates,
        "incremental_lines_batch": q_incremental_lines_batch,
        "scan_gold_pairs": q_scan_gold_pairs,
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: token-blocked TF-IDF cosine similarity join between the
    two document catalogs at sf0.001."""
    return q_fast_cosine_join(spark, SF0001)


# ---------------------------------------------------------------------------
# oracle_sql() -- DuckDB dialect, same table views, same column names
# ---------------------------------------------------------------------------

_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS) + "]"

# Tokenization pipeline CTEs shared by most text queries. NB: DuckDB
# regexp_replace needs the 'g' flag to match Spark's replace-all.
_BASE = f"""
tok0 AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '') AS toks
  FROM documents
),
tok AS (
  SELECT doc_id, list_filter(toks, x -> NOT list_contains({_STOP_SQL}, x)) AS toks
  FROM tok0
),
ex AS (
  SELECT doc_id, len(toks) AS n_tokens, unnest(toks) AS token FROM tok
),
tf AS (
  SELECT doc_id, token, count(*) / any_value(n_tokens) AS tf
  FROM ex GROUP BY doc_id, token
),
dfreq AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM ex GROUP BY token
),
ndocs AS (SELECT count(*) AS n_docs FROM tok),
idf AS (SELECT token, df, n_docs / df AS idf FROM dfreq, ndocs),
w AS (
  SELECT tf.doc_id, tf.token, tf.tf * idf.idf AS weight
  FROM tf JOIN idf USING (token)
),
norms AS (SELECT doc_id, sqrt(sum(weight * weight)) AS norm FROM w GROUP BY doc_id)
"""

_SIMS = """
dots AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, sum(a.weight * b.weight) AS dot
  FROM w a JOIN w b USING (token)
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
  GROUP BY 1, 2
),
sims AS (
  SELECT a_id, b_id, dot / (na.norm * nb.norm) AS sim
  FROM dots
  JOIN norms na ON na.doc_id = a_id
  JOIN norms nb ON nb.doc_id = b_id
)
"""

_GOLD = """
gold AS (
  SELECT doc_id AS a_id, doc_id + 1 AS b_id FROM documents WHERE doc_id % 2 = 0
)
"""


# --- extension-oracle building blocks (mirror functions.hashing exactly) ---

_DEDUP_BASE = f"""
dtok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '') AS toks
  FROM documents
),
shing AS (
  SELECT doc_id, {word_shingles_sql("toks", 3)} AS shingles FROM dtok
),
shh AS (
  SELECT doc_id, {string_hash31_sql("shingle")} AS sh
  FROM (SELECT doc_id, unnest(shingles) AS shingle FROM shing)
)
"""

_MINHASH_PARAMS_SQL = "params(i, a, b) AS (VALUES " + ", ".join(
    f"({i}, {a}, {b})" for i, a, b in dd.MINHASH_PARAMS
) + ")"

_MINHASH_SIGS_SQL = f"""
sigs AS (
  SELECT doc_id, i, min((a * sh + b) % {MERSENNE31}) AS sig
  FROM shh CROSS JOIN params
  GROUP BY doc_id, i
)
"""

_EMB_NORM_SQL = """
v AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings),
nv AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_prepend(0.0::DOUBLE,
              list_transform(range(1, len(v) + 1), j -> v[j] * v[j])),
              (a, b) -> a + b)) AS norm
  FROM v
)
"""


def _emb_dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, len({a}) + 1), j -> {a}[j] * {b}[j])), "
        f"(x, y) -> x + y)"
    )


_PLANES_SQL = "[" + ", ".join(
    "[" + ", ".join(str(v) for v in row) + "]" for row in ann_ops.HYPERPLANES
) + "]"

# Adaptive bucket width, same integer rule as ann.adaptive_rows_per_band:
# smallest r in [4, 32] with TARGET_BUCKET_ROWS * 2^r >= count(embeddings).
_LSH_SIGS_SQL = f"""
qv AS (
  SELECT vec_id, [floor(x::DOUBLE * {ann_ops.QUANT})::BIGINT for x in embedding] AS q
  FROM embeddings
),
rb AS (
  -- coalesce mirrors adaptive_rows_per_band's hi clamp: past
  -- TARGET_BUCKET_ROWS * 2^32 rows no r satisfies the predicate and
  -- min(r) would be NULL, silently emptying the planes CTE
  SELECT coalesce(min(r), 32)::INT AS r FROM range(4, 33) t(r)
  WHERE {ann_ops.TARGET_BUCKET_ROWS} * (1::BIGINT << r::INT)
        >= (SELECT count(*) FROM embeddings)
),
planes AS (
  SELECT i::INT AS i, ({_PLANES_SQL})[i::INT + 1] AS p
  FROM range(0, {ann_ops.N_PLANES_MAX}) t(i)
  WHERE i < {ann_ops.LSH_BANDS} * (SELECT r FROM rb)
),
bits AS (
  SELECT vec_id, i,
         CASE WHEN list_reduce(list_prepend(0::BIGINT,
                list_transform(range(1, len(q) + 1), j -> q[j] * p[j])),
                (a, b) -> a + b) >= 0
              THEN 1::BIGINT ELSE 0::BIGINT END AS bit
  FROM qv CROSS JOIN planes
),
lsig AS (
  SELECT vec_id, (i // (SELECT r FROM rb))::INT AS band,
         sum(bit * (1::BIGINT << (i % (SELECT r FROM rb))::INT))::BIGINT AS bucket
  FROM bits GROUP BY 1, 2
)
"""


def _kmeans_cents_sql(n_iter: int, src: str = "nv") -> tuple[str, str]:
    """DuckDB CTE chain mirroring ann.kmeans_centroids exactly: returns
    (cte_sql, final_name). Assignment argmax and DECIMAL-exact
    per-dimension means per unrolled iteration; parallel unnests zip, so
    (pos, val) pairs mirror posexplode (pos base differs but is only
    ever grouped/sorted on). ``src`` names the (vec_id, v, norm) CTE
    the index is built over -- the full ``nv`` by default, a filtered
    view for indexes built over a sub-corpus (the labeled-seed IVF)."""
    ctes = [
        f"c0 AS (SELECT vec_id AS c_id, v AS cv, norm AS cn FROM {src} "
        f"ORDER BY vec_id LIMIT {ann_ops.N_CENTROIDS})"
    ]
    for it in range(1, n_iter + 1):
        prev = f"c{it - 1}"
        ctes.append(f"""
        a{it} AS (
          SELECT c_id, v FROM (
            SELECT a.vec_id AS id, c_id, a.v,
                   row_number() OVER (
                     PARTITION BY a.vec_id
                     ORDER BY round({_emb_dot_sql("a.v", "cv")} / (a.norm * cn), 9) DESC, c_id
                   ) AS rn
            FROM {src} a CROSS JOIN {prev}
          ) WHERE rn = 1
        ),
        m{it} AS (
          SELECT c_id, pos,
                 CAST(sum(CAST(val AS DECIMAL(38,15))) AS DOUBLE) / count(*) AS m
          FROM (
            SELECT c_id, unnest(range(1, len(v) + 1)) AS pos, unnest(v) AS val
            FROM a{it}
          ) GROUP BY 1, 2
        ),
        c{it} AS (
          SELECT c_id, cv, sqrt({_emb_dot_sql("cv", "cv")}) AS cn FROM (
            SELECT c_id, array_agg(m ORDER BY pos) AS cv FROM m{it} GROUP BY c_id
          )
        )""")
    return ",\n".join(ctes), f"c{n_iter}"


_KMEANS_CTES, _KMEANS_FINAL = _kmeans_cents_sql(ann_ops.KMEANS_ITERS)


def _lang_hits_sql(words: list[str]) -> str:
    lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter(toks, t -> list_contains({lst}, t)))"


def _winnow_spans_ctes(dw_pred: str = "TRUE") -> str:
    """DuckDB CTE chain replaying operators/dedup.py::duplicate_spans
    (width 25, window 15, min_count 2): per-position 60-bit k-gram
    hashes, rightmost-minimal winnowing selection, corpus-wide
    duplicate counting, and the gaps-and-islands span merge.
    ``dw_pred`` restricts WHICH docs' duplicated positions become spans
    (duplicate counting always sees the whole corpus) -- the
    union-then-restrict shape of the incremental contract. The final
    CTE ``msp`` is (doc_id, span_idx, span_start, span_end,
    n_windows)."""
    return f"""
        d0 AS (
          SELECT doc_id, text, length(text) AS len FROM documents
          WHERE length(text) >= 25 + 15 - 1
        ),
        hl AS (
          SELECT doc_id,
                 list_transform(range(1, len - 25 + 2),
                   i -> ('0x' || substr(md5(substr(text, i::INT, 25)), 1, 15))::BIGINT)
                   AS hs
          FROM d0
        ),
        selp AS (
          SELECT doc_id, hs,
                 list_distinct(list_transform(range(1, len(hs) - 15 + 2),
                   j -> list_reduce(range(j, j + 15),
                          (a, b) -> CASE WHEN hs[b::INT] < hs[a::INT]
                                           OR (hs[b::INT] = hs[a::INT] AND b > a)
                                         THEN b ELSE a END))) AS ps
          FROM hl
        ),
        fp AS (
          SELECT doc_id, p::BIGINT AS p, hs[p::INT] AS h
          FROM (SELECT doc_id, hs, unnest(ps) AS p FROM selp)
        ),
        dup AS (SELECT h FROM fp GROUP BY h HAVING count(*) >= 2),
        dw AS (
          SELECT doc_id, p AS s, p + 25 - 1 AS e
          FROM fp WHERE h IN (SELECT h FROM dup) AND ({dw_pred})
        ),
        isl AS (
          SELECT doc_id, s, e,
                 CASE WHEN s <= coalesce(max(e) OVER (
                        PARTITION BY doc_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      -1) + 1
                      THEN 0 ELSE 1 END AS brk
          FROM dw
        ),
        g AS (
          SELECT doc_id, s, e,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY s) AS isl_id
          FROM isl
        ),
        msp AS (
          SELECT doc_id, (isl_id - 1)::BIGINT AS span_idx,
                 min(s)::BIGINT AS span_start, max(e)::BIGINT AS span_end,
                 count(*)::BIGINT AS n_windows
          FROM g GROUP BY doc_id, isl_id
        )
    """


def oracle_sql() -> dict[str, str]:
    sqls = {
        "scan_concat": """
            SELECT p_partkey, concat_ws(' ', p_name, p_brand, p_type) AS text
            FROM part
        """,
        "scan_gold_pairs": """
            SELECT doc_id AS a_id, doc_id + 1 AS b_id
            FROM documents WHERE doc_id % 2 = 0
        """,
        "dot_product": f"""
            WITH {_BASE}
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   round(sum(a.weight * b.weight), 6) AS dot
            FROM w a JOIN w b USING (token)
            WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
            GROUP BY 1, 2
        """,
        "cosine_similarity": f"""
            WITH {_BASE}
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   round(sum(a.weight * b.weight) / (any_value(na.norm) * any_value(nb.norm)), 6) AS sim
            FROM w a JOIN w b USING (token)
            JOIN norms na ON na.doc_id = a.doc_id
            JOIN norms nb ON nb.doc_id = b.doc_id
            WHERE a.doc_id = 4 AND b.doc_id = 5
            GROUP BY 1, 2
        """,
        "str_strip_quotes": """
            SELECT doc_id, regexp_replace(text, '"', '', 'g') AS clean_text
            FROM documents
        """,
        "tokenize": """
            WITH tok0 AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '') AS toks
              FROM documents
            )
            SELECT doc_id, unnest(toks) AS token FROM tok0
        """,
        "tokenize_stopwords": f"WITH {_BASE} SELECT doc_id, unnest(toks) AS token FROM tok",
        "term_frequencies": f"WITH {_BASE} SELECT doc_id, token, tf FROM tf",
        "idf_dict": f"WITH {_BASE} SELECT token, df, idf FROM idf",
        "tfidf_vectors": f"WITH {_BASE} SELECT doc_id, token, weight FROM w",
        "l2_norm": f"WITH {_BASE} SELECT doc_id, round(norm, 6) AS norm FROM norms",
        "inverted_index": f"""
            WITH {_BASE}
            SELECT DISTINCT token, doc_id FROM ex
        """,
        "common_token_pairs": f"""
            WITH {_BASE},
            pa AS (SELECT DISTINCT token, doc_id FROM ex WHERE doc_id % 2 = 0),
            pb AS (SELECT DISTINCT token, doc_id FROM ex WHERE doc_id % 2 = 1)
            SELECT pa.doc_id AS a_id, pb.doc_id AS b_id, count(*) AS n_common
            FROM pa JOIN pb USING (token)
            GROUP BY 1, 2
        """,
        "fast_cosine_join": f"""
            WITH {_BASE}, {_SIMS}
            SELECT a_id, b_id, round(sim, 6) AS sim FROM sims
        """,
        "cross_similarity": f"""
            WITH {_BASE}, {_SIMS}
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   round(coalesce(sims.sim, 0.0), 6) AS sim
            FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 0) a
            CROSS JOIN (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) b
            LEFT JOIN sims ON sims.a_id = a.doc_id AND sims.b_id = b.doc_id
        """,
        "filter_pair_lookup": f"""
            WITH {_BASE}, {_SIMS}
            SELECT round(sim, 6) AS sim FROM sims WHERE a_id = 2 AND b_id = 3
        """,
        "doc_similarity": f"""
            WITH {_BASE}, {_SIMS}
            SELECT round(sim, 6) AS sim FROM sims WHERE a_id = 0 AND b_id = 1
        """,
        "count_tokens": f"""
            WITH {_BASE}
            SELECT sum(len(toks))::BIGINT AS total_tokens FROM tok
        """,
        "top1_by_token_count": f"""
            WITH {_BASE}
            SELECT doc_id, len(toks)::INT AS n_tokens FROM tok
            ORDER BY n_tokens DESC, doc_id LIMIT 1
        """,
        "union_corpus": f"""
            WITH {_BASE}
            SELECT doc_id, len(toks)::INT AS n_tokens FROM tok WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id, len(toks)::INT AS n_tokens FROM tok WHERE doc_id % 2 = 1
        """,
        "gold_join_eval": f"""
            WITH {_BASE}, {_SIMS}, {_GOLD}
            SELECT gold.a_id IS NOT NULL AS is_dup,
                   count(*) AS n,
                   round(avg(sim), 6) AS avg_sim
            FROM sims LEFT JOIN gold USING (a_id, b_id)
            GROUP BY 1
        """,
        "threshold_sweep": f"""
            WITH {_BASE}, {_SIMS}, {_GOLD},
            dup_sims AS (
              SELECT gold.a_id, gold.b_id, coalesce(sims.sim, 0.0) AS sim
              FROM gold LEFT JOIN sims USING (a_id, b_id)
            ),
            bins_all AS (
              SELECT least(floor(sim * 100)::BIGINT, 100) AS bin, count(*) AS cnt_all
              FROM sims GROUP BY 1
            ),
            bins_dup AS (
              SELECT least(floor(sim * 100)::BIGINT, 100) AS bin, count(*) AS cnt_dup
              FROM dup_sims GROUP BY 1
            ),
            grid AS (SELECT range AS bin FROM range(0, 101)),
            tot AS (SELECT count(*) AS n_dups FROM dup_sims),
            -- gold pairs absent from the candidates exist with sim 0.0,
            -- so they are predicted positives at threshold 0 and must
            -- enter the all-pairs bins too (else fp(0) goes negative)
            miss AS (
              SELECT count(*) AS n_missing
              FROM gold LEFT JOIN sims USING (a_id, b_id)
              WHERE sims.sim IS NULL
            ),
            binned AS (
              SELECT grid.bin,
                     coalesce(cnt_all, 0)
                       + (CASE WHEN grid.bin = 0 THEN n_missing ELSE 0 END) AS cnt_all,
                     coalesce(cnt_dup, 0) AS cnt_dup
              FROM grid LEFT JOIN bins_all USING (bin) LEFT JOIN bins_dup USING (bin), miss
            ),
            cum AS (
              SELECT bin,
                     sum(cnt_all) OVER (ORDER BY bin DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS pred_pos,
                     sum(cnt_dup) OVER (ORDER BY bin DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS tp
              FROM binned
            )
            SELECT bin / 100 AS threshold,
                   tp,
                   pred_pos - tp AS fp,
                   n_dups - tp AS fn,
                   CASE WHEN pred_pos > 0 THEN tp / pred_pos END AS precision,
                   tp / n_dups AS recall,
                   CASE WHEN pred_pos + n_dups > 0
                        THEN 2.0 * tp / (pred_pos + n_dups) END AS fmeasure
            FROM cum, tot
        """,
        "idf_histogram": f"""
            WITH {_BASE},
            stats AS (SELECT min(idf) AS lo, max(idf) AS hi, count(*) AS n FROM idf),
            binned AS (
              SELECT least(floor((idf - lo) / ((hi - lo) / 50))::BIGINT, 49) AS bin, n
              FROM idf, stats
            )
            SELECT bin, count(*) AS cnt, count(*) / any_value(n) AS rel_freq
            FROM binned GROUP BY bin
        """,
        "dedup_exact": """
            SELECT doc_id, sha256(text) AS content_hash,
                   doc_id = min(doc_id) OVER (PARTITION BY sha256(text)) AS keep
            FROM documents
        """,
        "minhash_signatures": f"""
            WITH {_DEDUP_BASE}, {_MINHASH_PARAMS_SQL}, {_MINHASH_SIGS_SQL}
            SELECT doc_id, i, sig FROM sigs
        """,
        "dedup_minhash_lsh": f"""
            WITH {_DEDUP_BASE}, {_MINHASH_PARAMS_SQL}, {_MINHASH_SIGS_SQL},
            bands AS (
              SELECT doc_id, (i // {dd.LSH_ROWS})::INT AS band,
                     array_to_string(array_agg(sig ORDER BY i), ',') AS key
              FROM sigs GROUP BY doc_id, band
            )
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM bands a JOIN bands b USING (band, key)
            WHERE a.doc_id < b.doc_id
        """,
        "dedup_near_clusters": f"""
            WITH RECURSIVE {_DEDUP_BASE}, {_MINHASH_PARAMS_SQL}, {_MINHASH_SIGS_SQL},
            bands AS (
              SELECT doc_id, (i // {dd.LSH_ROWS})::INT AS band,
                     array_to_string(array_agg(sig ORDER BY i), ',') AS key
              FROM sigs GROUP BY doc_id, band
            ),
            pairs AS (
              SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
              FROM bands a JOIN bands b USING (band, key)
              WHERE a.doc_id < b.doc_id
            ),
            edges AS (
              SELECT a_id AS u, b_id AS v FROM pairs
              UNION
              SELECT b_id, a_id FROM pairs
            ),
            reach AS (
              SELECT u AS node, v AS r FROM edges
              UNION
              SELECT reach.node, edges.v
              FROM reach JOIN edges ON reach.r = edges.u
              WHERE edges.v <> reach.node
            ),
            comp AS (
              SELECT node, least(node, min(r)) AS keep_id
              FROM reach GROUP BY node
            )
            SELECT d.doc_id,
                   coalesce(c.keep_id, d.doc_id) AS keep_id,
                   (d.doc_id = coalesce(c.keep_id, d.doc_id))::BIGINT AS is_kept
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        """,
        "dedup_simhash": f"""
            WITH dtok AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '') AS toks
              FROM documents
            ),
            tokh AS (
              SELECT doc_id,
                     {string_hash32_sql("token", 1)} AS hlo,
                     {string_hash32_sql("token", 9)} AS hhi
              FROM (SELECT DISTINCT doc_id, unnest(toks) AS token FROM dtok)
            ),
            bits AS (SELECT j::INT AS j, (1::BIGINT << j::INT) AS p2 FROM range(0, 32) t(j)),
            votes AS (
              SELECT doc_id, j, p2,
                     sum(CASE WHEN (hhi // p2) % 2 = 1 THEN 1 ELSE -1 END) AS vote_hi,
                     sum(CASE WHEN (hlo // p2) % 2 = 1 THEN 1 ELSE -1 END) AS vote_lo
              FROM tokh CROSS JOIN bits GROUP BY 1, 2, 3
            )
            SELECT doc_id,
                   sum(CASE WHEN vote_hi >= 0 THEN p2 ELSE 0 END)::BIGINT AS sim_hi,
                   sum(CASE WHEN vote_lo >= 0 THEN p2 ELSE 0 END)::BIGINT AS sim_lo
            FROM votes GROUP BY doc_id
        """,
        "dedup_ngram_jaccard": f"""
            WITH {_DEDUP_BASE},
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
              FROM shh a JOIN shh b USING (sh)
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT a_id, b_id,
                   round(n_inter / (na.n_sh + nb.n_sh - n_inter), 6) AS jaccard
            FROM inter
            JOIN sizes na ON na.doc_id = a_id
            JOIN sizes nb ON nb.doc_id = b_id
        """,
        "dedup_embedding": f"""
            WITH {_EMB_NORM_SQL},
            pairs AS (
              SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                     {_emb_dot_sql("a.v", "b.v")} / (a.norm * b.norm) AS cos
              FROM nv a JOIN nv b ON a.vec_id < b.vec_id
            )
            SELECT a_id, b_id, round(cos, 6) AS cos
            FROM pairs WHERE cos >= {EMBED_NEAR_DUP_THRESHOLD}
        """,
        "dedup_embedding_lsh": f"""
            WITH {_EMB_NORM_SQL}, {_LSH_SIGS_SQL},
            cand AS (
              SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
              FROM lsig a JOIN lsig b USING (band, bucket)
              WHERE a.vec_id < b.vec_id
            ),
            scored AS (
              SELECT a_id, b_id,
                     {_emb_dot_sql("na.v", "nb.v")} / (na.norm * nb.norm) AS cos
              FROM cand
              JOIN nv na ON na.vec_id = a_id
              JOIN nv nb ON nb.vec_id = b_id
            )
            SELECT a_id, b_id, round(cos, 6) AS cos
            FROM scored WHERE cos >= {EMBED_NEAR_DUP_THRESHOLD}
        """,
        "ann_topk_bruteforce": f"""
            WITH {_EMB_NORM_SQL},
            q AS (SELECT vec_id AS q_id, v AS qv, norm AS qn FROM nv WHERE vec_id < {ANN_N_QUERIES}),
            scored AS (
              SELECT q_id, c.vec_id AS n_id,
                     round({_emb_dot_sql("qv", "c.v")} / (qn * c.norm), 9) AS cos
              FROM q CROSS JOIN nv c WHERE c.vec_id <> q_id
            ),
            ranked AS (
              SELECT q_id, n_id, cos,
                     row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
              FROM scored
            )
            SELECT q_id, n_id, rank, round(cos, 6) AS cos
            FROM ranked WHERE rank <= {ANN_K}
        """,
        "ann_topk_ivf": f"""
            WITH {_EMB_NORM_SQL},
            {_KMEANS_CTES},
            cents AS (SELECT c_id, cv, cn FROM {_KMEANS_FINAL}),
            ascore AS (
              SELECT a.vec_id AS id, c_id,
                     round({_emb_dot_sql("a.v", "cv")} / (a.norm * cn), 9) AS cos
              FROM nv a CROSS JOIN cents
            ),
            assign AS (
              SELECT id, c_id AS cluster FROM (
                SELECT id, c_id,
                       row_number() OVER (PARTITION BY id ORDER BY cos DESC, c_id) AS rn
                FROM ascore
              ) WHERE rn = 1
            ),
            probes AS (
              SELECT q_id, c_id AS cluster FROM (
                SELECT q.vec_id AS q_id, c_id,
                       row_number() OVER (
                         PARTITION BY q.vec_id
                         ORDER BY round({_emb_dot_sql("q.v", "cv")} / (q.norm * cn), 9) DESC, c_id
                       ) AS rn
                FROM nv q CROSS JOIN cents WHERE q.vec_id < {ANN_N_QUERIES}
              ) WHERE rn <= {ann_ops.N_PROBE}
            ),
            cand AS (
              SELECT DISTINCT q_id, a.id AS n_id
              FROM probes p JOIN assign a USING (cluster)
              WHERE a.id <> p.q_id
            ),
            scored AS (
              SELECT q_id, n_id,
                     round({_emb_dot_sql("qn.v", "cn2.v")} / (qn.norm * cn2.norm), 9) AS cos
              FROM cand
              JOIN nv qn ON qn.vec_id = q_id
              JOIN nv cn2 ON cn2.vec_id = n_id
            ),
            ranked AS (
              SELECT q_id, n_id, cos,
                     row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
              FROM scored
            )
            SELECT q_id, n_id, rank, round(cos, 6) AS cos
            FROM ranked WHERE rank <= {ANN_K}
        """,
        "ann_topk_lsh": f"""
            WITH {_EMB_NORM_SQL}, {_LSH_SIGS_SQL},
            qs AS (SELECT vec_id AS q_id, band, bucket FROM lsig WHERE vec_id < {ANN_N_QUERIES}),
            cand AS (
              SELECT DISTINCT q_id, s.vec_id AS n_id
              FROM qs JOIN lsig s USING (band, bucket)
              WHERE s.vec_id <> q_id
            ),
            scored AS (
              SELECT q_id, n_id,
                     round({_emb_dot_sql("qn.v", "cn.v")} / (qn.norm * cn.norm), 9) AS cos
              FROM cand
              JOIN nv qn ON qn.vec_id = q_id
              JOIN nv cn ON cn.vec_id = n_id
            ),
            ranked AS (
              SELECT q_id, n_id, cos,
                     row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
              FROM scored
            )
            SELECT q_id, n_id, rank, round(cos, 6) AS cos
            FROM ranked WHERE rank <= {ANN_K}
        """,
        "text_lang_id": f"""
            WITH dtok AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '') AS toks
              FROM documents
            ),
            sc AS (
              SELECT doc_id,
                     {_lang_hits_sql(ts.LANG_MARKERS["en"])} AS s_en,
                     {_lang_hits_sql(ts.LANG_MARKERS["de"])} AS s_de,
                     {_lang_hits_sql(ts.LANG_MARKERS["fr"])} AS s_fr,
                     {_lang_hits_sql(ts.LANG_MARKERS["es"])} AS s_es
              FROM dtok
            )
            SELECT doc_id,
                   CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                        WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                        WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                        WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                        ELSE 'es' END AS lang_pred,
                   greatest(s_en, s_de, s_fr, s_es)::BIGINT AS n_hits
            FROM sc
        """,
        "text_quality": f"""
            WITH dtok AS (
              SELECT doc_id, text,
                     list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '') AS toks
              FROM documents
            ),
            feats AS (
              SELECT doc_id,
                     length(text)::BIGINT AS n_chars,
                     len(toks)::BIGINT AS n_tokens,
                     CASE WHEN len(toks) > 0
                          THEN list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks)
                          ELSE 0.0 END AS mean_token_len,
                     CASE WHEN len(toks) > 0
                          THEN len(list_filter(toks, t -> list_contains({_STOP_SQL}, t)))::DOUBLE / len(toks)
                          ELSE 0.0 END AS stopword_ratio,
                     CASE WHEN length(text) > 0
                          THEN len(regexp_extract_all(text, '[^\\w\\s]'))::DOUBLE / length(text)
                          ELSE 0.0 END AS punct_ratio,
                     CASE WHEN length(text) > 0
                          THEN len(regexp_extract_all(text, '[0-9]'))::DOUBLE / length(text)
                          ELSE 0.0 END AS digit_ratio,
                     least(len(toks) / 20.0, 1.0) AS length_score
              FROM dtok
            )
            SELECT doc_id, n_chars, n_tokens, mean_token_len, stopword_ratio,
                   punct_ratio, digit_ratio,
                   greatest(0.0, least(1.0,
                     0.4 * length_score + 0.3 * (1.0 - punct_ratio)
                     + 0.2 * stopword_ratio + 0.1 * (1.0 - digit_ratio))) AS quality_score
            FROM feats
        """,
        "token_counts": """
            SELECT doc_id,
                   len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))::BIGINT AS n_ws_tokens,
                   len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))::BIGINT AS n_bpe_tokens
            FROM documents
        """,
        "doc_fingerprint": f"""
            WITH dtok AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '') AS toks
              FROM documents
            ),
            shing AS (SELECT doc_id, {word_shingles_sql("toks", 3)} AS shingles FROM dtok)
            SELECT doc_id,
                   list_min(list_transform(shingles, s -> {string_hash31_sql("s")})) AS fingerprint,
                   len(shingles)::BIGINT AS n_shingles
            FROM shing
        """,
        # The synthetic documents are pure ASCII, so the UTF-8 payload bytes
        # the mapInPandas decode stage sees equal the text's codepoints --
        # making the Python byte stats exactly mirrorable in SQL.
        "media_decode": f"""
            SELECT doc_id AS media_id,
                   length(text)::BIGINT AS n_bytes,
                   round(CASE WHEN length(text) > 0
                         THEN list_sum([ascii(c)::BIGINT for c in string_split(text, '')])::DOUBLE
                              / length(text)
                         ELSE 0.0 END, 6) AS mean_byte,
                   {char_fold_hash_sql("text")} AS byte_hash
            FROM documents
        """,
        "media_frame_sample": f"""
            WITH frames AS (
              SELECT doc_id, unnest(range(0, (length(text) + 15) // 16)) AS fi, text
              FROM documents
            )
            SELECT doc_id AS media_id, fi::BIGINT AS frame_idx,
                   {char_fold_hash_sql("substr(text, (fi * 16 + 1)::INT, 16)")} AS frame_hash
            FROM frames WHERE fi % 4 = 0
        """,
        "events_windowed": """
            SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type, count(*) AS n_events, round(sum(value), 6) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "events_sliding_users": """
            WITH expanded AS (
              SELECT user_id,
                     time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes' AS window_start
              FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
            )
            SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
                   user_id, count(*) AS n_events
            FROM expanded GROUP BY 1, 2
        """,
        "pricing_rollup": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 6) AS sum_qty,
                   (round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 4))::DOUBLE
                     AS sum_base_price,
                   (round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))), 4))::DOUBLE
                     AS sum_disc_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        # round-then-rank on BOTH sides so rank ties are deterministic.
        "top_parts_by_brand": """
            WITH rev AS (
              SELECT l_partkey,
                     round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
              FROM lineitem GROUP BY l_partkey
            ),
            j AS (
              SELECT p_brand, p_partkey AS partkey, revenue,
                     row_number() OVER (
                       PARTITION BY p_brand ORDER BY revenue DESC, p_partkey
                     ) AS rank
              FROM rev JOIN part ON l_partkey = p_partkey
            )
            SELECT p_brand, partkey, revenue, rank::INT AS rank FROM j WHERE rank <= 3
        """,
        # epoch_ns//1000 matches the Spark side's microsecond timestamps
        # for both historical encodings of the events parquet (nanos-as-
        # long and native micros); same deterministic ordering.
        "events_sessionize": """
            WITH e AS (
              SELECT user_id, event_id, value, epoch_ns(ts) // 1000 AS tus FROM events
            ),
            m AS (
              SELECT *, CASE WHEN lag(tus) OVER w IS NULL
                              OR tus - lag(tus) OVER w > 1800000000
                         THEN 1 ELSE 0 END AS is_new
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
            ),
            s AS (
              SELECT *, sum(is_new) OVER (
                PARTITION BY user_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING
              ) AS session_idx FROM m
            )
            SELECT user_id, session_idx::BIGINT AS session_idx,
                   strftime(min(make_timestamp(tus)), '%Y-%m-%d %H:%M:%S') AS session_start,
                   strftime(max(make_timestamp(tus)), '%Y-%m-%d %H:%M:%S') AS session_end,
                   count(*) AS n_events, round(sum(value), 6) AS sum_value
            FROM s GROUP BY user_id, session_idx
        """,
        # DuckDB's native ASOF JOIN is the oracle for the union +
        # carry-forward-window implementation.
        "asof_join_events": """
            WITH p AS (
              SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
            ),
            v AS (
              SELECT user_id, event_id AS view_id, ts AS view_ts
              FROM events WHERE event_type = 'view'
            )
            SELECT p.event_id, p.user_id, v.view_id,
                   epoch_us(p.ts) - epoch_us(v.view_ts) AS gap_us
            FROM p ASOF LEFT JOIN v
              ON p.user_id = v.user_id AND v.view_ts <= p.ts
        """,
        "range_join_events": """
            WITH s AS (
              SELECT event_id AS signup_id, user_id AS s_user, ts AS s_ts
              FROM events WHERE event_type = 'signup'
            ),
            e AS (SELECT user_id AS e_user, ts AS e_ts FROM events)
            SELECT signup_id, count(e_user) AS n_follow
            FROM s LEFT JOIN e
              ON s_user = e_user
             AND e_ts > s_ts AND e_ts <= s_ts + INTERVAL 24 HOUR
            GROUP BY signup_id
        """,
        "sales_cube": """
            SELECT o_orderstatus, o_orderpriority,
                   GROUPING(o_orderstatus)::BIGINT AS g_status,
                   GROUPING(o_orderpriority)::BIGINT AS g_priority,
                   count(*) AS n_orders,
                   (round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 4))::DOUBLE AS sum_price
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "value_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   round(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY event_type
        """,
        "customers_no_orders": """
            SELECT c_custkey, c_name, c_mktsegment
            FROM customer c
            WHERE NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderdate >= TIMESTAMP '2000-01-01'
            )
        """,
        # The salt must be invisible in the result: oracle is the PLAIN join.
        "skew_join_events": """
            SELECT e.event_id, e.user_id, c.c_mktsegment, e.value
            FROM events e JOIN customer c ON e.user_id = c.c_custkey
        """,
        "user_running_stats": """
            SELECT event_id, user_id,
                   round(sum(value) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING), 6) AS running_value,
                   row_number() OVER (
                     PARTITION BY user_id ORDER BY ts, event_id) AS seq,
                   ntile(4) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id)::BIGINT AS quartile
            FROM events
        """,
        # approx_distinct_users: the HLL estimate is implementation-
        # specific, but its accuracy bound is not -- the oracle checks the
        # exact count and asserts the estimate landed within 10% (a
        # ~5-sigma bound at rsd=0.02; the query emits that boolean, and a
        # broken sketch fails the value hash).
        "approx_distinct_users": """
            SELECT event_type,
                   count(DISTINCT user_id)::BIGINT AS exact_users,
                   1::BIGINT AS approx_within_10pct
            FROM events GROUP BY event_type
        """,
        "tpch_q3_like": """
            SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   o_orderpriority,
                   (round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))), 4))::DOUBLE AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-03-15'
              AND l_shipdate > TIMESTAMP '1998-03-15'
            GROUP BY o_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderkey
            LIMIT 10
        """,
        "tpch_q5_like": """
            SELECT n_name,
                   (round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))), 4))::DOUBLE AS revenue
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = 'ASIA'
            GROUP BY n_name
        """,
        "events_json_props": """
            SELECT event_type, count(*) AS n_events,
                   -- ::BIGINT: DuckDB sum(BIGINT) widens to HUGEINT
                   -- (int128); Spark emits int64 and the driver hash
                   -- distinguishes the types (r03 red row)
                   sum(CAST(json_extract(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
                   round(avg(CAST(json_extract(props, '$.k') AS BIGINT)), 6) AS avg_k
            FROM events GROUP BY event_type
        """,
        "tokens_except": f"""
            WITH tok0 AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '') AS toks
              FROM documents
            ),
            sh AS (
              SELECT doc_id, unnest({word_shingles_sql('toks', 2)}) AS shingle FROM tok0
            ),
            a AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 0),
            b AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 1)
            SELECT shingle,
                   (SELECT count(*) FROM (SELECT shingle FROM a INTERSECT SELECT shingle FROM b))::BIGINT
                     AS n_common
            FROM (SELECT shingle FROM a EXCEPT SELECT shingle FROM b)
        """,
        "user_type_pivot": """
            SELECT user_id,
                   count(*) FILTER (event_type = 'click') AS n_click,
                   count(*) FILTER (event_type = 'error') AS n_error,
                   count(*) FILTER (event_type = 'purchase') AS n_purchase,
                   count(*) FILTER (event_type = 'signup') AS n_signup,
                   count(*) FILTER (event_type = 'view') AS n_view
            FROM events GROUP BY user_id
        """,
        "pair_edit_distance": """
            WITH d AS (SELECT doc_id, substring(text, 1, 40) AS prefix FROM documents),
            g AS (SELECT doc_id AS a_id, doc_id + 1 AS b_id
                  FROM documents WHERE doc_id % 2 = 0)
            SELECT a_id, b_id, levenshtein(da.prefix, db.prefix) AS edit_dist
            FROM g
            JOIN d da ON da.doc_id = a_id
            JOIN d db ON db.doc_id = b_id
        """,
        "orders_by_month": """
            SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
                   count(*) AS n_orders,
                   (round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 4))::DOUBLE AS sum_price
            FROM orders GROUP BY 1
        """,
    }
    sqls["docs_split_sample"] = f"""
        WITH b AS (
          SELECT doc_id,
                 {string_hash31_sql("doc_id::VARCHAR")} % 100 AS bucket
          FROM documents
        )
        SELECT doc_id, bucket,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split,
               (bucket < 80 AND bucket % 20 = 0)::BIGINT AS sampled
        FROM b
    """
    sqls["text_repetition"] = """
        WITH tok0 AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '') AS toks
          FROM documents
        ),
        g AS (
          SELECT doc_id,
                 list_transform(range(2, len(toks) + 1),
                                i -> toks[i - 1] || ' ' || toks[i]) AS grams
          FROM tok0 WHERE len(toks) >= 2
        )
        SELECT doc_id,
               len(grams)::BIGINT AS n_2grams,
               len(list_distinct(grams))::BIGINT AS n_distinct,
               round(1 - len(list_distinct(grams)) / len(grams)::DOUBLE, 6) AS dup_ratio
        FROM g
    """
    sqls["events_value_zscore"] = """
        SELECT event_id, event_type,
               round((value - avg(value) OVER (PARTITION BY event_type))
                     / stddev_samp(value) OVER (PARTITION BY event_type), 6) AS z
        FROM events
    """
    # Straight from raw events -- matching the Spark side's two-level
    # minutely->hourly rollup proves the materialized intermediate is
    # lossless (decimal sums keep both engines order-independent).
    sqls["events_hourly_from_minutely"] = """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
               event_type,
               count(*) AS n_events,
               (round(sum(CAST(value AS DECIMAL(28,10))), 6))::DOUBLE AS sum_value
        FROM events
        GROUP BY 1, 2
    """
    # Composed stage: the curation verdict nests the three stage oracles
    # as derived tables (CTE names inside each stay scoped to its
    # subquery), so the composition stays consistent with the individual
    # per-stage checks by construction.
    sqls["curation_pipeline"] = f"""
        SELECT q.doc_id, l.lang_pred, q.quality_score, k.is_kept,
               (l.lang_pred = 'en' AND q.quality_score >= 0.5
                AND k.is_kept = 1)::BIGINT AS curated
        FROM ({sqls["text_quality"]}) q
        JOIN ({sqls["text_lang_id"]}) l ON q.doc_id = l.doc_id
        JOIN ({sqls["dedup_near_clusters"]}) k ON q.doc_id = k.doc_id
    """
    sqls["vocab_top_tokens"] = f"""
        WITH {_BASE},
        counts AS (
          SELECT token, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
          FROM ex GROUP BY token
        )
        SELECT token, n_occ, n_docs,
               row_number() OVER (ORDER BY n_occ DESC, token) AS rank
        FROM counts
        ORDER BY n_occ DESC, token LIMIT 100
    """
    sqls["train_test_ngram_overlap"] = f"""
        WITH {_DEDUP_BASE},
        sd AS (SELECT DISTINCT doc_id, sh FROM shh),
        bk AS (
          SELECT doc_id, sh,
                 {string_hash31_sql("doc_id::VARCHAR")} % 100 AS bucket
          FROM sd
        ),
        train AS (SELECT sh, doc_id AS train_id FROM bk WHERE bucket < 80),
        test AS (SELECT doc_id, sh FROM bk WHERE bucket >= 90),
        tot AS (SELECT doc_id, count(*) AS n_shingles FROM test GROUP BY 1),
        m AS (
          SELECT t.doc_id,
                 count(DISTINCT t.sh) AS n_contaminated,
                 count(DISTINCT train_id) AS n_train_docs
          FROM test t JOIN train USING (sh) GROUP BY 1
        )
        SELECT tot.doc_id, tot.n_shingles,
               coalesce(m.n_contaminated, 0) AS n_contaminated,
               coalesce(m.n_train_docs, 0) AS n_train_docs,
               round(coalesce(m.n_contaminated, 0) / tot.n_shingles, 6)
                 AS contamination
        FROM tot LEFT JOIN m USING (doc_id)
    """
    sqls["docs_pack_sequences"] = f"""
        WITH nt AS (
          SELECT doc_id,
                 len(list_filter(regexp_split_to_array(lower(text), '\\W+'),
                                 x -> x <> ''))::BIGINT AS n_tokens,
                 {string_hash31_sql("doc_id::VARCHAR")} % 32 AS shard
          FROM documents
        ),
        c AS (
          SELECT doc_id, shard, n_tokens,
                 coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
          FROM nt
        )
        SELECT doc_id, shard,
               -- ::BIGINT x2: the window sum(n_tokens) is HUGEINT in
               -- DuckDB and infects both derived columns; Spark emits
               -- int64 and the driver hash distinguishes the types
               -- (r03 red row)
               (shard * (1::BIGINT << 40) + (cum_before // 512))::BIGINT AS pack_id,
               (cum_before % 512)::BIGINT AS pack_offset,
               n_tokens
        FROM c
    """
    sqls["docs_unigram_logprob"] = f"""
        WITH {_BASE},
        uni AS (SELECT token, count(*) AS n_occ FROM ex GROUP BY token),
        tot AS (SELECT sum(n_occ) AS total FROM uni)
        SELECT doc_id,
               count(*)::BIGINT AS n_tokens,
               round(avg(ln(n_occ / total)), 6) AS avg_logprob
        FROM ex JOIN uni USING (token), tot
        GROUP BY doc_id
    """
    # Nests the signature oracle as a derived table (like curation_pipeline)
    # so the chunking/hamming stays consistent with the signature check.
    sqls["dedup_simhash_pairs"] = f"""
        WITH sigs AS ({sqls["dedup_simhash"]}),
        ch AS (
          SELECT doc_id, sim_hi, sim_lo, c.chunk,
                 CASE WHEN c.chunk < 2
                      THEN (sim_lo >> (c.chunk * 16)) & 65535
                      ELSE (sim_hi >> ((c.chunk - 2) * 16)) & 65535
                 END AS ckey
          FROM sigs CROSS JOIN (SELECT range AS chunk FROM range(0, 4)) c
        )
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
               (bit_count(xor(a.sim_hi, b.sim_hi))
                + bit_count(xor(a.sim_lo, b.sim_lo)))::BIGINT AS hamming
        FROM ch a JOIN ch b USING (chunk, ckey)
        WHERE a.doc_id < b.doc_id
    """
    sqls["events_latest_per_user"] = """
        SELECT user_id, event_id, ts, event_type, value
        FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY ts DESC, event_id DESC) AS rn
          FROM events
        ) WHERE rn = 1
    """
    # Rerun-idempotence pinned by the oracle: the Spark side merges the
    # same delta TWICE; the oracle is the single-merge (= full-corpus)
    # line-count table, so a double-count fails the hash.
    sqls["history_merge_replay"] = """
        WITH l AS (
          SELECT unnest(regexp_split_to_array(coalesce(text, ''), '\\n')) AS line
          FROM documents
        )
        SELECT line, count(*)::BIGINT AS cnt
        FROM l WHERE trim(line) <> '' GROUP BY line
    """
    sqls["tpch_q6_like"] = """
        SELECT (round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,10))), 4))::DOUBLE
                 AS revenue,
               count(*)::BIGINT AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """
    # round-then-rank with the custkey tie-break on BOTH sides (the
    # top_parts_by_brand discipline) keeps the top-20 cut deterministic.
    sqls["tpch_q10_like"] = """
        WITH rev AS (
          SELECT o_custkey,
                 (round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))), 4))::DOUBLE
                   AS revenue
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE l_returnflag = 'R'
            AND o_orderdate >= TIMESTAMP '1997-01-01'
            AND o_orderdate < TIMESTAMP '1997-04-01'
          GROUP BY o_custkey
        )
        SELECT c_custkey, c_name, revenue, c_acctbal, c_nationkey
        FROM rev JOIN customer ON o_custkey = c_custkey
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """
    sqls["tpch_q14_like"] = """
        SELECT round(100.0
                 * (sum(CASE WHEN p_type = 'PROMO'
                             THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))
                             ELSE CAST(0 AS DECIMAL(28,10)) END))::DOUBLE
                 / (sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))))::DOUBLE,
               6) AS promo_revenue_pct,
               count(*)::BIGINT AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-09-01'
          AND l_shipdate < TIMESTAMP '1997-10-01'
    """
    sqls["tpch_q4_like"] = """
        SELECT o_orderpriority, count(*)::BIGINT AS n_orders
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1997-04-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate)
        GROUP BY 1
    """
    sqls["tpch_q18_like"] = """
        WITH qty AS (
          SELECT l_orderkey, sum(l_quantity) AS sum_qty
          FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300
        )
        SELECT c_name, c_custkey, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o_totalprice, sum_qty
        FROM qty
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
    """
    # Averages derive from the ALREADY-ROUNDED double sums / the exact
    # count (mirroring the Spark side) -- never avg() over raw doubles.
    sqls["tpch_q1_like"] = """
        WITH g AS (
          SELECT l_returnflag, l_linestatus,
                 (round(sum(CAST(l_quantity AS DECIMAL(28,10))), 4))::DOUBLE AS sum_qty,
                 (round(sum(CAST(l_extendedprice AS DECIMAL(28,10))), 4))::DOUBLE AS sum_base_price,
                 (round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))), 4))::DOUBLE AS sum_disc_price,
                 (round(sum(CAST((l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS DECIMAL(28,10))), 4))::DOUBLE AS sum_charge,
                 (round(sum(CAST(l_discount AS DECIMAL(28,10))), 4))::DOUBLE AS sum_disc,
                 count(*)::BIGINT AS count_order
          FROM lineitem
          WHERE l_shipdate <= TIMESTAMP '2001-09-01'
          GROUP BY 1, 2
        )
        SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price,
               sum_disc_price, sum_charge,
               round(sum_qty / count_order, 6) AS avg_qty,
               round(sum_base_price / count_order, 6) AS avg_price,
               round(sum_disc / count_order, 6) AS avg_disc,
               count_order
        FROM g
    """
    sqls["tpch_q8_like"] = """
        WITH cn AS (
          SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'AMERICA'
        ),
        mkt AS (
          SELECT o_orderkey, year(o_orderdate) AS o_year
          FROM orders JOIN customer ON o_custkey = c_custkey
          JOIN cn ON c_nationkey = n_nationkey
          WHERE o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1998-01-01'
        ),
        li AS (
          SELECT l_orderkey, n.n_name AS supp_nation,
                 CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10)) AS rev
          FROM lineitem
          JOIN part ON l_partkey = p_partkey AND p_type = 'LARGE'
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n ON s_nationkey = n.n_nationkey
        )
        SELECT o_year,
               round((sum(CASE WHEN supp_nation = 'NATION_5' THEN rev
                               ELSE CAST(0 AS DECIMAL(28,10)) END))::DOUBLE
                     / (sum(rev))::DOUBLE, 6) AS mkt_share,
               (round(sum(rev), 4))::DOUBLE AS total_revenue,
               count(*)::BIGINT AS n_items
        FROM li JOIN mkt ON l_orderkey = o_orderkey
        GROUP BY o_year
    """
    sqls["tpch_q13_like"] = """
        WITH per AS (
          SELECT c_custkey, count(o_custkey)::BIGINT AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey
        )
        SELECT c_count, count(*)::BIGINT AS custdist
        FROM per GROUP BY c_count
    """
    # Equality on the ROUNDED revenue so 'ties with the max' is exact.
    sqls["tpch_q15_like"] = """
        WITH rev AS (
          SELECT l_suppkey,
                 (round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))), 4))::DOUBLE
                   AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate < TIMESTAMP '1997-04-01'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """
    # The 20%-of-average threshold is division-free (5*qty*n < sum_qty)
    # exactly as on the Spark side.
    sqls["tpch_q17_like"] = """
        WITH li AS (
          SELECT p_partkey, l_quantity, l_extendedprice
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_brand = 'Brand#23'
        ),
        stats AS (
          SELECT p_partkey AS sp_key, count(*)::BIGINT AS n_li,
                 (sum(CAST(l_quantity AS DECIMAL(28,10))))::DOUBLE AS sum_qty
          FROM li GROUP BY 1
        )
        SELECT round((round(sum(CAST(l_extendedprice AS DECIMAL(28,10))), 4))::DOUBLE / 7.0, 6)
                 AS avg_yearly,
               count(*)::BIGINT AS n_items
        FROM li JOIN stats ON p_partkey = sp_key
        WHERE 5.0 * l_quantity * n_li < sum_qty
    """
    sqls["tpch_q19_like"] = """
        SELECT (round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))), 4))::DOUBLE
                 AS revenue,
               count(*)::BIGINT AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_quantity >= 1 AND l_quantity <= 30
          AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 20 AND 30))
    """
    # The oracle computes BOTH sides' checksums itself -- the exact
    # cross-engine scenario the operator exists for: same \\x01-joined
    # row strings, same md5-derived hash, decimal-exact sums.
    sqls["events_reconcile"] = f"""
        WITH base AS (
          SELECT strftime(ts, '%Y-%m-%d') AS day, event_id, user_id,
                 event_type
          FROM events WHERE ts IS NOT NULL
        ),
        replica AS (
          SELECT day, event_id, user_id,
                 CASE WHEN event_id % 997 = 3 THEN 'corrupted'
                      ELSE event_type END AS event_type
          FROM base WHERE event_id % 991 <> 5
        ),
        sa AS (
          SELECT day, count(*)::BIGINT AS n_a,
                 sum({string_hash31_sql(
                     "event_id::VARCHAR || chr(1) || user_id::VARCHAR"
                     " || chr(1) || event_type"
                 )}::DECIMAL(38,0)) AS ck_a
          FROM base GROUP BY day
        ),
        sb AS (
          SELECT day, count(*)::BIGINT AS n_b,
                 sum({string_hash31_sql(
                     "event_id::VARCHAR || chr(1) || user_id::VARCHAR"
                     " || chr(1) || event_type"
                 )}::DECIMAL(38,0)) AS ck_b
          FROM replica GROUP BY day
        )
        SELECT day,
               coalesce(n_a, 0)::BIGINT AS n_a,
               coalesce(n_b, 0)::BIGINT AS n_b,
               (coalesce(n_a, 0) = coalesce(n_b, 0))::BIGINT AS rows_match,
               (ck_a IS NOT DISTINCT FROM ck_b)::BIGINT AS checksum_match
        FROM sa FULL OUTER JOIN sb USING (day)
    """
    # DuckDB's native ASOF realizes the strict backward match; the
    # 7-day tolerance NULLs the attribution columns, keeping the row.
    sqls["purchase_attribution"] = """
        WITH p AS (
          SELECT event_id AS purchase_id, user_id, ts
          FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
        ),
        c AS (
          SELECT user_id, event_id AS click_id, ts AS click_ts
          FROM events WHERE event_type = 'click' AND ts IS NOT NULL
        ),
        m AS (
          SELECT p.purchase_id, p.user_id, p.ts, c.click_id, c.click_ts
          FROM p ASOF LEFT JOIN c
            ON p.user_id = c.user_id AND c.click_ts < p.ts
        )
        SELECT purchase_id, user_id, epoch_us(ts) AS ts_us,
               CASE WHEN epoch_us(ts) - epoch_us(click_ts)
                         <= 604800000000::BIGINT
                    THEN click_id END AS click_id,
               CASE WHEN epoch_us(ts) - epoch_us(click_ts)
                         <= 604800000000::BIGINT
                    THEN epoch_us(ts) - epoch_us(click_ts) END AS lag_us
        FROM m
    """
    # Triangle counting nests the ngram-Jaccard candidate CTE (the
    # gated dedup_ngram_jaccard edge set) and replays the SAME
    # (degree, id) orientation + wedge + closing joins.
    sqls["dedup_triangle_density"] = f"""
        WITH {_DEDUP_BASE},
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS n_inter
          FROM shh a JOIN shh b USING (sh)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        und AS (
          SELECT x, y FROM inter
          JOIN sizes na ON na.doc_id = x
          JOIN sizes nb ON nb.doc_id = y
          WHERE n_inter / (na.n_sh + nb.n_sh - n_inter) >= 0.05
        ),
        deg AS (
          SELECT n, count(*)::BIGINT AS deg
          FROM (SELECT x AS n FROM und UNION ALL SELECT y FROM und)
          GROUP BY n
        ),
        oriented AS (
          SELECT CASE WHEN (dgx < dgy) OR (dgx = dgy AND x < y)
                      THEN x ELSE y END AS src,
                 CASE WHEN (dgx < dgy) OR (dgx = dgy AND x < y)
                      THEN y ELSE x END AS dst,
                 CASE WHEN (dgx < dgy) OR (dgx = dgy AND x < y)
                      THEN dgy ELSE dgx END AS dst_deg
          FROM (SELECT x, y, dx.deg AS dgx, dy.deg AS dgy
                FROM und
                JOIN deg dx ON dx.n = x
                JOIN deg dy ON dy.n = y)
        ),
        tris AS (
          SELECT e1.src AS s, e1.dst AS d1, e2.dst AS d2
          FROM oriented e1
          JOIN oriented e2 ON e1.src = e2.src
          JOIN oriented c ON c.src = e1.dst AND c.dst = e2.dst
          WHERE (e1.dst_deg < e2.dst_deg)
             OR (e1.dst_deg = e2.dst_deg AND e1.dst < e2.dst)
        ),
        pn AS (
          SELECT node, count(*)::BIGINT AS n_triangles
          FROM (SELECT s AS node FROM tris
                UNION ALL SELECT d1 FROM tris
                UNION ALL SELECT d2 FROM tris)
          GROUP BY node
        )
        SELECT n AS node, deg AS degree,
               coalesce(n_triangles, 0)::BIGINT AS n_triangles
        FROM deg LEFT JOIN pn ON pn.node = deg.n
    """
    # The two-phase distributed ranking must equal the plain single-
    # window row_number -- the oracle IS that window.
    sqls["docs_global_rank"] = """
        SELECT doc_id, n_chars,
               row_number() OVER (ORDER BY n_chars, doc_id)::BIGINT
                 AS global_rank
        FROM documents
    """
    # The merged-sketch estimate is implementation-specific; the hashed
    # surface is day counts + exact monthly distincts + the pinned
    # accuracy boolean (the approx_distinct_users pattern).
    sqls["events_monthly_uniques_sketch"] = """
        WITH d AS (
          SELECT strftime(ts, '%Y-%m') AS month,
                 strftime(ts, '%Y-%m-%d') AS day, user_id
          FROM events WHERE ts IS NOT NULL
        )
        SELECT month,
               count(DISTINCT day)::BIGINT AS n_days,
               count(DISTINCT user_id)::BIGINT AS exact_users,
               1::BIGINT AS merged_within_10pct
        FROM d GROUP BY month
    """
    # Fixed-point PageRank: the 3 power-method rounds unroll into CTEs
    # with the SAME integer update (floor divisions, BIGINT sums) as
    # the Spark loop -- bit-exact, no float tolerance anywhere; only
    # the final float view divides.
    _pr_iters = []
    for i in (1, 2, 3):
        _pr_iters.append(f"""
        s{i} AS (
          SELECT e.dst AS node, sum(r // deg)::BIGINT AS s
          FROM e JOIN deg USING (src) JOIN r{i - 1} p ON p.node = e.src
          GROUP BY 1
        ),
        r{i} AS (
          SELECT nodes.node,
                 ((150000000000 // n)
                  + ((85 * coalesce(s, 0)) // 100))::BIGINT AS r
          FROM nodes CROSS JOIN nn
          LEFT JOIN s{i} ON s{i}.node = nodes.node
        )""")
    sqls["events_pagerank"] = f"""
        WITH b AS (
          SELECT DISTINCT 'u:' || user_id::VARCHAR AS u,
                          't:' || event_type AS t
          FROM events
        ),
        e AS (SELECT u AS src, t AS dst FROM b
              UNION ALL SELECT t, u FROM b),
        nodes AS (SELECT DISTINCT src AS node FROM e),
        nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
        deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY 1),
        r0 AS (
          SELECT node, (1000000000000 // n)::BIGINT AS r
          FROM nodes CROSS JOIN nn
        ),{",".join(_pr_iters)}
        SELECT node, r AS rank_fp,
               round(r / 1000000000000, 9) AS rank
        FROM r3
    """
    # Stupid Backoff: attested (>=2) bigrams score ln(c12/c1); the rest
    # back off to ln(0.4 * c2 / total). Every per-position score is one
    # ln() over one exact-integer IEEE division in both engines.
    sqls["docs_bigram_logprob"] = f"""
        WITH {_BASE},
        pos AS (
          SELECT doc_id, unnest(toks) AS token,
                 unnest(range(1, len(toks) + 1)) AS pos
          FROM tok
        ),
        bp AS (
          SELECT a.doc_id, a.token AS w1, b.token AS w2,
                 a.token || ' ' || b.token AS bigram
          FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        ),
        big AS (
          SELECT bigram, count(*)::BIGINT AS n_big FROM bp
          GROUP BY 1 HAVING count(*) >= 2
        ),
        uni AS (SELECT token, count(*)::BIGINT AS n_uni FROM ex GROUP BY 1),
        tot AS (SELECT sum(n_uni) AS total FROM uni)
        SELECT bp.doc_id,
               count(*)::BIGINT AS n_bigrams,
               sum((big.bigram IS NULL)::INT)::BIGINT AS n_backoff,
               round(avg(CASE WHEN big.bigram IS NOT NULL
                              THEN ln(n_big / n_w1)
                              ELSE ln(0.4 * n_w2 / total) END), 6)
                 AS avg_logprob
        FROM bp
        LEFT JOIN big USING (bigram)
        JOIN (SELECT token AS w1, n_uni AS n_w1 FROM uni) USING (w1)
        JOIN (SELECT token AS w2, n_uni AS n_w2 FROM uni) USING (w2)
        CROSS JOIN tot
        GROUP BY bp.doc_id
    """
    # priority = hash / weight: one IEEE division of two exact integers,
    # bit-identical cross-engine -- no rounding anywhere.
    sqls["docs_weighted_sample"] = f"""
        WITH keyed AS (
          SELECT doc_id, lang, n_chars,
                 {string_hash31_sql("'wps:' || doc_id::VARCHAR")}
                   / greatest(n_chars, 1) AS priority
          FROM documents
        ),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY lang
                      ORDER BY priority, doc_id)::BIGINT AS rank
          FROM keyed
        )
        SELECT doc_id, lang, n_chars, priority, rank FROM r WHERE rank <= 40
    """
    # Both week columns Monday-truncate in both engines, so the day
    # difference is an exact multiple of 7.
    sqls["user_retention_cohorts"] = """
        WITH first AS (
          SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
          FROM events GROUP BY user_id
        ),
        sizes AS (
          SELECT cohort_week, count(*)::BIGINT AS cohort_size
          FROM first GROUP BY cohort_week
        ),
        active AS (
          SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
          FROM events
        ),
        agg AS (
          SELECT cohort_week,
                 (datediff('day', cohort_week, active_week) / 7)::BIGINT
                   AS week_offset,
                 count(*)::BIGINT AS n_active
          FROM active JOIN first USING (user_id)
          GROUP BY 1, 2
        )
        SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
               week_offset, n_active, cohort_size,
               round(n_active / cohort_size, 6) AS retention_pct
        FROM agg JOIN sizes USING (cohort_week)
    """
    # Quartiles cut at exact interpolated percentiles (quantile_cont =
    # Spark's percentile()); assignment by strict > on the rounded
    # boundary, exactly as the Spark side.
    sqls["orders_rfm_segments"] = """
        WITH mx AS (SELECT max(o_orderdate) AS max_date FROM orders),
        per AS (
          SELECT o_custkey,
                 min(datediff('day', o_orderdate, max_date))::BIGINT AS r_days,
                 count(*)::BIGINT AS freq,
                 (round(sum(CAST(o_totalprice AS DECIMAL(28,10))), 4))::DOUBLE
                   AS monetary
          FROM orders, mx GROUP BY o_custkey
        ),
        cuts AS (
          SELECT round(quantile_cont(r_days, 0.25), 6) AS r_days_q25,
                 round(quantile_cont(r_days, 0.5), 6) AS r_days_q50,
                 round(quantile_cont(r_days, 0.75), 6) AS r_days_q75,
                 round(quantile_cont(freq, 0.25), 6) AS freq_q25,
                 round(quantile_cont(freq, 0.5), 6) AS freq_q50,
                 round(quantile_cont(freq, 0.75), 6) AS freq_q75,
                 round(quantile_cont(monetary, 0.25), 6) AS monetary_q25,
                 round(quantile_cont(monetary, 0.5), 6) AS monetary_q50,
                 round(quantile_cont(monetary, 0.75), 6) AS monetary_q75
          FROM per
        ),
        q AS (
          SELECT o_custkey, r_days, freq, monetary,
                 (1 + (r_days > r_days_q25)::INT + (r_days > r_days_q50)::INT
                    + (r_days > r_days_q75)::INT)::BIGINT AS r_q,
                 (1 + (freq > freq_q25)::INT + (freq > freq_q50)::INT
                    + (freq > freq_q75)::INT)::BIGINT AS f_q,
                 (1 + (monetary > monetary_q25)::INT + (monetary > monetary_q50)::INT
                    + (monetary > monetary_q75)::INT)::BIGINT AS m_q
          FROM per, cuts
        )
        SELECT o_custkey, r_days, freq, monetary, r_q, f_q, m_q,
               'R' || r_q || 'F' || f_q || 'M' || m_q AS segment
        FROM q
    """
    # The average-balance threshold is (decimal sum)::double / count --
    # one IEEE-exact division, identical cross-engine.
    sqls["tpch_q22_like"] = """
        WITH cand AS (
          SELECT c_custkey, c_mktsegment, c_acctbal
          FROM customer
          WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'FURNITURE')
        ),
        avg_bal AS (
          SELECT (round(sum(CAST(c_acctbal AS DECIMAL(28,10))), 4))::DOUBLE
                   / count(*) AS avg_bal
          FROM cand WHERE c_acctbal > 0
        )
        SELECT c_mktsegment, count(*)::BIGINT AS numcust,
               (round(sum(CAST(c_acctbal AS DECIMAL(28,10))), 4))::DOUBLE AS totacctbal
        FROM cand, avg_bal
        WHERE c_acctbal > avg_bal
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY c_mktsegment
    """
    sqls["tpch_q9_like"] = """
        SELECT n_name AS nation,
               year(o_orderdate)::INTEGER AS o_year,
               count(*)::BIGINT AS n_items,
               (round(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(28,10))), 4))::DOUBLE AS profit
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        JOIN orders ON o_orderkey = l_orderkey
        WHERE p_name LIKE '%widget%'
        GROUP BY 1, 2
    """
    sqls["tpch_q12_like"] = """
        SELECT l_returnflag,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY 1
    """
    sqls["tpch_q20_like"] = """
        WITH heavy AS (
          SELECT DISTINCT l_suppkey
          FROM (
            SELECT l_suppkey, l_partkey, sum(l_quantity)::DOUBLE AS qty
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_name LIKE 'large%'
              AND l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY 1, 2
          ) WHERE qty > 50.0
        )
        SELECT s_suppkey, s_name, n_name AS nation
        FROM supplier
        JOIN nation ON n_nationkey = s_nationkey
        WHERE s_suppkey IN (SELECT l_suppkey FROM heavy)
    """
    sqls["tpch_q21_like"] = """
        WITH per_os AS (
          SELECT l_orderkey, l_suppkey, max(l_shipdate) AS last
          FROM lineitem GROUP BY 1, 2
        ),
        per_o AS (
          SELECT l_orderkey, count(*)::BIGINT AS n_supps,
                 max(last) AS omax
          FROM per_os GROUP BY 1
        ),
        sole AS (
          SELECT l_orderkey,
                 max(CASE WHEN last = omax THEN l_suppkey END) AS the_supp
          FROM per_os JOIN per_o USING (l_orderkey)
          WHERE n_supps >= 2
          GROUP BY 1
          HAVING sum(CASE WHEN last = omax THEN 1 ELSE 0 END) = 1
        )
        SELECT s_suppkey, s_name, count(*)::BIGINT AS numwait
        FROM sole JOIN supplier ON s_suppkey = the_supp
        GROUP BY 1, 2
    """
    sqls["funnel_conversion"] = """
        WITH s0 AS (
          SELECT user_id AS u, min(ts) AS rt FROM events
          WHERE event_type = 'view' GROUP BY 1
        ),
        s1 AS (
          SELECT e.user_id AS u, min(e.ts) AS rt
          FROM events e JOIN s0 ON e.user_id = s0.u AND e.ts > s0.rt
          WHERE e.event_type = 'click' GROUP BY 1
        ),
        s2 AS (
          SELECT e.user_id AS u, min(e.ts) AS rt
          FROM events e JOIN s1 ON e.user_id = s1.u AND e.ts > s1.rt
          WHERE e.event_type = 'purchase' GROUP BY 1
        )
        SELECT 0::BIGINT AS step_idx, 'view' AS step,
               count(*)::BIGINT AS n_users FROM s0
        UNION ALL
        SELECT 1::BIGINT, 'click', count(*)::BIGINT FROM s1
        UNION ALL
        SELECT 2::BIGINT, 'purchase', count(*)::BIGINT FROM s2
    """
    _prof_num = ["o_orderkey", "o_custkey", "o_totalprice"]
    _prof_str = ["o_orderstatus", "o_orderpriority"]
    _prof_ts = ["o_orderdate"]
    _prof_parts = []
    for c in [*_prof_num, *_prof_str, *_prof_ts]:
        if c in _prof_num:
            mn, mx = f"min({c})::DOUBLE", f"max({c})::DOUBLE"
            ms, xs = "NULL::VARCHAR", "NULL::VARCHAR"
        elif c in _prof_ts:
            mn, mx = "NULL::DOUBLE", "NULL::DOUBLE"
            ms = f"strftime(min({c}), '%Y-%m-%d %H:%M:%S')"
            xs = f"strftime(max({c}), '%Y-%m-%d %H:%M:%S')"
        else:
            mn, mx = "NULL::DOUBLE", "NULL::DOUBLE"
            ms, xs = f"min({c})", f"max({c})"
        _prof_parts.append(f"""
          SELECT '{c}' AS col_name, count(*)::BIGINT AS n_rows,
                 (count(*) - count({c}))::BIGINT AS n_nulls,
                 count(DISTINCT {c})::BIGINT AS n_distinct,
                 {mn} AS min_num, {mx} AS max_num,
                 {ms} AS min_str, {xs} AS max_str
          FROM orders""")
    sqls["table_profile"] = "\nUNION ALL\n".join(_prof_parts)
    sqls["corpus_bigrams"] = f"""
        WITH {_BASE},
        pos AS (
          SELECT doc_id, unnest(toks) AS token,
                 unnest(range(1, len(toks) + 1)) AS pos
          FROM tok
        ),
        big AS (
          SELECT a.token || ' ' || b.token AS bigram
          FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        ),
        cnt AS (SELECT bigram, count(*)::BIGINT AS n_occ FROM big GROUP BY 1)
        SELECT bigram, n_occ,
               row_number() OVER (ORDER BY n_occ DESC, bigram)::BIGINT AS rank
        FROM cnt
        ORDER BY n_occ DESC, bigram
        LIMIT 100
    """
    sqls["events_rolling_1h"] = """
        SELECT event_id, user_id,
               (count(*) OVER win)::BIGINT AS n_1h,
               round(avg(value) OVER win, 6) AS avg_1h
        FROM events
        WINDOW win AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                       RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """
    sqls["docs_stratified_sample"] = f"""
        SELECT doc_id, lang,
               {string_hash31_sql("('strat:' || doc_id::VARCHAR)")} % 100 AS bucket
        FROM documents
        WHERE {string_hash31_sql("('strat:' || doc_id::VARCHAR)")} % 100
              < CASE WHEN lang = 'en' THEN 50 ELSE 20 END
    """
    sqls["orders_grouping_sets"] = """
        SELECT o_orderstatus, o_orderpriority,
               grouping(o_orderstatus)::BIGINT AS g_status,
               grouping(o_orderpriority)::BIGINT AS g_priority,
               count(*)::BIGINT AS n_orders,
               (round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 4))::DOUBLE
                 AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
    """
    sqls["events_interarrival"] = """
        WITH g AS (
          SELECT epoch_us(ts)
                 - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                           ORDER BY epoch_us(ts), event_id)
                 AS gap_us
          FROM events
        )
        SELECT (gap_us // 60000000)::BIGINT AS gap_minutes,
               count(*)::BIGINT AS n_gaps
        FROM g WHERE gap_us IS NOT NULL
        GROUP BY 1
    """
    sqls["orders_status_breakdown"] = """
        SELECT o_orderpriority,
               (count(*) FILTER (WHERE o_orderstatus = 'O'))::BIGINT AS n_open,
               (count(*) FILTER (WHERE o_orderstatus = 'F'))::BIGINT AS n_filled,
               (count(*) FILTER (WHERE o_orderstatus = 'P'))::BIGINT AS n_pending,
               round(
                 CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
                      FILTER (WHERE o_orderstatus = 'O') AS DOUBLE)
                 / CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE),
                 9) AS open_price_share
        FROM orders
        GROUP BY 1
    """
    sqls["docs_pii_scrub"] = r"""
        WITH ne AS (
          SELECT doc_id, text,
                 regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g') AS no_email
          FROM documents
        )
        SELECT doc_id,
               regexp_replace(no_email, '\d{6,}', '<NUM>', 'g')
                 AS scrubbed_text,
               (len(regexp_extract_all(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                + len(regexp_extract_all(no_email, '\d{6,}')))::BIGINT
                 AS n_redactions
        FROM ne
    """
    sqls["tpch_q2_like"] = """
        WITH p AS (
          SELECT p_partkey, p_name, p_brand FROM part
          WHERE p_type = 'STANDARD' AND p_size < 15
        ),
        off AS (
          SELECT p.p_partkey, p.p_name, p.p_brand, l.l_suppkey,
                 l.l_extendedprice / l.l_quantity AS unit_price
          FROM lineitem l JOIN p ON l.l_partkey = p.p_partkey
        ),
        minp AS (
          SELECT p_partkey AS pk, min(unit_price) AS min_price
          FROM off GROUP BY 1
        ),
        best AS (
          SELECT DISTINCT o.p_partkey, o.p_name, o.p_brand, o.l_suppkey,
                          m.min_price
          FROM off o JOIN minp m
            ON o.p_partkey = m.pk AND o.unit_price = m.min_price
        )
        SELECT b.p_partkey, b.p_name, b.p_brand, s.s_name AS supp_name,
               n.n_name, round(b.min_price, 6) AS min_price
        FROM best b
        JOIN supplier s ON b.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
    """
    sqls["tpch_q7_like"] = """
        WITH n AS (
          SELECT n_nationkey, n_name FROM nation
          WHERE n_name IN ('NATION_1', 'NATION_2')
        ),
        s AS (
          SELECT s_suppkey, n.n_name AS supp_nation
          FROM supplier JOIN n ON s_nationkey = n.n_nationkey
        ),
        c AS (
          SELECT c_custkey, n.n_name AS cust_nation
          FROM customer JOIN n ON c_nationkey = n.n_nationkey
        )
        SELECT s.supp_nation, c.cust_nation,
               date_part('year', l.l_shipdate)::INTEGER AS ship_year,
               count(*)::BIGINT AS n_items,
               (round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(28,10))), 4))::DOUBLE AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN c ON o.o_custkey = c.c_custkey
        JOIN s ON l.l_suppkey = s.s_suppkey
        WHERE s.supp_nation <> c.cust_nation
        GROUP BY 1, 2, 3
    """
    sqls["tpch_q16_like"] = """
        SELECT p.p_brand, p.p_type, p.p_size,
               count(DISTINCT l.l_suppkey)::BIGINT AS supplier_cnt
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
        )
        GROUP BY 1, 2, 3
    """
    sqls["merge_upsert_events"] = """
        WITH base AS (
          SELECT user_id, event_id, ts, event_type, value FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                        ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts < TIMESTAMP '2024-01-16'
          ) WHERE rn = 1
        ),
        delta AS (
          SELECT user_id, event_id, ts, event_type, value FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                        ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts >= TIMESTAMP '2024-01-16'
          ) WHERE rn = 1
        )
        SELECT b.*, 'keep' AS action FROM base b
        WHERE b.user_id NOT IN (SELECT user_id FROM delta)
        UNION ALL
        SELECT d.*,
               CASE WHEN d.user_id IN (SELECT user_id FROM base)
                    THEN 'update' ELSE 'insert' END AS action
        FROM delta d
    """
    sqls["events_gapfill"] = """
        WITH hourly AS (
          SELECT user_id, date_trunc('hour', ts) AS bucket,
                 count(*)::BIGINT AS n_events,
                 (round(sum(CAST(value AS DECIMAL(28,10))), 6))::DOUBLE
                   AS sum_value
          FROM events GROUP BY 1, 2
        ),
        bounds AS (
          SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
          FROM hourly GROUP BY 1
        ),
        grid AS (
          SELECT user_id,
                 unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
          FROM bounds
        )
        SELECT g.user_id, strftime(g.bucket, '%Y-%m-%d %H') AS hour,
               coalesce(h.n_events, 0)::BIGINT AS n_events,
               coalesce(h.sum_value, 0.0) AS sum_value
        FROM grid g
        LEFT JOIN hourly h
          ON g.user_id = h.user_id AND g.bucket = h.bucket
    """
    sqls["orders_corr"] = """
        WITH j AS (
          SELECT c.c_mktsegment AS segment, o.o_totalprice AS x,
                 c.c_acctbal AS y
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          WHERE o.o_totalprice IS NOT NULL AND c.c_acctbal IS NOT NULL
        ),
        m AS (
          SELECT segment, count(*)::BIGINT AS n,
                 sum(CAST(x AS DECIMAL(38,10))) AS sx,
                 sum(CAST(y AS DECIMAL(38,10))) AS sy,
                 sum(CAST(x * x AS DECIMAL(38,10))) AS sxx,
                 sum(CAST(y * y AS DECIMAL(38,10))) AS syy,
                 sum(CAST(x * y AS DECIMAL(38,10))) AS sxy
          FROM j GROUP BY 1
        )
        SELECT segment, n,
               round(CASE WHEN (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) > 0
                           AND (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0
                 THEN (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                      / sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                      / sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)
                 END, 9) AS pearson_r
        FROM m
    """
    sqls["embedding_centroids"] = """
        WITH ex AS (
          SELECT label,
                 generate_subscripts(embedding, 1) - 1 AS dim,
                 CAST(unnest(embedding) AS DOUBLE) AS v
          FROM embeddings WHERE embedding IS NOT NULL
        ),
        m AS (
          SELECT label, dim, count(*)::BIGINT AS n_vectors,
                 sum(CAST(v AS DECIMAL(38,15))) AS s
          FROM ex GROUP BY 1, 2
        )
        SELECT label, dim::INTEGER AS dim,
               round(CAST(s AS DOUBLE) / n_vectors, 9) AS centroid,
               n_vectors
        FROM m
    """
    sqls["heavy_hitter_users"] = """
        WITH counts AS (
          SELECT user_id, count(*)::BIGINT AS n_rows FROM events GROUP BY 1
        ),
        totals AS (
          SELECT sum(n_rows)::BIGINT AS total, count(*)::BIGINT AS nkeys
          FROM counts
        )
        SELECT c.user_id, c.n_rows,
               round(c.n_rows / t.total, 9) AS share
        FROM counts c CROSS JOIN totals t
        WHERE c.n_rows > 1.2 * (t.total / t.nkeys)
    """
    sqls["text_normalize"] = """
        SELECT doc_id,
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm_text,
               (length(text)
                - length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))::BIGINT
                 AS n_chars_saved
        FROM documents
    """
    # Textbook two-pass prior-frame stats vs the engine's online Welford
    # recurrence: a hash match proves the streaming monitor's math.
    # The Arrow Welford scan and the JVM window plan are the same
    # mathematical quantity -- ONE oracle text serves both keys (the
    # gate then proves Spark-Arrow == DuckDB == Spark-JVM on real data).
    sqls["events_anomaly_sql"] = sqls["events_anomaly"] = """
        WITH ordered AS (
          SELECT user_id, event_id, ts, value,
                 count(value) OVER w AS n_prior,
                 avg(value) OVER w AS mu,
                 stddev_samp(value) OVER w AS sd
          FROM events
          WHERE value IS NOT NULL AND ts IS NOT NULL
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ),
        scored AS (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us, value, n_prior,
                 CASE WHEN sd > 0 THEN (value - mu) / sd
                      WHEN value > mu THEN CAST('infinity' AS DOUBLE)
                      WHEN value < mu THEN CAST('-infinity' AS DOUBLE)
                      ELSE 0.0 END AS z
          FROM ordered
        )
        SELECT user_id, event_id, ts_us, value,
               round(z, 6) AS zscore, n_prior
        FROM scored
        WHERE n_prior >= 5 AND abs(z) > 3.0
    """
    # Gaps-and-islands formulation of the SCD2 build: change rows are
    # rn=1 or attr IS DISTINCT FROM its lag (= Spark's NOT eqNullSafe).
    sqls["scd2_history"] = """
        WITH ordered AS (
          SELECT user_id, event_type, ts, event_id,
                 lag(event_type) OVER w AS prev_type,
                 row_number() OVER w AS rn
          FROM events
          WHERE ts IS NOT NULL
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        changes AS (
          SELECT user_id, event_type, ts, event_id FROM ordered
          WHERE rn = 1 OR prev_type IS DISTINCT FROM event_type
        )
        SELECT user_id, event_type,
               epoch_us(ts) AS valid_from_us,
               epoch_us(lead(ts) OVER w) AS valid_to_us,
               (lead(ts) OVER w IS NULL)::BIGINT AS is_current
        FROM changes
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """
    sqls["winsorize_values"] = """
        WITH bounds AS (
          SELECT event_type AS g,
                 quantile_cont(value, 0.05) AS lo,
                 quantile_cont(value, 0.95) AS hi
          FROM events GROUP BY 1
        )
        SELECT e.event_id, e.event_type, e.value,
               CASE WHEN e.value IS NULL THEN NULL
                    ELSE round(least(greatest(e.value, b.lo), b.hi), 6)
               END AS value_wins,
               COALESCE(e.value < b.lo OR e.value > b.hi, FALSE)::BIGINT
                 AS was_clipped
        FROM events e JOIN bounds b ON e.event_type IS NOT DISTINCT FROM b.g
    """
    # Mixture weights written as exact binary fractions (0.5/0.25/0.25)
    # so every rate is pure scalar arithmetic on identical inputs --
    # bit-identical across engines, no rounding needed.
    sqls["docs_mixture_sample"] = f"""
        WITH d AS (
          SELECT doc_id,
                 CASE doc_id % 3 WHEN 0 THEN 'web' WHEN 1 THEN 'code'
                      ELSE 'papers' END AS domain
          FROM documents
        ),
        counts AS (SELECT domain, count(*) AS n FROM d GROUP BY domain),
        wt AS (
          SELECT domain, n,
                 CASE domain WHEN 'web' THEN 0.5 WHEN 'code' THEN 0.25
                      ELSE 0.25 END AS w
          FROM counts
        ),
        nout AS (SELECT min(n / w) AS nout FROM wt),
        rates AS (
          SELECT domain, least(1.0, ((w * nout) * 1.0) / n) AS mix_rate
          FROM wt, nout
        )
        SELECT d.doc_id, d.domain, r.mix_rate
        FROM d JOIN rates r USING (domain)
        WHERE ({string_hash31_sql("'mix:' || doc_id::VARCHAR")} % 1000000)
              / 1000000.0 < r.mix_rate
    """
    sqls["docs_shuffle_shards"] = f"""
        WITH k AS (
          SELECT doc_id,
                 {string_hash31_sql("'shuffle:' || doc_id::VARCHAR")} AS shuffle_key
          FROM documents
        )
        SELECT doc_id, shuffle_key,
               (shuffle_key % 32)::BIGINT AS shard,
               (row_number() OVER (
                  PARTITION BY shuffle_key % 32
                  ORDER BY shuffle_key, doc_id) - 1)::BIGINT AS pos
        FROM k
    """
    # Bin assignment is robust to last-ulp quantile-interpolation
    # differences: any cut variant stays strictly between the two
    # neighboring sorted data values, so `value >= cut` classifies every
    # actual data value identically (winsorize must round its output
    # because the quantile VALUE itself is emitted; here only the
    # comparison outcome is).
    sqls["events_value_bins"] = """
        WITH cuts AS (
          SELECT event_type,
                 quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
                                       0.6, 0.7, 0.8, 0.9]) AS qs
          FROM events GROUP BY event_type
        )
        SELECT e.event_id, e.event_type, e.value,
               CASE WHEN e.value IS NOT NULL
                    THEN len(list_filter(c.qs, q -> e.value >= q))
               END AS value_bin
        FROM events e JOIN cuts c ON e.event_type IS NOT DISTINCT FROM c.event_type
    """
    sqls["docs_curation_rules"] = f"""
        WITH tok0 AS (
          SELECT doc_id, text,
                 list_filter(regexp_split_to_array(lower(text), '\\W+'),
                             x -> x <> '') AS toks
          FROM documents
        ),
        feat AS (
          SELECT doc_id,
                 len(toks) AS n_tokens,
                 list_filter(toks, t -> regexp_matches(t, '[a-z]')) AS alpha,
                 len(regexp_split_to_array(text, '#')) - 1
                   + len(regexp_split_to_array(text, '\\.\\.\\.')) - 1 AS n_symbols,
                 list_filter(regexp_split_to_array(text, '\\n'),
                             x -> trim(x) <> '') AS lines,
                 len(list_intersect(list_distinct(toks), {_STOP_SQL})) AS stop_hits
          FROM tok0
        ),
        r AS (
          SELECT doc_id, n_tokens, n_symbols, stop_hits,
                 len(alpha) AS n_alpha,
                 CASE WHEN len(alpha) > 0
                      THEN list_sum(list_transform(alpha, t -> len(t)))::DOUBLE
                           / len(alpha)
                 END AS mean_len,
                 len(lines) AS n_lines,
                 len(list_filter(lines,
                     x -> regexp_matches(trim(x), '^[\\-\\*•]'))) AS n_bullet
          FROM feat
        ),
        rules AS (
          SELECT doc_id,
                 n_tokens >= 5 AND n_tokens <= 100000 AS b_n_tokens,
                 coalesce(mean_len >= 2.0 AND mean_len <= 12.0, FALSE)
                   AS b_mean_word_len,
                 coalesce(CASE WHEN n_tokens > 0
                               THEN n_symbols::DOUBLE / n_tokens <= 0.1 END,
                          FALSE) AS b_symbol_ratio,
                 coalesce(CASE WHEN n_lines > 0
                               THEN n_bullet::DOUBLE / n_lines <= 0.9 END,
                          TRUE) AS b_bullet_ratio,
                 coalesce(CASE WHEN n_tokens > 0
                               THEN n_alpha::DOUBLE / n_tokens >= 0.7 END,
                          FALSE) AS b_alpha_ratio,
                 stop_hits >= 2 AS b_stopword_hits
          FROM r
        )
        SELECT doc_id,
               b_n_tokens::BIGINT AS r_n_tokens,
               b_mean_word_len::BIGINT AS r_mean_word_len,
               b_symbol_ratio::BIGINT AS r_symbol_ratio,
               b_bullet_ratio::BIGINT AS r_bullet_ratio,
               b_alpha_ratio::BIGINT AS r_alpha_ratio,
               b_stopword_hits::BIGINT AS r_stopword_hits,
               (b_n_tokens AND b_mean_word_len AND b_symbol_ratio
                AND b_bullet_ratio AND b_alpha_ratio
                AND b_stopword_hits)::BIGINT AS keep
        FROM rules
    """
    # Nests the cluster + quality oracles as derived tables (the
    # curation_pipeline pattern), so representative selection stays
    # consistent with both underlying checks by construction.
    # LEFT join + unscored-last ordering mirror the operator's
    # structure (scored members beat unscored, unscored fall back to
    # min-id), so a quality stage that ever drops documents cannot
    # desynchronize the two sides. The explicit isnan tier mirrors the
    # operator's is_nan rank field: DuckDB sorts NaN ABOVE +inf under
    # DESC, so without it a NaN-scored member would WIN here while
    # losing in Spark (r4 advice; latent -- text_quality is NaN-free).
    sqls["dedup_best_rep"] = f"""
        SELECT c.doc_id, c.keep_id AS cluster_id, r.rep_id,
               (c.doc_id = r.rep_id)::BIGINT AS is_rep
        FROM ({sqls["dedup_near_clusters"]}) c
        JOIN (
          SELECT keep_id, doc_id AS rep_id FROM (
            SELECT c2.keep_id, c2.doc_id,
                   row_number() OVER (
                     PARTITION BY c2.keep_id
                     ORDER BY (q.quality_score IS NULL),
                              coalesce(isnan(q.quality_score), FALSE),
                              q.quality_score DESC, c2.doc_id) AS rn
            FROM ({sqls["dedup_near_clusters"]}) c2
            LEFT JOIN ({sqls["text_quality"]}) q USING (doc_id)
          ) WHERE rn = 1
        ) r ON c.keep_id = r.keep_id
    """
    _bm25_terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    sqls["docs_bm25_topk"] = f"""
        WITH {_BASE},
        qtf AS (
          SELECT doc_id, token, count(*) AS qtf, any_value(n_tokens) AS dl
          FROM ex WHERE token IN ({_bm25_terms})
          GROUP BY doc_id, token
        ),
        dfs AS (SELECT token, count(*) AS df FROM qtf GROUP BY token),
        -- coalesce mirrors the operator: a NULL token array is an
        -- empty document, inside BOTH n and avgdl (r4 advice)
        stats AS (SELECT count(*) AS n, avg(coalesce(len(toks), 0)) AS avgdl
                  FROM tok),
        scored AS (
          SELECT doc_id,
                 count(*) AS n_matched,
                 sum(ln((n - df + 0.5) / (df + 0.5) + 1.0)
                     * (qtf * 2.2)
                     / (qtf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
          FROM qtf JOIN dfs USING (token), stats
          GROUP BY doc_id
        ),
        top AS (
          SELECT doc_id, n_matched, round(score, 6) AS score
          FROM scored ORDER BY round(score, 6) DESC, doc_id LIMIT 20
        )
        SELECT doc_id, n_matched, score,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        FROM top
    """
    # Batch form: same corpus statistics (df/N/avgdl are corpus-level,
    # shared across queries), replicated per query; the oracle ranks
    # with a plain per-query window -- grouped_topk's two-phase prune is
    # exact by construction, so the results must coincide.
    _bm25_batch_values = ", ".join(
        f"('{qid}', '{t}')" for qid, t in BM25_BATCH_QUERIES
    )
    sqls["docs_bm25_batch"] = f"""
        WITH {_BASE},
        q AS (SELECT DISTINCT query_id, term
              FROM (VALUES {_bm25_batch_values}) AS t(query_id, term)),
        qtf AS (
          SELECT doc_id, token, count(*) AS qtf, any_value(n_tokens) AS dl
          FROM ex WHERE token IN (SELECT term FROM q)
          GROUP BY doc_id, token
        ),
        dfs AS (SELECT token, count(*) AS df FROM qtf GROUP BY token),
        stats AS (SELECT count(*) AS n, avg(coalesce(len(toks), 0)) AS avgdl
                  FROM tok),
        scored AS (
          SELECT q.query_id, qtf.doc_id,
                 count(*) AS n_matched,
                 sum(ln((n - df + 0.5) / (df + 0.5) + 1.0)
                     * (qtf * 2.2)
                     / (qtf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
          FROM qtf
          JOIN q ON qtf.token = q.term
          JOIN dfs ON qtf.token = dfs.token, stats
          GROUP BY q.query_id, qtf.doc_id
        )
        SELECT query_id, doc_id, n_matched, score, rank FROM (
          SELECT query_id, doc_id, n_matched, round(score, 6) AS score,
                 row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY round(score, 6) DESC, doc_id) AS rank
          FROM scored
        ) WHERE rank <= 20
    """
    sqls["docs_token_budget"] = f"""
        WITH nt AS (
          SELECT doc_id,
                 len(list_filter(regexp_split_to_array(lower(text), '\\W+'),
                                 x -> x <> ''))::BIGINT AS n_tokens,
                 {string_hash31_sql("'budget:' || doc_id::VARCHAR")} % 32 AS shard,
                 {string_hash31_sql("'budget:' || doc_id::VARCHAR")} AS ord
          FROM documents
        ),
        c AS (
          SELECT doc_id, n_tokens, shard,
                 -- ::BIGINT: window sums widen to HUGEINT in DuckDB
                 coalesce(sum(n_tokens) OVER (
                   PARTITION BY shard ORDER BY ord, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                   AS cum_before
          FROM nt
        )
        SELECT doc_id, n_tokens, shard, cum_before
        FROM c WHERE cum_before < {TOKEN_BUDGET / 32}
    """
    sqls["docs_line_dedup"] = """
        WITH l AS (
          SELECT doc_id,
                 regexp_split_to_array(coalesce(text, ''), '\\n') AS lines
          FROM documents
        ),
        ex AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(lines) + 1),
                                       i -> {'i': i, 'line': lines[i]})) AS s
          FROM l
        ),
        idx AS (SELECT doc_id, s.i::INT AS i, s.line AS line FROM ex),
        dup AS (
          SELECT line FROM idx WHERE trim(line) <> ''
          GROUP BY line HAVING count(*) > 1
        ),
        marked AS (
          SELECT i.doc_id, i.i, i.line,
                 (trim(i.line) = '' OR d.line IS NULL) AS keep
          FROM idx i LEFT JOIN dup d ON i.line = d.line
        )
        SELECT doc_id,
               coalesce(string_agg(CASE WHEN keep THEN line END,
                                   chr(10) ORDER BY i), '') AS text_dedup,
               count(*)::BIGINT AS n_lines,
               sum((NOT keep)::INT)::BIGINT AS n_removed
        FROM marked GROUP BY doc_id
    """
    # Components are bit-identical: pre-norm vectors are integer-valued
    # (sums of +-1), the squared-norm sum is exact integer arithmetic in
    # doubles, and x/sqrt(s) is one correctly-rounded op per engine.
    sqls["docs_hashed_embeddings"] = f"""
        WITH {_BASE},
        hv AS (
          SELECT doc_id,
                 ({string_hash31_sql("'emb:' || token")} % 64)::INT AS d,
                 CASE WHEN {string_hash31_sql("'emb:' || token")} % 128 < 64
                      THEN 1.0 ELSE -1.0 END AS s
          FROM ex
        ),
        per_dim AS (SELECT doc_id, d, sum(s) AS v FROM hv GROUP BY doc_id, d),
        dims AS (SELECT range::INT AS pos FROM range(0, 64)),
        ids AS (SELECT doc_id FROM tok),
        dense AS (
          SELECT i.doc_id, dm.pos, coalesce(p.v, 0.0) AS v
          FROM ids i CROSS JOIN dims dm
          LEFT JOIN per_dim p ON p.doc_id = i.doc_id AND p.d = dm.pos
        ),
        nrm AS (SELECT doc_id, sqrt(sum(v * v)) AS nn FROM dense GROUP BY doc_id)
        SELECT d.doc_id, d.pos::BIGINT AS pos,
               CASE WHEN n.nn > 0 THEN d.v / n.nn ELSE d.v END AS component
        FROM dense d JOIN nrm n USING (doc_id)
    """
    # Window count = 1 + ceil(max(n - size, 0) / stride); every token
    # appears in >= 1 chunk, only the final window may be short.
    sqls["docs_chunk_windows"] = f"""
        WITH {_BASE},
        nz AS (SELECT doc_id, toks, len(toks) AS n FROM tok WHERE len(toks) > 0),
        ch AS (
          SELECT doc_id, toks, n,
                 unnest(generate_series(0,
                   (CASE WHEN n > {CHUNK_SIZE}
                         THEN ceil((n - {CHUNK_SIZE}) / {CHUNK_STRIDE}.0)::BIGINT
                         ELSE 0 END))) AS k
          FROM nz
        )
        SELECT doc_id, k::BIGINT AS chunk_idx,
               array_to_string(
                 list_slice(toks, k * {CHUNK_STRIDE} + 1,
                            least(k * {CHUNK_STRIDE} + {CHUNK_SIZE}, n)),
                 ' ') AS chunk_text,
               least({CHUNK_SIZE}, n - k * {CHUNK_STRIDE})::BIGINT
                 AS n_chunk_tokens
        FROM ch
    """
    # Mirrors quantize_embeddings exactly: mx is an exact max over
    # widened floats, scale one correctly-rounded division, each q one
    # mul + div + round (ties away from zero in both engines). The
    # degenerate branches (NULL / zero / non-finite vectors) are
    # mirrored too, though the generated tables contain none.
    sqls["embeddings_quantized"] = """
        WITH q AS (
          SELECT vec_id,
                 list_max(list_transform(embedding, v -> abs(v::DOUBLE))) AS mx,
                 embedding
          FROM embeddings
        ),
        qq AS (
          SELECT vec_id,
                 CASE WHEN mx > 0 THEN mx / 127.0 ELSE 0.0 END AS scale,
                 CASE WHEN mx > 0
                      THEN list_transform(embedding,
                             v -> round(v::DOUBLE * 127.0 / mx)::TINYINT)
                      ELSE list_transform(embedding, v -> 0::TINYINT)
                 END AS qvec
          FROM q
          WHERE embedding IS NOT NULL AND isfinite(mx)
        )
        SELECT vec_id, scale, (i - 1)::BIGINT AS pos, qvec[i::INT]::BIGINT AS q
        FROM (SELECT vec_id, scale, qvec,
                     unnest(generate_series(1, len(qvec))) AS i
              FROM qq)
    """
    # grouped_topk's two-phase prune is exact, so the plain rank window
    # is the oracle formulation.
    sqls["docs_domain_caps"] = f"""
        SELECT doc_id, source, domain_rank FROM (
          SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY {string_hash31_sql("'domcap:' || doc_id::VARCHAR")},
                            doc_id) AS domain_rank
          FROM documents
        ) WHERE domain_rank <= {DOMAIN_CAP}
    """
    # SemDeDup replay: the deterministic k-means CTEs (identical to the
    # ann_topk_ivf oracle, so the two keys pin the SAME centroids), the
    # round-9 assignment argmax with the c_id tie-break, within-cluster
    # pairs with the bit-identical dot fold, min-id survivor.
    sqls["dedup_semantic"] = f"""
        WITH {_EMB_NORM_SQL},
        {_KMEANS_CTES},
        cents AS (SELECT c_id, cv, cn FROM {_KMEANS_FINAL}),
        ascore AS (
          SELECT a.vec_id AS id, c_id,
                 round({_emb_dot_sql("a.v", "cv")} / (a.norm * cn), 9) AS cos
          FROM nv a CROSS JOIN cents
        ),
        assign AS (
          SELECT id, c_id AS cluster FROM (
            SELECT id, c_id,
                   row_number() OVER (
                     PARTITION BY id ORDER BY cos DESC, c_id) AS rn
            FROM ascore
          ) WHERE rn = 1
        ),
        av AS (
          SELECT s.id, s.cluster, nv.v, nv.norm
          FROM assign s JOIN nv ON nv.vec_id = s.id
        ),
        pairs AS (
          SELECT a.id AS a_id, b.id AS b_id,
                 {_emb_dot_sql("a.v", "b.v")} / (a.norm * b.norm) AS cos
          FROM av a JOIN av b USING (cluster) WHERE a.id < b.id
        ),
        dropped AS (
          SELECT DISTINCT b_id AS id FROM pairs
          WHERE cos >= {EMBED_NEAR_DUP_THRESHOLD}
        )
        SELECT s.id AS vec_id, s.cluster::BIGINT AS cluster,
               (d.id IS NULL)::BIGINT AS keep
        FROM assign s LEFT JOIN dropped d USING (id)
    """
    # Winnowing replay: same 60-bit k-gram hash (15 md5 hex digits),
    # same rightmost-minimal selection per window of 15 positions
    # (list_reduce left-to-right with >=-rightmost tie rule), same
    # >=2 corpus-count duplicate mark; the span merge is the classic
    # gaps-and-islands window instead of Spark's in-row fold.
    sqls["docs_substring_dedup"] = f"""
        WITH {_winnow_spans_ctes()}
        SELECT doc_id, span_idx, span_start, span_end, n_windows FROM msp
    """
    # incremental = union-then-restrict: history count + batch count over
    # the even/odd split equals the FULL-corpus fingerprint count, so the
    # oracle is the whole-corpus span pipeline keeping only batch docs
    sqls["incremental_spans_batch"] = f"""
        WITH {_winnow_spans_ctes("doc_id % 2 = 1")}
        SELECT doc_id, span_idx, span_start, span_end, n_windows FROM msp
    """
    # span subtraction replayed as its complement: the KEPT segments are
    # the lag-window gaps between spans plus the tail (head is the gap
    # before the first span, lag default 0), string_agg'd in order --
    # independent of the Spark side's left-to-right fold
    sqls["docs_substring_clean"] = f"""
        WITH {_winnow_spans_ctes()},
        segs AS (
          SELECT doc_id,
                 coalesce(lag(span_end) OVER (
                   PARTITION BY doc_id ORDER BY span_start), 0) + 1 AS ss,
                 span_start - 1 AS se
          FROM msp
          UNION ALL
          SELECT doc_id, max(span_end) + 1 AS ss, NULL AS se
          FROM msp GROUP BY doc_id
        ),
        cleaned AS (
          SELECT s.doc_id,
                 string_agg(
                   substr(d.text, ss::INT,
                          (coalesce(se, length(d.text)) - ss + 1)::INT),
                   '' ORDER BY ss) AS txt
          FROM segs s JOIN documents d ON d.doc_id = s.doc_id
          WHERE coalesce(se, length(d.text)) >= ss
          GROUP BY s.doc_id
        ),
        rem AS (
          SELECT doc_id, sum(span_end - span_start + 1)::BIGINT AS nrem
          FROM msp GROUP BY doc_id
        )
        SELECT d.doc_id,
               CASE WHEN r.doc_id IS NULL THEN d.text
                    ELSE coalesce(c.txt, '') END AS text_clean,
               coalesce(r.nrem, 0)::BIGINT AS n_removed_chars
        FROM documents d
        LEFT JOIN rem r ON r.doc_id = d.doc_id
        LEFT JOIN cleaned c ON c.doc_id = d.doc_id
    """
    from sparkbigdatatextanalysis_spark.operators.pipeline import (
        BLOOM_AB,
        BLOOM_BITS_PER_WORD as _BPW,
        BLOOM_N_WORDS as _BNW,
    )

    from sparkbigdatatextanalysis_spark.operators.stats import (
        CMS_DEPTH_AB,
        CMS_WIDTH as _CW,
    )

    (_ba1, _bb1), (_ba2, _bb2) = BLOOM_AB
    _bm = _BNW * _BPW
    _cms_pos = ", ".join(
        f"(({a} * sh + {b}) % {MERSENNE31}) % {_CW} AS c{i}"
        for i, (a, b) in enumerate(CMS_DEPTH_AB)
    )
    _cms_union = " UNION ALL ".join(
        f"SELECT {i} AS r, c{i} AS c, n_occ FROM pos"
        for i in range(len(CMS_DEPTH_AB))
    )
    _cms_joins = " ".join(
        f"JOIN cells e{i} ON e{i}.r = {i} AND e{i}.c = p.c{i}"
        for i in range(len(CMS_DEPTH_AB))
    )
    _cms_least = ", ".join(f"e{i}.v" for i in range(len(CMS_DEPTH_AB)))
    sqls["tokens_cms_estimates"] = f"""
        WITH {_BASE},
        cnt AS (SELECT token, count(*)::BIGINT AS n_occ FROM ex GROUP BY token),
        hs AS (
          SELECT token, n_occ, {string_hash31_sql("token")} AS sh FROM cnt
        ),
        pos AS (SELECT token, n_occ, {_cms_pos} FROM hs),
        cells AS (
          SELECT r, c, sum(n_occ)::BIGINT AS v
          FROM ({_cms_union}) GROUP BY r, c
        )
        SELECT p.token, p.n_occ, least({_cms_least})::BIGINT AS cms_est
        FROM pos p {_cms_joins}
    """
    sqls["docs_bloom_decontaminate"] = f"""
        WITH {_DEDUP_BASE},
        sd AS (SELECT DISTINCT doc_id, sh FROM shh),
        bk AS (
          SELECT doc_id, sh,
                 {string_hash31_sql("doc_id::VARCHAR")} % 100 AS bucket
          FROM sd
        ),
        words AS (
          SELECT (p // {_BPW})::BIGINT AS w,
                 bit_or(1::BIGINT << (p % {_BPW})::INT) AS bits
          FROM (
            SELECT ((a * sh + b) % {MERSENNE31}) % {_bm} AS p
            FROM (SELECT sh FROM bk WHERE bucket >= 90)
            CROSS JOIN (VALUES ({_ba1}, {_bb1}), ({_ba2}, {_bb2})) t(a, b)
          ) GROUP BY 1
        ),
        train AS (
          SELECT doc_id,
                 (({_ba1} * sh + {_bb1}) % {MERSENNE31}) % {_bm} AS p1,
                 (({_ba2} * sh + {_bb2}) % {MERSENNE31}) % {_bm} AS p2
          FROM bk WHERE bucket < 80
        ),
        probe AS (
          SELECT doc_id,
                 ((coalesce(w1.bits, 0) & (1::BIGINT << (p1 % {_BPW})::INT)) <> 0
                  AND
                  (coalesce(w2.bits, 0) & (1::BIGINT << (p2 % {_BPW})::INT)) <> 0)
                   AS hit
          FROM train t
          LEFT JOIN words w1 ON w1.w = p1 // {_BPW}
          LEFT JOIN words w2 ON w2.w = p2 // {_BPW}
        )
        SELECT doc_id, count(*)::BIGINT AS n_shingles,
               sum(hit::INT)::BIGINT AS n_bloom_hits,
               (sum(hit::INT) > 0) AS contaminated
        FROM probe GROUP BY doc_id
    """
    sqls["incremental_dedup_flags"] = f"""
        WITH {_DEDUP_BASE}, {_MINHASH_PARAMS_SQL}, {_MINHASH_SIGS_SQL},
        bands AS (
          SELECT doc_id, (i // {dd.LSH_ROWS})::INT AS band,
                 array_to_string(array_agg(sig ORDER BY i), ',') AS key
          FROM sigs GROUP BY doc_id, band
        ),
        hx AS (SELECT doc_id, sha256(text) AS content_hash FROM documents),
        bx AS (SELECT doc_id, content_hash FROM hx WHERE doc_id % 2 = 1),
        eh AS (
          SELECT DISTINCT bx.doc_id FROM bx
          JOIN hx h ON h.doc_id % 2 = 0 AND h.content_hash = bx.content_hash
        ),
        eb AS (
          SELECT DISTINCT bx.doc_id FROM bx
          JOIN bx b2 ON b2.content_hash = bx.content_hash
                    AND b2.doc_id < bx.doc_id
        ),
        nh AS (
          SELECT DISTINCT a.doc_id FROM bands a
          JOIN bands h ON h.band = a.band AND h.key = a.key
                      AND h.doc_id % 2 = 0
          WHERE a.doc_id % 2 = 1
        ),
        nb AS (
          SELECT DISTINCT a.doc_id FROM bands a
          JOIN bands l ON l.band = a.band AND l.key = a.key
                      AND l.doc_id % 2 = 1 AND l.doc_id < a.doc_id
          WHERE a.doc_id % 2 = 1
        )
        SELECT bx.doc_id, bx.content_hash,
               (bx.doc_id IN (SELECT doc_id FROM eh)) AS exact_dup_history,
               (bx.doc_id IN (SELECT doc_id FROM eb)) AS exact_dup_batch,
               (bx.doc_id IN (SELECT doc_id FROM nh)) AS near_dup_history,
               (bx.doc_id IN (SELECT doc_id FROM nb)) AS near_dup_batch,
               NOT ((bx.doc_id IN (SELECT doc_id FROM eh))
                    OR (bx.doc_id IN (SELECT doc_id FROM eb))
                    OR (bx.doc_id IN (SELECT doc_id FROM nh))
                    OR (bx.doc_id IN (SELECT doc_id FROM nb))) AS keep
        FROM bx
    """
    # prefix blocking: RE2's \p{L}/\p{N} classes match Java's, so the
    # normalization is byte-identical; one key per doc -> the a < b
    # bucket self-join emits each pair exactly once on both engines
    sqls["docs_prefix_blocking"] = r"""
        WITH k AS (
          SELECT doc_id AS id,
                 substr(regexp_replace(lower(text), '[^\p{L}\p{N}]', '', 'g'),
                        1, 12) AS block_key
          FROM documents
        ),
        kk AS (SELECT id, block_key FROM k WHERE length(block_key) > 0)
        SELECT a.id AS a_id, b.id AS b_id, a.block_key
        FROM kk a JOIN kk b ON a.block_key = b.block_key AND a.id < b.id
    """
    # Z-order key replay: identical double arithmetic (one division, one
    # multiplication, floor) on identical min/max, then the Morton
    # interleave as 32 integer shift/mask terms -- bit-for-bit equal, so
    # the output hashes exactly with no rounding anywhere.
    _z_terms = " + ".join(
        f"(((g{i} >> {b}) & 1) << {b * 2 + i})"
        for i in range(2)
        for b in range(16)
    )
    sqls["events_zorder_key"] = f"""
        WITH st AS (
          SELECT min(user_id::DOUBLE) AS lo0, max(user_id::DOUBLE) AS hi0,
                 min(value::DOUBLE) AS lo1, max(value::DOUBLE) AS hi1
          FROM events
        ),
        g AS (
          SELECT event_id,
                 coalesce(floor((CASE WHEN hi0 > lo0
                     THEN (user_id::DOUBLE - lo0) / (hi0 - lo0)
                     ELSE 0.0 END) * 65535), 0)::BIGINT AS g0,
                 coalesce(floor((CASE WHEN hi1 > lo1
                     THEN (value::DOUBLE - lo1) / (hi1 - lo1)
                     ELSE 0.0 END) * 65535), 0)::BIGINT AS g1
          FROM events CROSS JOIN st
        )
        SELECT event_id, ({_z_terms})::BIGINT AS zkey FROM g
    """
    # profile drift: compose two table_profile replays through the same
    # full-outer join + ratio/range logic as operators/profile.py
    _pd_num = ["o_orderkey", "o_custkey", "o_totalprice"]
    _pd_str = ["o_orderstatus", "o_orderpriority"]
    _pd_ts = ["o_orderdate"]

    def _prof_half_sql(pred: str) -> str:
        parts = []
        for c in [*_pd_num, *_pd_str, *_pd_ts]:
            if c in _pd_num:
                mn, mx = f"min({c})::DOUBLE", f"max({c})::DOUBLE"
                ms, xs = "NULL::VARCHAR", "NULL::VARCHAR"
            elif c in _pd_ts:
                mn, mx = "NULL::DOUBLE", "NULL::DOUBLE"
                ms = f"strftime(min({c}), '%Y-%m-%d %H:%M:%S')"
                xs = f"strftime(max({c}), '%Y-%m-%d %H:%M:%S')"
            else:
                mn, mx = "NULL::DOUBLE", "NULL::DOUBLE"
                ms, xs = f"min({c})", f"max({c})"
            parts.append(f"""
              SELECT '{c}' AS col_name, count(*)::BIGINT AS n_rows,
                     (count(*) - count({c}))::BIGINT AS n_nulls,
                     count(DISTINCT {c})::BIGINT AS n_distinct,
                     {mn} AS min_num, {mx} AS max_num,
                     {ms} AS min_str, {xs} AS max_str
              FROM orders WHERE {pred}""")
        return " UNION ALL ".join(parts)

    sqls["orders_profile_drift"] = f"""
        WITH po AS ({_prof_half_sql('o_orderkey % 2 = 0')}),
        pn AS ({_prof_half_sql('o_orderkey % 2 = 1')}),
        j AS (
          SELECT coalesce(po.col_name, pn.col_name) AS col_name,
                 po.n_rows AS nr_o, po.n_nulls AS nn_o, po.n_distinct AS nd_o,
                 po.min_num AS mn_o, po.max_num AS mx_o,
                 po.min_str AS ms_o, po.max_str AS xs_o,
                 pn.n_rows AS nr_n, pn.n_nulls AS nn_n, pn.n_distinct AS nd_n,
                 pn.min_num AS mn_n, pn.max_num AS mx_n,
                 pn.min_str AS ms_n, pn.max_str AS xs_n
          FROM po FULL OUTER JOIN pn ON po.col_name = pn.col_name
        ),
        d AS (
          SELECT col_name,
                 CASE WHEN nr_o IS NULL THEN 'added'
                      WHEN nr_n IS NULL THEN 'removed'
                      ELSE 'both' END AS status,
                 CASE WHEN nr_o > 0 THEN nn_o / nr_o END AS nro,
                 CASE WHEN nr_n > 0 THEN nn_n / nr_n END AS nrn,
                 CASE WHEN nd_o > 0 THEN abs(nd_n - nd_o) / nd_o
                      WHEN nd_o = 0 AND nd_n > 0 THEN 'infinity'::DOUBLE
                 END AS ndrel,
                 ((mn_o IS NOT NULL AND mn_n IS NOT NULL
                   AND (mn_n < mn_o OR mx_n > mx_o))
                  OR (ms_o IS NOT NULL AND ms_n IS NOT NULL
                      AND (ms_n < ms_o OR xs_n > xs_o))) AS rmv,
                 ((nr_o = 0 AND nr_n > 0) OR (nr_o > 0 AND nr_n = 0)) AS eflip
          FROM j
        )
        SELECT col_name, status,
               round(nro, 6) AS null_ratio_old,
               round(nrn, 6) AS null_ratio_new,
               round(nrn - nro, 6) AS null_ratio_delta,
               round(ndrel, 6) AS distinct_rel_change,
               coalesce(rmv, FALSE) AS range_moved,
               (status <> 'both' OR coalesce(eflip, FALSE)
                OR abs(coalesce(nrn - nro, 0.0)) > 0.05
                OR coalesce(ndrel, 0.0) > 0.5
                OR coalesce(rmv, FALSE)) AS alert
        FROM d
    """
    # incremental lines = union-then-restrict: history count + batch
    # count over the even/odd split equals the full-corpus line count,
    # so the oracle is the whole-corpus line-dedup pipeline keeping
    # only batch (odd) docs -- the X112 contract at line granularity
    sqls["incremental_lines_batch"] = """
        WITH l AS (
          SELECT doc_id,
                 regexp_split_to_array(coalesce(text, ''), '\\n') AS lines
          FROM documents
        ),
        ex AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(lines) + 1),
                                       i -> {'i': i, 'line': lines[i]})) AS s
          FROM l
        ),
        idx AS (SELECT doc_id, s.i::INT AS i, s.line AS line FROM ex),
        dup AS (
          SELECT line FROM idx WHERE trim(line) <> ''
          GROUP BY line HAVING count(*) > 1
        ),
        marked AS (
          SELECT i.doc_id, i.i, i.line,
                 (trim(i.line) = '' OR d.line IS NULL) AS keep
          FROM idx i LEFT JOIN dup d ON i.line = d.line
        )
        SELECT doc_id,
               coalesce(string_agg(CASE WHEN keep THEN line END,
                                   chr(10) ORDER BY i), '') AS text_dedup,
               count(*)::BIGINT AS n_lines,
               sum((NOT keep)::INT)::BIGINT AS n_removed
        FROM marked WHERE doc_id % 2 = 1 GROUP BY doc_id
    """
    # MinHash estimator accuracy: candidate pairs from the same band
    # CTEs as dedup_minhash_lsh; the estimate is the k-component
    # agreement fraction and the exact value the shingle-set Jaccard --
    # both integer-ratio arithmetic, so both hash exactly (the
    # estimator itself is pinned, not a bound)
    sqls["pair_jaccard_estimates"] = f"""
        WITH {_DEDUP_BASE}, {_MINHASH_PARAMS_SQL}, {_MINHASH_SIGS_SQL},
        bands AS (
          SELECT doc_id, (i // {dd.LSH_ROWS})::INT AS band,
                 array_to_string(array_agg(sig ORDER BY i), ',') AS key
          FROM sigs GROUP BY doc_id, band
        ),
        pairs AS (
          SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM bands a JOIN bands b USING (band, key)
          WHERE a.doc_id < b.doc_id
        ),
        est AS (
          SELECT p.a_id, p.b_id,
                 round(sum((sa.sig = sb.sig)::INT)::BIGINT / count(*), 6)
                   AS jaccard_est
          FROM pairs p
          JOIN sigs sa ON sa.doc_id = p.a_id
          JOIN sigs sb ON sb.doc_id = p.b_id AND sb.i = sa.i
          GROUP BY 1, 2
        ),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
        inter AS (
          SELECT p.a_id, p.b_id, count(*) AS n_inter
          FROM pairs p
          JOIN shh a ON a.doc_id = p.a_id
          JOIN shh b ON b.doc_id = p.b_id AND b.sh = a.sh
          GROUP BY 1, 2
        )
        SELECT e.a_id, e.b_id, e.jaccard_est,
               round(coalesce(i.n_inter, 0)
                     / (na.n_sh + nb.n_sh - coalesce(i.n_inter, 0)), 6)
                 AS jaccard_exact
        FROM est e
        LEFT JOIN inter i ON i.a_id = e.a_id AND i.b_id = e.b_id
        JOIN sizes na ON na.doc_id = e.a_id
        JOIN sizes nb ON nb.doc_id = e.b_id
    """
    # approx percentiles: the GK estimates are implementation-specific
    # but their rank accuracy is deterministic -- the query emits
    # "empirical rank within 0.02 of target" booleans (200x the
    # accuracy=10000 bound, so a correct summary cannot flip them) and
    # the oracle pins them to 1 next to the exact group counts, the
    # approx_distinct_users promotion applied to quantiles.
    sqls["value_percentiles_approx"] = """
        SELECT event_type, count(*)::BIGINT AS n_events,
               1::BIGINT AS p50_rank_ok,
               1::BIGINT AS p90_rank_ok,
               1::BIGINT AS p99_rank_ok
        FROM events GROUP BY event_type
    """
    # The measurement + salting must be invisible: oracle is the plain join.
    sqls["skew_join_auto"] = """
        SELECT e.event_id, e.user_id, c.c_mktsegment, e.value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """
    # incremental semantic: same k-means + assignment CTEs as
    # dedup_semantic (three keys now pin the same centroid literals),
    # then the two probes -- any same-cluster history (even) match /
    # any smaller-id same-cluster batch (odd) match -- with the
    # bit-identical dot fold and unrounded threshold comparisons.
    sqls["incremental_semantic_flags"] = f"""
        WITH {_EMB_NORM_SQL},
        {_KMEANS_CTES},
        cents AS (SELECT c_id, cv, cn FROM {_KMEANS_FINAL}),
        ascore AS (
          SELECT a.vec_id AS id, c_id,
                 round({_emb_dot_sql("a.v", "cv")} / (a.norm * cn), 9) AS cos
          FROM nv a CROSS JOIN cents
        ),
        assign AS (
          SELECT id, c_id AS cluster FROM (
            SELECT id, c_id,
                   row_number() OVER (
                     PARTITION BY id ORDER BY cos DESC, c_id) AS rn
            FROM ascore
          ) WHERE rn = 1
        ),
        av AS (
          SELECT s.id, s.cluster, nv.v, nv.norm
          FROM assign s JOIN nv ON nv.vec_id = s.id
        ),
        bat AS (SELECT * FROM av WHERE id % 2 = 1),
        hist AS (SELECT * FROM av WHERE id % 2 = 0),
        nh AS (
          SELECT DISTINCT b.id FROM bat b
          JOIN hist h ON h.cluster = b.cluster
          WHERE {_emb_dot_sql("b.v", "h.v")} / (b.norm * h.norm)
                >= {EMBED_NEAR_DUP_THRESHOLD}
        ),
        nb AS (
          SELECT DISTINCT b.id FROM bat b
          JOIN bat a2 ON a2.cluster = b.cluster AND a2.id < b.id
          WHERE {_emb_dot_sql("a2.v", "b.v")} / (a2.norm * b.norm)
                >= {EMBED_NEAR_DUP_THRESHOLD}
        )
        SELECT b.id AS vec_id, b.cluster::BIGINT AS cluster,
               (b.id IN (SELECT id FROM nh)) AS near_dup_history,
               (b.id IN (SELECT id FROM nb)) AS near_dup_batch,
               NOT ((b.id IN (SELECT id FROM nh))
                    OR (b.id IN (SELECT id FROM nb))) AS keep
        FROM bat b
    """
    # Resize stats: the crop/zero-pad thumbnail's byte stats in integer
    # arithmetic -- the char fold runs over the PIXEL list (codepoint or
    # zero pad) in order, so the padded zeros participate exactly as
    # the Python fold sees them.
    sqls["media_resize_stats"] = f"""
        WITH pix AS (
          SELECT doc_id, i,
                 CASE WHEN i < length(text)
                      THEN ascii(substr(text, (i + 1)::INT, 1))
                      ELSE 0 END AS p
          FROM documents CROSS JOIN (SELECT unnest(range(0, 64)) AS i)
        ),
        agg AS (
          SELECT doc_id,
                 round(sum(p)::DOUBLE / 64, 6) AS mean_byte,
                 list(p::BIGINT ORDER BY i) AS ps
          FROM pix GROUP BY doc_id
        )
        SELECT doc_id AS media_id, 64::BIGINT AS n_bytes, mean_byte,
               list_reduce(list_prepend(0::BIGINT, ps),
                           (acc, c) -> (acc * {HASH_BASE} + c) % {MERSENNE31})
                 AS byte_hash
        FROM agg
    """
    # aHash near-dup pairs: replay the codec-less resize contract
    # (crop/zero-pad the ASCII payload to 64 pixels), the exact-float64
    # mean threshold (sum of <=64 ints / 64 is exact in float64 on both
    # engines), the row-major bit pack into 32-bit halves (each half
    # sums to < 2^32, so no sign-bit shift on either engine), then the
    # same 4x16-bit chunk pigeonhole + Hamming filter as
    # dedup_simhash_pairs.
    sqls["media_ahash_pairs"] = """
        WITH pix AS (
          SELECT doc_id, i,
                 CASE WHEN i < length(text)
                      THEN ascii(substr(text, (i + 1)::INT, 1))
                      ELSE 0 END AS p
          FROM documents CROSS JOIN (SELECT unnest(range(0, 64)) AS i)
        ),
        m AS (SELECT doc_id, sum(p)::DOUBLE / 64 AS mean FROM pix GROUP BY doc_id),
        sigs AS (
          SELECT pix.doc_id AS id,
                 sum(CASE WHEN i >= 32 AND p > mean
                          THEN (1::BIGINT << (i - 32)::INT) ELSE 0 END)::BIGINT AS sim_hi,
                 sum(CASE WHEN i < 32 AND p > mean
                          THEN (1::BIGINT << i::INT) ELSE 0 END)::BIGINT AS sim_lo
          FROM pix JOIN m USING (doc_id) GROUP BY pix.doc_id
        ),
        ch AS (
          SELECT id, sim_hi, sim_lo, c.chunk,
                 CASE WHEN c.chunk < 2
                      THEN (sim_lo >> (c.chunk * 16)) & 65535
                      ELSE (sim_hi >> ((c.chunk - 2) * 16)) & 65535
                 END AS ckey
          FROM sigs CROSS JOIN (SELECT range AS chunk FROM range(0, 4)) c
        )
        SELECT DISTINCT a.id AS a_id, b.id AS b_id,
               (bit_count(xor(a.sim_hi, b.sim_hi))
                + bit_count(xor(a.sim_lo, b.sim_lo)))::BIGINT AS hamming
        FROM ch a JOIN ch b USING (chunk, ckey)
        WHERE a.id < b.id
          AND (bit_count(xor(a.sim_hi, b.sim_hi))
               + bit_count(xor(a.sim_lo, b.sim_lo))) <= 3
    """
    # The star algorithm must produce byte-identical labels to the
    # propagation form, so the one recursive CTE adjudicates both.
    sqls["dedup_near_clusters_star"] = sqls["dedup_near_clusters"]
    # Native session_window twin: same expression-form replay as
    # events_sessionize minus the ordinal, with `>=` on the gap (a gap
    # of exactly 30 min splits under the half-open native windows).
    sqls["events_session_native"] = """
        WITH e AS (
          SELECT user_id, event_id, value, epoch_ns(ts) // 1000 AS tus FROM events
        ),
        m AS (
          SELECT *, CASE WHEN lag(tus) OVER w IS NULL
                          OR tus - lag(tus) OVER w >= 1800000000
                     THEN 1 ELSE 0 END AS is_new
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
        ),
        s AS (
          SELECT *, sum(is_new) OVER (
            PARTITION BY user_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING
          ) AS session_idx FROM m
        )
        SELECT user_id,
               strftime(min(make_timestamp(tus)), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(max(make_timestamp(tus)), '%Y-%m-%d %H:%M:%S') AS session_end,
               count(*) AS n_events, round(sum(value), 6) AS sum_value
        FROM s GROUP BY user_id, session_idx
    """
    # Embedding-space decontamination: the same k-means + assignment
    # CTEs as dedup_semantic / incremental_semantic_flags (a FOURTH key
    # pinning the same centroid literals), then the cluster-probe join
    # of train (hash buckets < 80) against protected (buckets >= 90)
    # with the bit-identical dot fold; threshold comparisons unrounded,
    # max_cos rounded 6 on both sides.
    sqls["embeddings_decontaminate"] = f"""
        WITH {_EMB_NORM_SQL},
        {_KMEANS_CTES},
        cents AS (SELECT c_id, cv, cn FROM {_KMEANS_FINAL}),
        ascore AS (
          SELECT a.vec_id AS id, c_id,
                 round({_emb_dot_sql("a.v", "cv")} / (a.norm * cn), 9) AS cos
          FROM nv a CROSS JOIN cents
        ),
        assign AS (
          SELECT id, c_id AS cluster FROM (
            SELECT id, c_id,
                   row_number() OVER (
                     PARTITION BY id ORDER BY cos DESC, c_id) AS rn
            FROM ascore
          ) WHERE rn = 1
        ),
        av AS (
          SELECT s.id, s.cluster, nv.v, nv.norm,
                 {string_hash31_sql("s.id::VARCHAR")} % 100 AS bucket
          FROM assign s JOIN nv ON nv.vec_id = s.id
        ),
        tr AS (SELECT * FROM av WHERE bucket < 80),
        pr AS (SELECT * FROM av WHERE bucket >= 90),
        hits AS (
          SELECT t.id,
                 sum(({_emb_dot_sql("t.v", "p.v")} / (t.norm * p.norm)
                      >= {EMBED_NEAR_DUP_THRESHOLD})::BIGINT)::BIGINT AS n_probe_hits,
                 round(max({_emb_dot_sql("t.v", "p.v")} / (t.norm * p.norm)), 6) AS max_cos
          FROM tr t JOIN pr p ON p.cluster = t.cluster
          GROUP BY t.id
        )
        SELECT t.id AS vec_id, t.cluster::BIGINT AS cluster,
               coalesce(h.n_probe_hits, 0)::BIGINT AS n_probe_hits,
               h.max_cos,
               coalesce(h.n_probe_hits, 0) > 0 AS contaminated
        FROM tr t LEFT JOIN hits h ON h.id = t.id
    """
    # The composed nightly-ingest verdict: nest the four incremental
    # contracts' own oracles as derived tables joined on doc_id (the
    # curation_pipeline nesting pattern), so the composition cannot
    # drift from the individually-gated forms.
    sqls["incremental_ingest_verdict"] = f"""
        WITH fl AS ({sqls["incremental_dedup_flags"]}),
        spb AS (
          SELECT doc_id, count(*)::BIGINT AS n_dup_spans,
                 sum(span_end - span_start + 1)::BIGINT AS dup_span_chars
          FROM ({sqls["incremental_spans_batch"]}) GROUP BY doc_id
        ),
        lnb AS (
          SELECT doc_id, n_lines, n_removed AS n_lines_removed
          FROM ({sqls["incremental_lines_batch"]})
        ),
        semb AS (
          SELECT vec_id, near_dup_history AS sem_dup_history,
                 near_dup_batch AS sem_dup_batch
          FROM ({sqls["incremental_semantic_flags"]})
        )
        SELECT fl.doc_id, fl.content_hash,
               fl.exact_dup_history, fl.exact_dup_batch,
               fl.near_dup_history, fl.near_dup_batch,
               coalesce(spb.n_dup_spans, 0)::BIGINT AS n_dup_spans,
               coalesce(spb.dup_span_chars, 0)::BIGINT AS dup_span_chars,
               lnb.n_lines, lnb.n_lines_removed,
               semb.sem_dup_history, semb.sem_dup_batch,
               NOT (fl.exact_dup_history OR fl.exact_dup_batch
                    OR fl.near_dup_history OR fl.near_dup_batch
                    OR coalesce(semb.sem_dup_history, false)
                    OR coalesce(semb.sem_dup_batch, false)) AS keep
        FROM fl
        LEFT JOIN spb USING (doc_id)
        JOIN lnb USING (doc_id)
        LEFT JOIN semb ON semb.vec_id = fl.doc_id
    """
    # The streaming gate returns the SAME composed verdict (state seeded
    # from the identical four history tables + reps, probed through
    # verdict_batch_processor) -- one oracle, two execution paths.
    sqls["streaming_verdict_day2"] = sqls["incremental_ingest_verdict"]
    # --- round-9 extension oracles ---
    sqls["events_interval_union"] = """
        WITH iv AS (
          SELECT user_id, event_id,
                 epoch(date_trunc('second', ts))::BIGINT AS s,
                 epoch(date_trunc('second', ts))::BIGINT + 300 AS e
          FROM events WHERE ts IS NOT NULL
        ),
        marked AS (
          SELECT user_id, event_id, s, e,
                 CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w
                      THEN 1 ELSE 0 END AS brk
          FROM iv
          WINDOW w AS (PARTITION BY user_id ORDER BY s, e, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ),
        isl AS (
          SELECT user_id, s, e,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                ROWS UNBOUNDED PRECEDING) AS island
          FROM marked
        ),
        agg AS (
          SELECT user_id, island, count(*) AS n, min(s) AS s0, max(e) AS e1
          FROM isl GROUP BY 1, 2
        )
        SELECT user_id, sum(n)::BIGINT AS n_intervals,
               count(*)::BIGINT AS n_islands,
               sum(greatest(e1 - s0, 0))::BIGINT AS covered
        FROM agg GROUP BY user_id
    """
    sqls["events_type_transitions"] = """
        WITH seq AS (
          SELECT event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_type
          FROM events WHERE ts IS NOT NULL
        ),
        pairs AS (
          SELECT prev_type AS prev_state, event_type AS next_state,
                 count(*)::BIGINT AS n_transitions
          FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
        ),
        tot AS (
          SELECT prev_state, sum(n_transitions) AS t FROM pairs GROUP BY 1
        )
        SELECT p.prev_state, p.next_state, p.n_transitions,
               round(p.n_transitions / t.t, 9) AS p_transition
        FROM pairs p JOIN tot t USING (prev_state)
    """
    # k-core: 3 unrolled peel rounds over the SAME jaccard>=0.05 edge
    # CTE the triangle oracle uses -- exact integer degrees, no floats.
    _kcore_rounds = []
    prev = "und"
    for i in (1, 2, 3):
        _kcore_rounds.append(f"""
        deg{i} AS MATERIALIZED (
          SELECT n, count(*)::BIGINT AS deg
          FROM (SELECT x AS n FROM {prev} UNION ALL SELECT y FROM {prev})
          GROUP BY n
        ),
        keep{i} AS MATERIALIZED (SELECT n FROM deg{i} WHERE deg >= 2),
        e{i} AS MATERIALIZED (
          SELECT x, y FROM {prev}
          JOIN keep{i} kx ON kx.n = x
          JOIN keep{i} ky ON ky.n = y
        )""")
        prev = f"e{i}"
    sqls["dedup_kcore"] = f"""
        WITH {_DEDUP_BASE},
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS n_inter
          FROM shh a JOIN shh b USING (sh)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        und AS MATERIALIZED (
          SELECT x, y FROM inter
          JOIN sizes na ON na.doc_id = x
          JOIN sizes nb ON nb.doc_id = y
          WHERE n_inter / (na.n_sh + nb.n_sh - n_inter) >= 0.05
        ),
        nodes AS (
          SELECT DISTINCT n FROM
            (SELECT x AS n FROM und UNION ALL SELECT y FROM und)
        ),
        {", ".join(_kcore_rounds)},
        fdeg AS (
          SELECT n, count(*)::BIGINT AS deg
          FROM (SELECT x AS n FROM e3 UNION ALL SELECT y FROM e3)
          GROUP BY n
        )
        SELECT nodes.n AS node,
               coalesce(fdeg.deg, 0)::BIGINT AS degree,
               coalesce(fdeg.deg, 0) >= 2 AS in_core
        FROM nodes LEFT JOIN fdeg ON fdeg.n = nodes.n
    """
    # OLS: DECIMAL(38,10) moment sums, then the SAME double expression
    # shape as grouped_linreg -- identical IEEE ops on identical inputs.
    sqls["orders_price_trend"] = """
        WITH pts AS (
          SELECT o_orderpriority,
                 date_diff('day', DATE '1995-01-01', o_orderdate)::DOUBLE AS x,
                 o_totalprice AS y
          FROM orders
          WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        ),
        m AS (
          SELECT o_orderpriority,
                 count(*)::BIGINT AS n_points,
                 sum(CAST(x AS DECIMAL(38,10))) AS sxd,
                 sum(CAST(y AS DECIMAL(38,10))) AS syd,
                 sum(CAST(x AS DECIMAL(38,10)) * CAST(y AS DECIMAL(38,10))) AS sxyd,
                 sum(CAST(x AS DECIMAL(38,10)) * CAST(x AS DECIMAL(38,10))) AS sxxd,
                 sum(CAST(y AS DECIMAL(38,10)) * CAST(y AS DECIMAL(38,10))) AS syyd
          FROM pts GROUP BY 1
        ),
        d AS (
          SELECT o_orderpriority, n_points,
                 n_points::DOUBLE AS n, sxd::DOUBLE AS sx, syd::DOUBLE AS sy,
                 sxyd::DOUBLE AS sxy, sxxd::DOUBLE AS sxx, syyd::DOUBLE AS syy
          FROM m
        ),
        c AS (
          SELECT o_orderpriority, n_points, n, sx, sy,
                 n * sxy - sx * sy AS cov,
                 n * sxx - sx * sx AS varx,
                 n * syy - sy * sy AS vary
          FROM d
        ),
        s AS (
          SELECT o_orderpriority, n_points, n, sx, sy, cov, varx, vary,
                 CASE WHEN n_points >= 2 AND varx <> 0
                      THEN cov / varx END AS slope
          FROM c
        )
        SELECT o_orderpriority, n_points,
               round(slope, 6) AS slope,
               round((sy - slope * sx) / n, 6) AS intercept,
               CASE WHEN slope IS NOT NULL AND vary <> 0
                    THEN round((cov * cov) / (varx * vary), 6) END AS r2
        FROM s
    """
    sqls["basket_brand_pairs"] = """
        WITH t AS (
          SELECT DISTINCT l_orderkey AS g, p_brand AS item
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_brand IS NOT NULL
        ),
        ng AS (SELECT count(DISTINCT g) AS n_groups FROM t),
        p AS (
          SELECT a.item AS item_a, b.item AS item_b,
                 count(*)::BIGINT AS n_together
          FROM t a JOIN t b ON a.g = b.g AND a.item < b.item
          GROUP BY 1, 2
        )
        SELECT item_a, item_b, n_together,
               round(n_together / ng.n_groups, 9) AS support
        FROM p, ng WHERE n_together >= 40
    """
    sqls["events_cumulative_users"] = """
        WITH first_seen AS (
          SELECT user_id, min(strftime(ts, '%Y-%m-%d')) AS day
          FROM events WHERE ts IS NOT NULL GROUP BY 1
        ),
        daily AS (
          SELECT day, count(*)::BIGINT AS n_new_users
          FROM first_seen GROUP BY 1
        )
        SELECT day, n_new_users,
               sum(n_new_users) OVER (ORDER BY day
                 ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_users
        FROM daily
    """
    sqls["docs_keyterms"] = f"""
        WITH {_BASE},
        ranked AS (
          SELECT doc_id, token, weight,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY weight DESC, token) AS rk
          FROM w
        )
        SELECT doc_id, token, rk::BIGINT AS rk, weight
        FROM ranked WHERE rk <= 3
    """
    sqls["embeddings_knn_label"] = f"""
        WITH {_EMB_NORM_SQL},
        lab AS (
          SELECT e.vec_id, nv.v, nv.norm, e.label
          FROM embeddings e JOIN nv USING (vec_id)
          WHERE e.vec_id % 2 = 0 AND e.label IS NOT NULL
        ),
        q AS (
          SELECT vec_id AS q_id, v AS qv, norm AS qn
          FROM nv WHERE vec_id % 2 = 1
        ),
        scored AS (
          SELECT q_id, c.vec_id AS n_id, c.label,
                 round({_emb_dot_sql("qv", "c.v")} / (qn * c.norm), 9) AS cos
          FROM q CROSS JOIN lab c
        ),
        topk AS (
          SELECT q_id, n_id, label FROM (
            SELECT q_id, n_id, label,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cos DESC, n_id) AS rank
            FROM scored
          ) WHERE rank <= 5
        ),
        votes AS (
          SELECT q_id, label, count(*)::BIGINT AS n_votes
          FROM topk GROUP BY 1, 2
        ),
        tot AS (
          SELECT q_id, sum(n_votes)::BIGINT AS n_neighbors
          FROM votes GROUP BY 1
        )
        SELECT v.q_id AS vec_id, v.label AS pred_label, v.n_votes,
               tot.n_neighbors
        FROM (
          SELECT q_id, label, n_votes,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY n_votes DESC, label) AS r
          FROM votes
        ) v JOIN tot USING (q_id)
        WHERE v.r = 1
    """
    _lk_ctes, _lk_final = _kmeans_cents_sql(ann_ops.KMEANS_ITERS, src="lnv")
    sqls["embeddings_knn_label_ivf"] = f"""
        WITH {_EMB_NORM_SQL},
        lnv AS (
          SELECT nv.vec_id, nv.v, nv.norm
          FROM nv JOIN embeddings e USING (vec_id)
          WHERE nv.vec_id % 2 = 0 AND e.label IS NOT NULL
        ),
        {_lk_ctes},
        cents AS (SELECT c_id, cv, cn FROM {_lk_final}),
        lab AS (
          SELECT e.vec_id, e.label FROM embeddings e
          WHERE e.vec_id % 2 = 0 AND e.label IS NOT NULL
        ),
        assign AS (
          SELECT id, c_id AS cluster, v, norm FROM (
            SELECT a.vec_id AS id, c_id, a.v, a.norm,
                   row_number() OVER (
                     PARTITION BY a.vec_id
                     ORDER BY round({_emb_dot_sql("a.v", "cv")} / (a.norm * cn), 9) DESC, c_id
                   ) AS rn
            FROM lnv a CROSS JOIN cents
          ) WHERE rn = 1
        ),
        probes AS (
          SELECT q_id, qv, qn, c_id AS cluster FROM (
            SELECT q.vec_id AS q_id, q.v AS qv, q.norm AS qn, c_id,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY round({_emb_dot_sql("q.v", "cv")} / (q.norm * cn), 9) DESC, c_id
                   ) AS rn
            FROM nv q CROSS JOIN cents WHERE q.vec_id % 2 = 1
          ) WHERE rn <= {ann_ops.N_PROBE}
        ),
        scored AS (
          SELECT p.q_id, a.id AS n_id,
                 round({_emb_dot_sql("p.qv", "a.v")} / (p.qn * a.norm), 9) AS cos
          FROM probes p JOIN assign a USING (cluster)
          WHERE a.id <> p.q_id
        ),
        topk AS (
          SELECT q_id, n_id FROM (
            SELECT q_id, n_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cos DESC, n_id) AS rank
            FROM scored
          ) WHERE rank <= 5
        ),
        votes AS (
          SELECT t.q_id, lab.label, count(*)::BIGINT AS n_votes
          FROM topk t JOIN lab ON lab.vec_id = t.n_id
          GROUP BY 1, 2
        ),
        tot AS (
          SELECT q_id, sum(n_votes)::BIGINT AS n_neighbors
          FROM votes GROUP BY 1
        )
        SELECT v.q_id AS vec_id, v.label AS pred_label, v.n_votes,
               tot.n_neighbors
        FROM (
          SELECT q_id, label, n_votes,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY n_votes DESC, label) AS r
          FROM votes
        ) v JOIN tot USING (q_id)
        WHERE v.r = 1
    """
    sqls["events_value_mad"] = """
        WITH ev AS (
          SELECT event_id, event_type, value FROM events
        ),
        med AS (
          SELECT event_type, quantile_cont(value, 0.5) AS m
          FROM ev GROUP BY 1
        ),
        mad AS (
          SELECT ev.event_type, quantile_cont(abs(ev.value - med.m), 0.5) AS md
          FROM ev JOIN med ON ev.event_type IS NOT DISTINCT FROM med.event_type
          GROUP BY 1
        )
        SELECT ev.event_id, ev.event_type, ev.value,
               round(med.m, 9) AS group_median,
               round(mad.md, 9) AS group_mad,
               CASE WHEN ev.value IS NOT NULL
                    THEN abs(ev.value - med.m) > 3 * mad.md END AS is_outlier
        FROM ev
        JOIN med ON ev.event_type IS NOT DISTINCT FROM med.event_type
        JOIN mad ON ev.event_type IS NOT DISTINCT FROM mad.event_type
    """
    # BPE gate: re-LEARN the 8 merge rules as unrolled SQL stages over
    # double-separator symbol strings (a single replace() per stage is
    # the exact greedy left-to-right merge -- adjacent occurrences share
    # no characters under '||' separators), then re-segment every doc.
    # Tie-break (n DESC, a, b) and min_pair_count=2 mirror
    # bpe_learn_local exactly; identity stages after early exhaustion
    # mirror the learner's early stop.
    _bpe_stages = []
    for i in range(1, BPE_GATE_MERGES + 1):
        _bpe_stages.append(f"""
        p{i} AS MATERIALIZED (
          SELECT l[j] AS a, l[j + 1] AS b, sum(n_occ)::BIGINT AS n
          FROM (SELECT n_occ, str_split(s, '||') AS l FROM s{i - 1}),
               UNNEST(range(1, len(l))) AS t(j)
          GROUP BY 1, 2
        ),
        b{i} AS MATERIALIZED (
          SELECT a, b FROM p{i} WHERE n >= 2 ORDER BY n DESC, a, b LIMIT 1
        ),
        s{i} AS MATERIALIZED (
          SELECT word, n_occ,
                 CASE WHEN (SELECT count(*) FROM b{i}) = 0 THEN s
                      ELSE trim(replace(
                             '||' || s || '||',
                             '|' || (SELECT a FROM b{i}) || '||'
                                 || (SELECT b FROM b{i}) || '|',
                             '|' || (SELECT a FROM b{i})
                                 || (SELECT b FROM b{i}) || '|'), '|')
                 END AS s
          FROM s{i - 1}
        )""")
    sqls["docs_bpe_segments"] = f"""
        WITH {_BASE},
        wc AS (
          SELECT word, count(*)::BIGINT AS n_occ
          FROM (SELECT unnest(toks) AS word FROM tok)
          WHERE word IS NOT NULL AND word <> ''
          GROUP BY 1
        ),
        s0 AS MATERIALIZED (
          SELECT word, n_occ,
                 '▁||' || rtrim(regexp_replace(
                   replace(word, '▁', '<0x2581>'), '(.)', '\\1||', 'g'), '|')
                   AS s
          FROM wc
        ),
        {",".join(_bpe_stages)},
        seg AS (
          SELECT word,
                 replace(s, '||', ' ') AS segs,
                 len(str_split(s, '||'))::BIGINT AS np
          FROM s{BPE_GATE_MERGES}
        ),
        doc_words AS (
          SELECT doc_id, toks[j] AS word, j
          FROM tok, UNNEST(range(1, len(toks) + 1)) AS t(j)
          WHERE toks[j] IS NOT NULL AND toks[j] <> ''
        ),
        per_doc AS (
          SELECT d.doc_id,
                 sum(seg.np)::BIGINT AS n_pieces,
                 string_agg(seg.segs, ' ' ORDER BY d.j) AS pieces_str
          FROM doc_words d JOIN seg USING (word)
          GROUP BY 1
        )
        SELECT t.doc_id,
               coalesce(per_doc.n_pieces, 0)::BIGINT AS n_pieces,
               coalesce(per_doc.pieces_str, '') AS pieces_str
        FROM tok t LEFT JOIN per_doc USING (doc_id)
    """
    sqls["attribution_linear"] = """
        WITH ev AS (
          SELECT event_id, user_id, event_type,
                 epoch_us(ts)::BIGINT AS us
          FROM events WHERE ts IS NOT NULL
        ),
        matched AS (
          SELECT p.event_id AS purchase_id, c.event_id AS click_id
          FROM ev p JOIN ev c
            ON p.user_id = c.user_id
           AND c.us < p.us
           AND c.us >= p.us - 604800000000::BIGINT
          WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        ),
        per_p AS (
          SELECT purchase_id, count(*)::BIGINT AS n FROM matched GROUP BY 1
        )
        SELECT m.click_id,
               count(*)::BIGINT AS n_purchases,
               sum(1000000000::BIGINT // per_p.n)::BIGINT AS credit_ppb
        FROM matched m JOIN per_p USING (purchase_id)
        GROUP BY m.click_id
    """
    sqls["funnel_latency"] = """
        WITH ev AS (SELECT * FROM events WHERE ts IS NOT NULL),
        s0 AS (
          SELECT user_id AS u, min(ts) AS rt FROM ev
          WHERE event_type = 'view' GROUP BY 1
        ),
        s1 AS (
          SELECT e.user_id AS u, min(e.ts) AS rt
          FROM ev e JOIN s0 ON e.user_id = s0.u AND e.ts > s0.rt
          WHERE e.event_type = 'click' GROUP BY 1
        ),
        s2 AS (
          SELECT e.user_id AS u, min(e.ts) AS rt
          FROM ev e JOIN s1 ON e.user_id = s1.u AND e.ts > s1.rt
          WHERE e.event_type = 'purchase' GROUP BY 1
        ),
        d AS (
          SELECT 'view->click' AS step_pair,
                 epoch(date_trunc('second', s1.rt))::BIGINT
                   - epoch(date_trunc('second', s0.rt))::BIGINT AS delta
          FROM s1 JOIN s0 USING (u)
          UNION ALL
          SELECT 'click->purchase',
                 epoch(date_trunc('second', s2.rt))::BIGINT
                   - epoch(date_trunc('second', s1.rt))::BIGINT
          FROM s2 JOIN s1 USING (u)
        )
        SELECT step_pair, count(*)::BIGINT AS n_users,
               round(quantile_cont(delta, 0.25), 6) AS p25_sec,
               round(quantile_cont(delta, 0.5), 6) AS p50_sec,
               round(quantile_cont(delta, 0.75), 6) AS p75_sec
        FROM d GROUP BY step_pair
    """
    sqls["events_snapshot_diff"] = """
        WITH ev AS (
          SELECT strftime(ts, '%Y-%m-%d') AS day, event_id, user_id,
                 event_type
          FROM events WHERE ts IS NOT NULL
        ),
        rep AS (
          SELECT day, event_id, user_id,
                 CASE WHEN event_id % 997 = 3 THEN 'corrupted'
                      ELSE event_type END AS event_type
          FROM ev WHERE event_id % 991 <> 5
        ),
        j AS (
          SELECT coalesce(a.day, b.day) AS day,
                 CASE WHEN a.event_id IS NULL THEN 'added'
                      WHEN b.event_id IS NULL THEN 'removed'
                      WHEN a.user_id = b.user_id
                       AND a.event_type = b.event_type THEN 'unchanged'
                      ELSE 'changed' END AS change
          FROM ev a FULL OUTER JOIN rep b USING (event_id)
        )
        SELECT day, change, count(*)::BIGINT AS n_rows
        FROM j GROUP BY 1, 2
    """
    sqls["orders_repeat_share"] = """
        WITH firsts AS (
          SELECT o_custkey, min(o_orderdate) AS f FROM orders GROUP BY 1
        ),
        tagged AS (
          SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
                 CASE WHEN o_orderdate > f THEN 1 ELSE 0 END AS rep
          FROM orders JOIN firsts USING (o_custkey)
        )
        SELECT month, count(*)::BIGINT AS n_orders,
               sum(rep)::BIGINT AS n_repeat,
               round(sum(rep) / count(*), 9) AS repeat_share
        FROM tagged GROUP BY month
    """
    sqls["docs_shingle_novelty"] = f"""
        WITH {_DEDUP_BASE},
        dfc AS (
          SELECT sh, count(DISTINCT doc_id) AS df FROM shh GROUP BY 1
        ),
        per AS (
          SELECT shh.doc_id,
                 count(*)::BIGINT AS n_shingles,
                 sum(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END)::BIGINT
                   AS n_unique
          FROM shh JOIN dfc USING (sh)
          GROUP BY 1
        )
        SELECT d.doc_id,
               coalesce(per.n_shingles, 0)::BIGINT AS n_shingles,
               coalesce(per.n_unique, 0)::BIGINT AS n_unique,
               CASE WHEN per.n_shingles IS NOT NULL
                    THEN round(per.n_unique / per.n_shingles, 9)
               END AS novelty
        FROM documents d LEFT JOIN per USING (doc_id)
    """
    sqls["orders_mix_drift"] = """
        WITH mc AS (
          SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
                 o_orderpriority, count(*)::BIGINT AS n
          FROM orders GROUP BY 1, 2
        ),
        mt AS (SELECT month, sum(n) AS mtot FROM mc GROUP BY 1),
        g AS (
          SELECT o_orderpriority, count(*)::BIGINT AS gn FROM orders GROUP BY 1
        ),
        gt AS (SELECT sum(gn) AS gtot FROM g),
        gs AS (SELECT o_orderpriority, gn / gt.gtot AS s FROM g, gt)
        SELECT mc.month,
               sum(mc.n)::BIGINT AS n_orders,
               round(sum(abs(mc.n / mt.mtot - gs.s)) / 2, 9) AS mix_tvd
        FROM mc JOIN mt USING (month) JOIN gs USING (o_orderpriority)
        GROUP BY mc.month
    """
    sqls["embeddings_profile"] = f"""
        WITH per AS (
          SELECT label,
                 [x::DOUBLE for x in embedding] AS v,
                 CASE WHEN embedding IS NOT NULL THEN
                   sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                        list_transform(range(1, len(embedding) + 1),
                                       j -> embedding[j]::DOUBLE
                                            * embedding[j]::DOUBLE)),
                        (a, b) -> a + b))
                 END AS norm
          FROM embeddings
        )
        SELECT label,
               count(*)::BIGINT AS n_rows,
               sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
               sum(CASE WHEN norm = 0.0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
               count(DISTINCT len(v))::BIGINT AS n_dims,
               round(sum(CAST(norm AS DECIMAL(38,15)))::DOUBLE
                     / sum(CASE WHEN norm IS NOT NULL THEN 1 ELSE 0 END),
                     9) AS mean_norm
        FROM per GROUP BY label
    """
    sqls["events_hourly_profile"] = """
        WITH hc AS (
          SELECT event_type, hour(ts)::BIGINT AS hour_utc,
                 count(*)::BIGINT AS n_events
          FROM events WHERE ts IS NOT NULL
          GROUP BY 1, 2
        ),
        tot AS (SELECT event_type, sum(n_events) AS t FROM hc GROUP BY 1)
        SELECT hc.event_type, hc.hour_utc, hc.n_events,
               round(hc.n_events / tot.t, 9) AS share
        FROM hc JOIN tot USING (event_type)
    """
    sqls["events_value_band_join"] = """
        WITH p AS (
          SELECT event_id, value::DOUBLE AS v FROM events
          WHERE event_type = 'purchase' AND value IS NOT NULL
        )
        SELECT a.event_id AS a_id, b.event_id AS b_id,
               a.v AS value_a, b.v AS value_b,
               round(b.v - a.v, 9) AS dv
        FROM p a JOIN p b
          ON (a.v < b.v OR (a.v = b.v AND a.event_id < b.event_id))
         AND b.v - a.v <= 0.01
    """
    sqls["session_paths"] = """
        WITH e AS (
          SELECT user_id, event_id, event_type,
                 epoch_us(ts)::BIGINT AS tus
          FROM events WHERE ts IS NOT NULL
        ),
        m AS (
          SELECT *, CASE WHEN lag(tus) OVER w IS NULL
                          OR tus - lag(tus) OVER w > 1800000000
                     THEN 1 ELSE 0 END AS is_new
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
        ),
        s AS (
          SELECT *, sum(is_new) OVER (
            PARTITION BY user_id ORDER BY tus, event_id
            ROWS UNBOUNDED PRECEDING
          ) AS sess FROM m
        ),
        paths AS (
          SELECT string_agg(event_type, '>' ORDER BY tus, event_id) AS path
          FROM s GROUP BY user_id, sess
        ),
        counted AS (
          SELECT path, count(*)::BIGINT AS n_sessions FROM paths GROUP BY 1
        )
        SELECT path, n_sessions,
               row_number() OVER (ORDER BY n_sessions DESC, path)::BIGINT
                 AS rank
        FROM counted
        ORDER BY n_sessions DESC, path LIMIT 20
    """
    sqls["orders_mom_growth"] = """
        WITH monthly AS (
          SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
                 (round(sum(CAST(o_totalprice AS DECIMAL(28,10))), 4))::DOUBLE
                   AS revenue
          FROM orders GROUP BY 1
        )
        SELECT month, revenue,
               round((revenue - lag(revenue) OVER (ORDER BY month))
                     / lag(revenue) OVER (ORDER BY month), 9) AS mom_growth
        FROM monthly
    """
    sqls["dedup_cluster_sizes"] = f"""
        WITH sizes AS (
          SELECT keep_id, count(*) AS cluster_size
          FROM ({sqls["dedup_near_clusters"]}) GROUP BY 1
        )
        SELECT cluster_size::BIGINT AS cluster_size,
               count(*)::BIGINT AS n_clusters
        FROM sizes GROUP BY 1
    """
    sqls["orders_abc_classes"] = """
        WITH rev AS (
          SELECT o_custkey,
                 (round(sum(CAST(o_totalprice AS DECIMAL(28,10))), 4))::DOUBLE
                   AS revenue
          FROM orders GROUP BY 1
        ),
        ranked AS (
          SELECT o_custkey, revenue,
                 row_number() OVER (ORDER BY -revenue, o_custkey)::BIGINT
                   AS rev_rank,
                 count(*) OVER ()::BIGINT AS n
          FROM rev
        )
        SELECT o_custkey, revenue, rev_rank,
               CASE WHEN rev_rank * 5 <= n THEN 'A'
                    WHEN rev_rank * 2 <= n THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM ranked
    """
    sqls["events_dau_wau"] = """
        WITH ud AS (
          SELECT DISTINCT ts::DATE AS day, user_id
          FROM events WHERE ts IS NOT NULL
        ),
        dau AS (
          SELECT day, count(*)::BIGINT AS dau FROM ud GROUP BY 1
        ),
        fan AS (
          SELECT DISTINCT day + to_days(j::INTEGER) AS day, user_id
          FROM ud, UNNEST(range(0, 7)) AS t(j)
        ),
        wau AS (
          SELECT day, count(*)::BIGINT AS wau FROM fan GROUP BY 1
        )
        SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau,
               round(dau.dau / wau.wau, 9) AS stickiness
        FROM dau JOIN wau USING (day)
    """
    sqls["events_dau_wau_sketch"] = """
        WITH ud AS (
          SELECT DISTINCT ts::DATE AS day, user_id
          FROM events WHERE ts IS NOT NULL
        ),
        dau AS (
          SELECT day, count(*)::BIGINT AS dau FROM ud GROUP BY 1
        ),
        fan AS (
          SELECT DISTINCT day + to_days(j::INTEGER) AS day, user_id
          FROM ud, UNNEST(range(0, 7)) AS t(j)
        ),
        wau AS (
          SELECT day, count(*)::BIGINT AS wau FROM fan GROUP BY 1
        )
        SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau,
               1::BIGINT AS wau_within_10pct
        FROM dau JOIN wau USING (day)
    """
    sqls["dedup_containment"] = f"""
        WITH {_DEDUP_BASE},
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
          FROM shh a JOIN shh b USING (sh)
          WHERE a.doc_id <> b.doc_id
          GROUP BY 1, 2
        )
        SELECT a_id, b_id,
               na.n_sh::BIGINT AS n_a,
               n_inter::BIGINT AS n_inter,
               n_inter / na.n_sh AS containment
        FROM inter JOIN sizes na ON na.doc_id = a_id
        WHERE n_inter / na.n_sh >= 0.9
    """
    sqls["orders_unpivot"] = """
        WITH per AS (
          SELECT o_orderstatus,
                 count(*)::DOUBLE AS n,
                 (round(sum(CAST(o_totalprice AS DECIMAL(28,10))), 4))::DOUBLE
                   AS total
          FROM orders GROUP BY 1
        )
        SELECT o_orderstatus, 'n_orders' AS metric, n AS value FROM per
        UNION ALL
        SELECT o_orderstatus, 'total_price' AS metric, total AS value FROM per
    """
    # --- round-10 extension oracles ---
    sqls["parts_copurchase_cosine"] = """
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        ic AS (SELECT l_partkey, count(*)::BIGINT AS n FROM li GROUP BY 1),
        pairs AS (
          SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
                 count(*)::BIGINT AS n_together
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2
        )
        SELECT item_a, item_b, n_together,
               round(n_together / sqrt(CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)), 9) AS cosine
        FROM pairs
        JOIN ic na ON na.l_partkey = item_a
        JOIN ic nb ON nb.l_partkey = item_b
    """
    sqls["events_value_moments"] = """
        WITH agg AS (
          SELECT event_type,
                 count(*)::BIGINT AS n_points,
                 sum(CAST(value AS DECIMAL(38,10))) AS s1d,
                 sum(CAST(value * value AS DECIMAL(38,10))) AS s2d,
                 sum(CAST((value * value) * value AS DECIMAL(38,10))) AS s3d,
                 sum(CAST(((value * value) * value) * value
                          AS DECIMAL(38,10))) AS s4d
          FROM events WHERE value IS NOT NULL
          GROUP BY 1
        ),
        d AS (
          SELECT event_type, n_points, n_points::DOUBLE AS n,
                 s1d::DOUBLE AS s1, s2d::DOUBLE AS s2,
                 s3d::DOUBLE AS s3, s4d::DOUBLE AS s4
          FROM agg
        ),
        m AS (
          SELECT event_type, n_points, n, s1 / n AS mean, s2, s3, s4
          FROM d
        ),
        mm AS (
          SELECT event_type, n_points, n, mean,
                 s2 / n - mean * mean AS m2,
                 s3 / n - 3 * mean * (s2 / n)
                   + 2 * mean * mean * mean AS m3,
                 s4 / n - 4 * mean * (s3 / n)
                   + 6 * mean * mean * (s2 / n)
                   - 3 * mean * mean * mean * mean AS m4
          FROM m
        )
        SELECT event_type, n_points,
               round(mean, 6) AS mean,
               round(CASE WHEN n_points >= 2 AND m2 > 0
                          THEN sqrt(m2) END, 6) AS stddev_pop,
               round(CASE WHEN n_points >= 2 AND m2 > 0
                          THEN m3 / pow(m2, 1.5) END, 6) AS skewness,
               round(CASE WHEN n_points >= 2 AND m2 > 0
                          THEN m4 / (m2 * m2) - 3 END, 6) AS kurtosis_excess
        FROM mm
    """
    sqls["docs_pmi_collocations"] = f"""
        WITH {_BASE},
        uni AS (
          SELECT t, count(*)::BIGINT AS c
          FROM (SELECT unnest(toks) AS t FROM tok) GROUP BY 1
        ),
        ntot AS (SELECT sum(c)::BIGINT AS n FROM uni),
        pos AS (
          SELECT doc_id, unnest(toks) AS token,
                 unnest(range(1, len(toks) + 1)) AS pos
          FROM tok
        ),
        bg AS (
          SELECT a.token AS w1, b.token AS w2, count(*)::BIGINT AS n_pair
          FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          GROUP BY 1, 2 HAVING count(*) >= 10
        ),
        btot AS (
          SELECT sum(len(toks) - 1)::BIGINT AS b FROM tok WHERE len(toks) >= 2
        )
        SELECT w1, w2, n_pair,
               round(ln(n_pair / btot.b * (ntot.n / ca.c) * (ntot.n / cb.c)), 6)
                 AS pmi
        FROM bg
        JOIN uni ca ON ca.t = w1
        JOIN uni cb ON cb.t = w2
        CROSS JOIN ntot CROSS JOIN btot
    """
    sqls["dedup_blocking_quality"] = f"""
        WITH {_DEDUP_BASE}, {_MINHASH_PARAMS_SQL}, {_MINHASH_SIGS_SQL},
        bands AS (
          SELECT doc_id, (i // {dd.LSH_ROWS})::INT AS band,
                 array_to_string(array_agg(sig ORDER BY i), ',') AS key
          FROM sigs GROUP BY doc_id, band
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM bands a JOIN bands b USING (band, key)
          WHERE a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
          FROM shh a JOIN shh b USING (sh)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        truth AS (
          SELECT a_id, b_id FROM inter
          JOIN sizes na ON na.doc_id = a_id
          JOIN sizes nb ON nb.doc_id = b_id
          WHERE n_inter / (na.n_sh + nb.n_sh - n_inter) >= 0.5
        ),
        nd AS (SELECT count(*)::BIGINT AS n FROM documents),
        cnts AS (
          SELECT (SELECT count(*)::BIGINT FROM cand) AS n_candidates,
                 (SELECT count(*)::BIGINT FROM truth) AS n_truth,
                 (SELECT count(*)::BIGINT FROM truth t
                  WHERE EXISTS (SELECT 1 FROM cand c
                                WHERE c.a_id = t.a_id AND c.b_id = t.b_id))
                   AS n_caught
        )
        SELECT n_candidates, n_truth, n_caught,
               CASE WHEN n_truth > 0
                    THEN round(n_caught / n_truth, 9) END
                 AS pairs_completeness,
               round(1.0 - n_candidates / ((nd.n * (nd.n - 1) // 2))::DOUBLE, 9)
                 AS reduction_ratio
        FROM cnts, nd
    """
    _ewma_num = " + ".join(
        f"coalesce(l{j} * {2.0 ** -(j + 1)!r}, 0.0)" for j in range(8)
    )
    _ewma_den = " + ".join(
        f"(CASE WHEN l{j} IS NOT NULL THEN {2.0 ** -(j + 1)!r} ELSE 0.0 END)"
        for j in range(8)
    )
    _ewma_lags = ",\n                 ".join(
        f"lag(value, {j}) OVER w AS l{j}" for j in range(8)
    )
    sqls["events_ewma"] = f"""
        WITH ev AS (
          SELECT event_id, user_id, epoch_us(ts) AS us, value
          FROM events
          WHERE event_type = 'purchase' AND ts IS NOT NULL
            AND value IS NOT NULL
        ),
        lagged AS (
          SELECT event_id, user_id, value,
                 {_ewma_lags}
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        )
        SELECT event_id, user_id, value,
               round(({_ewma_num}) / ({_ewma_den}), 9) AS ewma8
        FROM lagged
    """
    sqls["orders_near_duplicate_amounts"] = """
        SELECT a.o_custkey, a.o_orderkey AS a_id, b.o_orderkey AS b_id,
               a.o_totalprice AS value_a, b.o_totalprice AS value_b,
               round(b.o_totalprice - a.o_totalprice, 9) AS dv
        FROM orders a JOIN orders b
          ON a.o_custkey = b.o_custkey
         AND (a.o_totalprice < b.o_totalprice
              OR (a.o_totalprice = b.o_totalprice
                  AND a.o_orderkey < b.o_orderkey))
         AND b.o_totalprice - a.o_totalprice <= 0.01
        WHERE a.o_totalprice IS NOT NULL AND b.o_totalprice IS NOT NULL
    """
    sqls["orders_price_psi"] = """
        WITH early AS (
          SELECT o_totalprice FROM orders
          WHERE o_orderdate < TIMESTAMP '2000-01-01'
        ),
        late AS (
          SELECT o_totalprice FROM orders
          WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        ),
        cuts AS (
          SELECT list_transform(
                   quantile_cont(o_totalprice,
                     [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                   c -> round(c, 6)) AS cs
          FROM early
        ),
        ea AS (
          SELECT list_sum(list_transform(cs,
                   c -> CASE WHEN o_totalprice > c THEN 1 ELSE 0 END))::INT
                   AS bin
          FROM early, cuts
        ),
        la AS (
          SELECT list_sum(list_transform(cs,
                   c -> CASE WHEN o_totalprice > c THEN 1 ELSE 0 END))::INT
                   AS bin
          FROM late, cuts
        ),
        a AS (SELECT bin, count(*)::BIGINT AS n_early FROM ea GROUP BY 1),
        b AS (SELECT bin, count(*)::BIGINT AS n_late FROM la GROUP BY 1),
        na AS (SELECT count(*)::BIGINT AS v FROM early),
        nb AS (SELECT count(*)::BIGINT AS v FROM late),
        j AS (
          SELECT coalesce(a.bin, b.bin) AS bin,
                 coalesce(n_early, 0)::BIGINT AS n_early,
                 coalesce(n_late, 0)::BIGINT AS n_late
          FROM a FULL JOIN b USING (bin)
        )
        SELECT bin, n_early, n_late,
               round(((n_late + 1) / (nb.v + 10) - (n_early + 1) / (na.v + 10))
                     * ln(((n_late + 1) / (nb.v + 10))
                          / ((n_early + 1) / (na.v + 10))), 6) AS psi_term
        FROM j, na, nb
    """
    sqls["users_weekly_streaks"] = """
        WITH uw AS (
          SELECT DISTINCT user_id,
                 (date_diff('day', DATE '1970-01-05',
                            date_trunc('week', ts)) // 7)::BIGINT AS widx
          FROM events WHERE ts IS NOT NULL
        ),
        isl AS (
          SELECT user_id, widx,
                 widx - row_number() OVER (PARTITION BY user_id
                                           ORDER BY widx) AS g
          FROM uw
        ),
        st AS (
          SELECT user_id, g, count(*)::BIGINT AS len
          FROM isl GROUP BY 1, 2
        )
        SELECT user_id, sum(len)::BIGINT AS n_active_weeks,
               max(len)::BIGINT AS longest_streak
        FROM st GROUP BY 1
    """
    sqls["orders_brand_rules"] = """
        WITH ob AS (
          SELECT DISTINCT l_orderkey, p_brand
          FROM lineitem JOIN part ON p_partkey = l_partkey
        ),
        pairs AS (
          SELECT a.p_brand AS item_a, b.p_brand AS item_b,
                 count(*)::BIGINT AS n_together
          FROM ob a JOIN ob b
            ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
          GROUP BY 1, 2 HAVING count(*) >= 2
        ),
        dirp AS (
          SELECT item_a AS antecedent, item_b AS consequent, n_together
          FROM pairs
          UNION ALL
          SELECT item_b AS antecedent, item_a AS consequent, n_together
          FROM pairs
        ),
        bc AS (SELECT p_brand, count(*)::BIGINT AS n FROM ob GROUP BY 1),
        no AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS v FROM ob)
        SELECT antecedent, consequent, n_together,
               round(n_together / na.n, 9) AS confidence,
               round((n_together / na.n) * no.v / nb.n, 9) AS lift
        FROM dirp
        JOIN bc na ON na.p_brand = antecedent
        JOIN bc nb ON nb.p_brand = consequent
        CROSS JOIN no
    """
    sqls["events_scd2_lookup"] = """
        WITH ordered AS (
          SELECT user_id, event_type, ts, event_id,
                 lag(event_type) OVER w AS prev_type,
                 row_number() OVER w AS rn
          FROM events
          WHERE ts IS NOT NULL
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        changes AS (
          SELECT user_id, event_type, ts, event_id FROM ordered
          WHERE rn = 1 OR prev_type IS DISTINCT FROM event_type
        ),
        hist AS (
          SELECT user_id AS v_user, event_type AS state_at_purchase,
                 epoch_us(ts) AS from_us,
                 epoch_us(lead(ts) OVER w) AS to_us
          FROM changes
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        purch AS (
          SELECT event_id, user_id, epoch_us(ts) AS p_us
          FROM events
          WHERE ts IS NOT NULL AND event_type = 'purchase'
        )
        SELECT event_id, user_id, p_us AS ts_us, state_at_purchase,
               from_us AS valid_from_us
        FROM purch JOIN hist
          ON v_user = user_id
         AND from_us <= p_us AND (to_us IS NULL OR p_us < to_us)
    """
    sqls["docs_lexical_diversity"] = f"""
        WITH {_BASE}
        SELECT doc_id,
               len(toks)::BIGINT AS n_tokens,
               len(list_distinct(toks))::BIGINT AS n_types,
               round(len(list_distinct(toks)) / len(toks), 9) AS ttr,
               round(len(list_filter(list_distinct(toks),
                         t -> len(list_filter(toks, u -> u = t)) = 1))
                     / len(list_distinct(toks)), 9) AS hapax_share
        FROM tok WHERE len(toks) > 0
    """
    sqls["users_burst_rate"] = """
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS us
          FROM events WHERE ts IS NOT NULL
        ),
        per_ev AS (
          SELECT user_id,
                 count(*) OVER (PARTITION BY user_id ORDER BY us
                                RANGE BETWEEN 60000000 PRECEDING
                                      AND CURRENT ROW) AS burst
          FROM ev
        )
        SELECT user_id, count(*)::BIGINT AS n_events,
               max(burst)::BIGINT AS max_burst_60s,
               max(burst) >= 10 AS is_burst
        FROM per_ev GROUP BY 1
    """
    sqls["embeddings_cluster_inertia"] = f"""
        WITH {_EMB_NORM_SQL},
        {_KMEANS_CTES},
        cents AS (SELECT c_id, cv, cn FROM {_KMEANS_FINAL}),
        scored AS (
          SELECT a.vec_id, c_id,
                 round({_emb_dot_sql("a.v", "cv")} / (a.norm * cn), 9) AS cos,
                 row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY round({_emb_dot_sql("a.v", "cv")} / (a.norm * cn), 9) DESC, c_id
                 ) AS rn
          FROM nv a CROSS JOIN cents
        ),
        assign AS (
          SELECT vec_id, c_id AS cluster, cos FROM scored WHERE rn = 1
        )
        SELECT cluster::BIGINT AS cluster,
               count(*)::BIGINT AS n_vectors,
               round(CAST(sum(CAST(cos AS DECIMAL(38,15))) AS DOUBLE)
                     / count(*), 9) AS mean_cos,
               round(min(cos), 9) AS min_cos
        FROM assign GROUP BY 1
    """
    sqls["docs_ngram_coverage"] = f"""
        WITH {_BASE},
        voc AS (SELECT token, count(*)::BIGINT AS n_occ FROM ex GROUP BY 1),
        top AS (
          SELECT token, n_occ,
                 row_number() OVER (ORDER BY n_occ DESC, token) AS rank
          FROM voc ORDER BY n_occ DESC, token LIMIT 1000
        ),
        cum AS (
          SELECT rank, sum(n_occ) OVER (ORDER BY rank
                         ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW)::BIGINT AS c
          FROM top
        ),
        total AS (SELECT sum(len(toks))::BIGINT AS t FROM tok)
        SELECT rank::BIGINT AS top_n, c AS n_occ_covered,
               round(c / total.t, 9) AS coverage
        FROM cum, total
        WHERE rank IN (10, 100, 1000)
    """
    sqls["nation_revenue_share"] = """
        WITH nat AS (
          SELECT r_name, n_name,
                 (round(sum(CAST(o_totalprice AS DECIMAL(28,10))), 4))::DOUBLE
                   AS revenue
          FROM orders
          JOIN customer ON c_custkey = o_custkey
          JOIN nation ON n_nationkey = c_nationkey
          JOIN region ON r_regionkey = n_regionkey
          GROUP BY 1, 2
        ),
        reg AS (
          SELECT r_name AS rr,
                 (round(sum(CAST(revenue AS DECIMAL(28,10))), 4))::DOUBLE
                   AS region_revenue
          FROM nat GROUP BY 1
        )
        SELECT r_name, n_name, revenue, region_revenue,
               round(revenue / region_revenue, 9) AS share
        FROM nat JOIN reg ON rr = r_name
    """
    sqls["event_type_audience_overlap"] = """
        WITH tu AS (
          SELECT DISTINCT event_type, user_id FROM events
          WHERE event_type IS NOT NULL
        ),
        sizes AS (
          SELECT event_type, count(*)::BIGINT AS n FROM tu GROUP BY 1
        ),
        common AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 count(*)::BIGINT AS n_common
          FROM tu a JOIN tu b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY 1, 2
        )
        SELECT type_a, type_b, n_common,
               round(n_common / (na.n + nb.n - n_common), 9) AS jaccard
        FROM common
        JOIN sizes na ON na.event_type = type_a
        JOIN sizes nb ON nb.event_type = type_b
    """
    sqls["events_dow_deseasonalize"] = """
        WITH ev AS (
          SELECT ts::DATE AS day, value FROM events
          WHERE event_type = 'purchase' AND ts IS NOT NULL
            AND value IS NOT NULL
        ),
        daily AS (
          SELECT day, count(*)::BIGINT AS n_events,
                 round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
                       / count(*), 9) AS day_mean,
                 (((date_diff('day', DATE '1970-01-05', day) % 7) + 7) % 7)
                   ::INTEGER AS dow
          FROM ev GROUP BY 1
        ),
        dowm AS (
          SELECT dow,
                 round(CAST(sum(CAST(day_mean AS DECIMAL(38,10))) AS DOUBLE)
                       / count(*), 9) AS dow_mean
          FROM daily GROUP BY 1
        ),
        overall AS (
          SELECT round(CAST(sum(CAST(day_mean AS DECIMAL(38,10))) AS DOUBLE)
                       / count(*), 9) AS global_mean
          FROM daily
        )
        SELECT strftime(day, '%Y-%m-%d') AS day, daily.dow, n_events,
               round(day_mean, 6) AS day_mean,
               round(dow_mean, 6) AS dow_mean,
               round(day_mean - dow_mean + global_mean, 6) AS deseasonalized
        FROM daily JOIN dowm USING (dow), overall
    """
    # Power iteration: 3 unrolled rounds with the SAME per-stage
    # rounding discipline as ann.top_principal_component -- products in
    # fixed-shape doubles, sums in DECIMAL, every stage rounded to 9 dp
    # before the next -- so the iterates match Spark's EXACTLY (the
    # kmeans/pagerank unrolled-CTE pattern).
    _pi_ctes = [
        "vt AS (SELECT [x::DOUBLE for x in embedding] AS v "
        "FROM embeddings WHERE embedding IS NOT NULL)",
        "dd0 AS (SELECT max(len(v)) AS d FROM vt)",
        "p0 AS (SELECT list_transform(range(1, dd0.d + 1), "
        "j -> round(1.0 / sqrt(dd0.d::DOUBLE), 9)) AS vv FROM dd0)",
    ]
    for _k in (1, 2, 3):
        _pi_ctes.append(f"""
        s{_k} AS (
          SELECT round({_emb_dot_sql("a.v", "p.vv")}, 9) AS s, a.v
          FROM vt a CROSS JOIN p{_k - 1} p
        ),
        t{_k} AS (
          SELECT unnest(range(0, len(v))) AS pos, unnest(v) AS val, s
          FROM s{_k}
        ),
        w{_k} AS (
          SELECT pos,
                 round(CAST(sum(CAST(val * s AS DECIMAL(38,15))) AS DOUBLE),
                       9) AS w
          FROM t{_k} GROUP BY 1
        ),
        n{_k} AS (
          SELECT CAST(sum(CAST(w * w AS DECIMAL(38,18))) AS DOUBLE) AS n2
          FROM w{_k}
        ),
        c{_k} AS (
          SELECT pos, round(w / sqrt(n2), 9) AS component FROM w{_k}, n{_k}
        ),
        p{_k} AS (SELECT list(component ORDER BY pos) AS vv FROM c{_k})""")
    sqls["embeddings_pca_power"] = (
        "WITH " + ",\n".join(_pi_ctes)
        + "\nSELECT pos::BIGINT AS pos, component FROM c3"
    )
    _rm_dot_u = _emb_dot_sql("ve.v", "u.uu")
    _rm_dot_v = _emb_dot_sql("ve.v", "ve.v")
    sqls["embeddings_remove_top_component"] = (
        "WITH " + ",\n".join(_pi_ctes)
        + f""",
        u AS (SELECT list(component ORDER BY pos) AS uu FROM c3),
        ve AS (
          SELECT vec_id, [x::DOUBLE for x in embedding] AS v
          FROM embeddings
        )
        SELECT vec_id,
               round({_rm_dot_u}, 9) AS proj,
               round(sqrt({_rm_dot_v}), 6) AS norm_before,
               round(sqrt(greatest(
                 {_rm_dot_v} - round({_rm_dot_u}, 9) * round({_rm_dot_u}, 9),
                 0.0)), 6) AS norm_after
        FROM ve CROSS JOIN u
    """
    )
    sqls["customers_acctbal_gini"] = """
        WITH rk AS (
          SELECT c_acctbal,
                 row_number() OVER (ORDER BY c_acctbal, c_custkey) AS rk
          FROM customer
        ),
        agg AS (
          SELECT count(*)::BIGINT AS n,
                 sum(CAST(c_acctbal AS DECIMAL(38,10))) AS s0d,
                 sum(CAST(rk * c_acctbal AS DECIMAL(38,10))) AS s1d
          FROM rk
        )
        SELECT n AS n_customers,
               round(s0d::DOUBLE, 4) AS total_balance,
               round(2 * s1d::DOUBLE / (n::DOUBLE * s0d::DOUBLE)
                     - (n::DOUBLE + 1) / n::DOUBLE, 9) AS gini
        FROM agg
    """
    sqls["events_peak_concurrency"] = """
        WITH ev AS (
          SELECT ts::DATE AS day, epoch_us(ts) AS s
          FROM events WHERE ts IS NOT NULL
        ),
        del AS (
          SELECT day, s AS t, 1 AS d FROM ev
          UNION ALL
          SELECT day,
                 least(s + 300000000,
                       epoch_us((day + 1)::TIMESTAMP)) AS t,
                 -1 AS d
          FROM ev
        ),
        run AS (
          SELECT day,
                 sum(d) OVER (PARTITION BY day ORDER BY t, d
                              ROWS UNBOUNDED PRECEDING) AS c
          FROM del
        )
        SELECT strftime(day, '%Y-%m-%d') AS day,
               (count(*) / 2)::BIGINT AS n_intervals,
               max(c)::BIGINT AS peak_concurrency
        FROM run GROUP BY 1
    """
    sqls["events_conversion_survival"] = """
        WITH ev AS (SELECT * FROM events WHERE ts IS NOT NULL),
        v0 AS (
          SELECT user_id, min(ts) AS t0 FROM ev
          WHERE event_type = 'view' GROUP BY 1
        ),
        p1 AS (
          SELECT e.user_id, min(e.ts) AS t1
          FROM ev e JOIN v0 USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > v0.t0
          GROUP BY 1
        ),
        hz AS (SELECT max(ts::DATE) AS h FROM ev),
        pu AS (
          SELECT (CASE WHEN t1 IS NOT NULL
                       THEN date_diff('day', t0::DATE, t1::DATE)
                       ELSE date_diff('day', t0::DATE, h) END)::BIGINT
                   AS dur_day,
                 t1 IS NOT NULL AS conv
          FROM v0 LEFT JOIN p1 USING (user_id) CROSS JOIN hz
        ),
        daily AS (
          SELECT dur_day,
                 sum(CASE WHEN conv THEN 1 ELSE 0 END)::BIGINT AS n_converted,
                 sum(CASE WHEN conv THEN 0 ELSE 1 END)::BIGINT AS n_censored
          FROM pu GROUP BY 1
        ),
        tot AS (SELECT count(*)::BIGINT AS n FROM pu),
        ar AS (
          SELECT dur_day, n_converted, n_censored,
                 (tot.n - coalesce(sum(n_converted + n_censored)
                    OVER (ORDER BY dur_day ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0))::BIGINT AS n_at_risk
          FROM daily, tot
        )
        SELECT dur_day, n_at_risk, n_converted, n_censored,
               round(CASE WHEN min(1.0 - n_converted / n_at_risk)
                            OVER w > 0
                          THEN exp(sum(ln(CASE WHEN
                                 1.0 - n_converted / n_at_risk > 0
                                 THEN 1.0 - n_converted / n_at_risk
                                 ELSE 1.0 END)) OVER w)
                          ELSE 0.0 END, 6) AS survival
        FROM ar
        WINDOW w AS (ORDER BY dur_day ROWS UNBOUNDED PRECEDING)
    """
    sqls["docs_zipf_fit"] = f"""
        WITH {_BASE},
        voc AS (SELECT token, count(*)::BIGINT AS n_occ FROM ex GROUP BY 1),
        top AS (
          SELECT token, n_occ,
                 row_number() OVER (ORDER BY n_occ DESC, token) AS rank
          FROM voc ORDER BY n_occ DESC, token LIMIT 100
        ),
        pts AS (
          SELECT round(ln(rank::DOUBLE), 9) AS x,
                 round(ln(n_occ::DOUBLE), 9) AS y
          FROM top
        ),
        m AS (
          SELECT count(*)::BIGINT AS n_points,
                 sum(CAST(x AS DECIMAL(38,10))) AS sxd,
                 sum(CAST(y AS DECIMAL(38,10))) AS syd,
                 sum(CAST(x AS DECIMAL(38,10)) * CAST(y AS DECIMAL(38,10))) AS sxyd,
                 sum(CAST(x AS DECIMAL(38,10)) * CAST(x AS DECIMAL(38,10))) AS sxxd,
                 sum(CAST(y AS DECIMAL(38,10)) * CAST(y AS DECIMAL(38,10))) AS syyd
          FROM pts
        ),
        d AS (
          SELECT n_points, n_points::DOUBLE AS n, sxd::DOUBLE AS sx,
                 syd::DOUBLE AS sy, sxyd::DOUBLE AS sxy,
                 sxxd::DOUBLE AS sxx, syyd::DOUBLE AS syy
          FROM m
        ),
        c AS (
          SELECT n_points, n, sx, sy,
                 n * sxy - sx * sy AS cov,
                 n * sxx - sx * sx AS varx,
                 n * syy - sy * sy AS vary
          FROM d
        ),
        s AS (
          SELECT n_points, n, sx, sy, cov, varx, vary,
                 CASE WHEN n_points >= 2 AND varx <> 0
                      THEN cov / varx END AS slope
          FROM c
        )
        SELECT 'corpus' AS corpus, n_points,
               round(slope, 6) AS slope,
               round((sy - slope * sx) / n, 6) AS intercept,
               CASE WHEN slope IS NOT NULL AND vary <> 0
                    THEN round((cov * cov) / (varx * vary), 6) END AS r2
        FROM s
    """
    sqls["events_daily_acf"] = """
        WITH daily AS (
          SELECT ts::DATE AS day, count(*)::BIGINT AS x
          FROM events WHERE ts IS NOT NULL GROUP BY 1
        ),
        base AS (
          SELECT count(*)::BIGINT AS n,
                 sum(CAST(x AS DECIMAL(18,0))) AS sx,
                 sum(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0)))
                   AS sxx
          FROM daily
        ),
        lags AS (SELECT unnest(range(1, 8)) AS lag),
        pairs AS (
          SELECT l.lag, d1.x AS x1, d2.x AS x2
          FROM daily d1 CROSS JOIN lags l
          JOIN daily d2 ON d2.day = d1.day + l.lag::INT
        ),
        per AS (
          SELECT lag, count(*)::BIGINT AS n_pairs,
                 sum(CAST(x1 AS DECIMAL(18,0))) AS sh,
                 sum(CAST(x2 AS DECIMAL(18,0))) AS st,
                 sum(CAST(x1 AS DECIMAL(18,0)) * CAST(x2 AS DECIMAL(18,0)))
                   AS sxy
          FROM pairs GROUP BY 1
        )
        SELECT lag::INT AS lag, n_pairs,
               round(CASE WHEN sxx::DOUBLE - n::DOUBLE * (sx::DOUBLE / n::DOUBLE)
                              * (sx::DOUBLE / n::DOUBLE) > 0
                     THEN (sxy::DOUBLE
                           - (sx::DOUBLE / n::DOUBLE) * (sh::DOUBLE + st::DOUBLE)
                           + n_pairs::DOUBLE * (sx::DOUBLE / n::DOUBLE)
                             * (sx::DOUBLE / n::DOUBLE))
                          / (sxx::DOUBLE - n::DOUBLE * (sx::DOUBLE / n::DOUBLE)
                             * (sx::DOUBLE / n::DOUBLE))
                     END, 9) AS acf
        FROM per CROSS JOIN base
    """
    sqls["docs_length_ks"] = """
        WITH d AS (
          SELECT n_chars,
                 (CAST(substr(source, 4) AS INT) % 2 = 0) AS is_a
          FROM documents WHERE n_chars IS NOT NULL
        ),
        per AS (
          SELECT n_chars,
                 sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS ca,
                 sum(CASE WHEN is_a THEN 0 ELSE 1 END)::BIGINT AS cb
          FROM d GROUP BY 1
        ),
        cum AS (
          SELECT n_chars,
                 CAST(sum(ca) OVER w AS DECIMAL(18,0)) AS cuma,
                 CAST(sum(cb) OVER w AS DECIMAL(18,0)) AS cumb
          FROM per
          WINDOW w AS (ORDER BY n_chars ROWS UNBOUNDED PRECEDING)
        ),
        tot AS (
          SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b FROM per
        )
        SELECT n_a, n_b,
               round(abs(cuma * CAST(n_b AS DECIMAL(18,0))
                         - cumb * CAST(n_a AS DECIMAL(18,0)))::DOUBLE
                     / (n_a::DOUBLE * n_b::DOUBLE), 9) AS ks_stat,
               n_chars AS ks_at_n_chars
        FROM cum CROSS JOIN tot
        ORDER BY abs(cuma * CAST(n_b AS DECIMAL(18,0))
                     - cumb * CAST(n_a AS DECIMAL(18,0))) DESC,
                 n_chars ASC
        LIMIT 1
    """
    sqls["dedup_assortativity"] = f"""
        WITH {_DEDUP_BASE},
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS n_inter
          FROM shh a JOIN shh b USING (sh)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        und AS (
          SELECT x, y FROM inter
          JOIN sizes na ON na.doc_id = x
          JOIN sizes nb ON nb.doc_id = y
          WHERE n_inter / (na.n_sh + nb.n_sh - n_inter) >= 0.05
        ),
        deg AS (
          SELECT n, count(*)::BIGINT AS deg
          FROM (SELECT x AS n FROM und UNION ALL SELECT y FROM und)
          GROUP BY n
        ),
        dir AS (
          SELECT x AS s, y AS t FROM und
          UNION ALL SELECT y AS s, x AS t FROM und
        ),
        lab AS (
          SELECT ds.deg AS dx, dt.deg AS dy
          FROM dir
          JOIN deg ds ON ds.n = dir.s
          JOIN deg dt ON dt.n = dir.t
        ),
        mom AS (
          SELECT count(*)::BIGINT AS m,
                 sum(CAST(dx AS DECIMAL(18,0))) AS sx,
                 sum(CAST(dy AS DECIMAL(18,0))) AS sy,
                 sum(CAST(dx AS DECIMAL(18,0)) * CAST(dy AS DECIMAL(18,0)))
                   AS sxy,
                 sum(CAST(dx AS DECIMAL(18,0)) * CAST(dx AS DECIMAL(18,0)))
                   AS sxx,
                 sum(CAST(dy AS DECIMAL(18,0)) * CAST(dy AS DECIMAL(18,0)))
                   AS syy
          FROM lab
        ),
        cnt AS (
          SELECT (SELECT count(*)::BIGINT FROM deg) AS n_nodes,
                 (SELECT count(*)::BIGINT FROM und) AS n_edges
        )
        SELECT n_nodes, n_edges,
               round(CASE WHEN m::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0
                           AND m::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE > 0
                     THEN (m::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                          / sqrt((m::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                                 * (m::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
                     END, 9) AS assortativity
        FROM mom CROSS JOIN cnt
    """
    sqls["orders_interpurchase_dist"] = """
        WITH g AS (
          SELECT o_custkey,
                 date_diff('day',
                   lag(o_orderdate::DATE) OVER (
                     PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey),
                   o_orderdate::DATE)::BIGINT AS gap
          FROM orders
        ),
        gb AS (
          SELECT c_mktsegment, gap,
                 CASE WHEN gap <= 7 THEN '0-7'
                      WHEN gap <= 30 THEN '8-30'
                      WHEN gap <= 90 THEN '31-90'
                      ELSE '90+' END AS gap_bucket
          FROM g JOIN customer ON o_custkey = c_custkey
          WHERE gap IS NOT NULL
        ),
        per AS (
          SELECT c_mktsegment, gap_bucket, count(*)::BIGINT AS n_gaps,
                 CAST(sum(gap) AS DECIMAL(18,0)) AS sg
          FROM gb GROUP BY 1, 2
        ),
        seg AS (
          SELECT c_mktsegment, sum(n_gaps)::BIGINT AS tot
          FROM per GROUP BY 1
        )
        SELECT per.c_mktsegment, gap_bucket, n_gaps,
               round(n_gaps::DOUBLE / tot::DOUBLE, 9) AS share,
               round(sg::DOUBLE / n_gaps::DOUBLE, 9) AS mean_gap_days
        FROM per JOIN seg USING (c_mktsegment)
    """
    sqls["events_chisq_type_dow"] = """
        WITH ev AS (
          SELECT event_type,
                 (((date_diff('day', DATE '1970-01-05', ts::DATE) % 7) + 7)
                   % 7)::INT AS dow
          FROM events WHERE ts IS NOT NULL
        ),
        cells AS (
          SELECT event_type, dow, count(*)::BIGINT AS n FROM ev GROUP BY 1, 2
        ),
        rt AS (SELECT event_type, sum(n)::BIGINT AS rtot FROM cells GROUP BY 1),
        ct AS (SELECT dow, sum(n)::BIGINT AS ctot FROM cells GROUP BY 1),
        tot AS (SELECT sum(n)::BIGINT AS nt FROM cells),
        j AS (
          SELECT cells.event_type, cells.dow, cells.n, rtot, ctot, nt
          FROM cells JOIN rt USING (event_type) JOIN ct USING (dow)
          CROSS JOIN tot
        )
        SELECT count(*)::BIGINT AS n_cells,
               max(nt)::BIGINT AS n_total,
               ((count(DISTINCT event_type) - 1)
                * (count(DISTINCT dow) - 1))::BIGINT AS dof,
               round(CAST(sum(CAST(round(
                 (n::DOUBLE - rtot::DOUBLE * ctot::DOUBLE / nt::DOUBLE)
                 * (n::DOUBLE - rtot::DOUBLE * ctot::DOUBLE / nt::DOUBLE)
                 / (rtot::DOUBLE * ctot::DOUBLE / nt::DOUBLE), 9)
                 AS DECIMAL(38,10))) AS DOUBLE), 6) AS chi2
        FROM j
    """
    sqls["brand_supplier_hhi"] = """
        WITH li AS (
          SELECT p_brand, l_suppkey,
                 CAST(l_extendedprice * (1.0 - l_discount)
                      AS DECIMAL(38,10)) AS rev
          FROM lineitem JOIN part ON l_partkey = p_partkey
        ),
        bs AS (
          SELECT p_brand, l_suppkey,
                 round(CAST(sum(rev) AS DOUBLE), 4) AS rev_s
          FROM li GROUP BY 1, 2
        ),
        bt AS (
          SELECT p_brand,
                 CAST(sum(CAST(rev_s AS DECIMAL(38,10))) AS DOUBLE) AS tot
          FROM bs GROUP BY 1
        )
        SELECT p_brand,
               count(*)::BIGINT AS n_suppliers,
               round(max(tot), 4) AS brand_revenue,
               round(CAST(sum(CAST(round((rev_s / tot) * (rev_s / tot), 12)
                 AS DECIMAL(38,18))) AS DOUBLE), 9) AS hhi,
               round(max(rev_s / tot), 9) AS top_share
        FROM bs JOIN bt USING (p_brand)
        GROUP BY 1
    """
    # MMR: the greedy selection replays as five unrolled MATERIALIZED
    # picks -- each pick k excludes the first k-1 picks and scores
    # 0.7*rel - 0.3*max(pairwise cosine to them), exactly the driver
    # loop's arithmetic over the same 9-dp-rounded sims.
    _mmr_picks = []
    for k in range(1, _MMR_K + 1):
        if k == 1:
            _mmr_picks.append(
                """p1 AS MATERIALIZED (
          SELECT vec_id, v, norm, rel, 0.7 * rel AS score
          FROM cand ORDER BY score DESC, vec_id LIMIT 1
        )"""
            )
            continue
        prev = "\n              UNION ALL ".join(
            f"SELECT vec_id, v, norm FROM p{i}" for i in range(1, k)
        )
        _mmr_picks.append(
            f"""p{k} AS MATERIALIZED (
          SELECT c.vec_id, c.v, c.norm, c.rel,
                 0.7 * c.rel - 0.3 * (
                   SELECT max(round({_emb_dot_sql("c.v", "s.v")}
                                    / (c.norm * s.norm), 9))
                   FROM ({prev}) s
                 ) AS score
          FROM cand c
          WHERE c.vec_id NOT IN (SELECT vec_id FROM ({prev}))
          ORDER BY score DESC, c.vec_id LIMIT 1
        )"""
        )
    _mmr_final = "\n        UNION ALL ".join(
        f"SELECT {k} AS rank, vec_id, rel AS relevance,"
        f" round(score, 6) AS mmr_score FROM p{k}"
        for k in range(1, _MMR_K + 1)
    )
    sqls["embeddings_mmr_topk"] = f"""
        WITH {_EMB_NORM_SQL},
        q AS MATERIALIZED (
          SELECT vec_id AS q_id, v AS qv, norm AS qn FROM nv
          WHERE vec_id = (SELECT min(vec_id) FROM nv)
        ),
        cand AS MATERIALIZED (
          SELECT nv.vec_id, nv.v, nv.norm,
                 round({_emb_dot_sql("nv.v", "q.qv")}
                       / (q.qn * nv.norm), 9) AS rel
          FROM nv CROSS JOIN q
          WHERE nv.vec_id <> q.q_id
          ORDER BY rel DESC, nv.vec_id LIMIT {_MMR_POOL}
        ),
        {",".join(_mmr_picks)}
        {_mmr_final}
    """
    sqls["events_cusum_changepoint"] = """
        WITH daily AS (
          SELECT ts::DATE AS day, count(*)::BIGINT AS x
          FROM events WHERE ts IS NOT NULL GROUP BY 1
        ),
        tot AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx FROM daily),
        cum AS (
          SELECT day,
                 sum(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)::BIGINT
                   AS cum,
                 row_number() OVER (ORDER BY day)::BIGINT AS t
          FROM daily
        ),
        scored AS (
          SELECT n, day,
                 round(abs(cum::DOUBLE
                           - t::DOUBLE * (sx::DOUBLE / n::DOUBLE)), 9) AS dev
          FROM cum CROSS JOIN tot
        )
        SELECT n AS n_days,
               strftime(day, '%Y-%m-%d') AS changepoint_day,
               dev AS max_abs_cusum
        FROM scored ORDER BY dev DESC, day ASC LIMIT 1
    """
    sqls["docs_token_entropy"] = f"""
        WITH {_BASE},
        cnt AS (
          SELECT doc_id, token, count(*)::BIGINT AS c FROM ex GROUP BY 1, 2
        ),
        tot AS (
          SELECT doc_id, sum(c)::BIGINT AS n_tokens,
                 count(*)::BIGINT AS n_types
          FROM cnt GROUP BY 1
        ),
        t AS (
          SELECT cnt.doc_id, n_tokens, n_types,
                 CAST((c::DOUBLE / n_tokens::DOUBLE)
                      * round(ln(c::DOUBLE / n_tokens::DOUBLE), 9)
                      AS DECIMAL(38,10)) AS term
          FROM cnt JOIN tot USING (doc_id)
        ),
        e AS (
          SELECT doc_id, n_tokens, n_types,
                 round(CAST(-sum(term) AS DOUBLE), 6) AS entropy
          FROM t GROUP BY 1, 2, 3
        )
        SELECT doc_id, n_tokens, n_types, entropy,
               CASE WHEN n_types > 1
                    THEN round(entropy / round(ln(n_types::DOUBLE), 9), 6)
               END AS norm_entropy
        FROM e
    """
    # The window decomposition must equal the quadratic NOT-EXISTS
    # skyline definition -- the oracle IS that definition.
    sqls["customers_pareto_front"] = """
        WITH stats AS (
          SELECT o_custkey AS custkey, count(*)::BIGINT AS n_orders,
                 round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10)))
                       AS DOUBLE), 4) AS total_spend
          FROM orders GROUP BY 1
        )
        SELECT s.custkey, s.n_orders, s.total_spend
        FROM stats s
        WHERE NOT EXISTS (
          SELECT 1 FROM stats o
          WHERE o.n_orders >= s.n_orders
            AND o.total_spend >= s.total_spend
            AND (o.n_orders > s.n_orders OR o.total_spend > s.total_spend)
        )
    """
    sqls["sessions_bounce_rate"] = """
        WITH e AS (
          SELECT user_id, event_id, value, epoch_ns(ts) // 1000 AS tus
          FROM events
        ),
        m AS (
          SELECT *, CASE WHEN lag(tus) OVER w IS NULL
                          OR tus - lag(tus) OVER w > 1800000000
                     THEN 1 ELSE 0 END AS is_new
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
        ),
        s AS (
          SELECT *, sum(is_new) OVER (
            PARTITION BY user_id ORDER BY tus, event_id
            ROWS UNBOUNDED PRECEDING
          ) AS session_idx FROM m
        ),
        sess AS (
          SELECT user_id, session_idx,
                 min(tus) AS start_us, max(tus) AS end_us,
                 count(*)::BIGINT AS n_events
          FROM s GROUP BY 1, 2
        ),
        d AS (
          SELECT strftime(make_timestamp(start_us), '%Y-%m-%d') AS day,
                 count(*)::BIGINT AS n_sessions,
                 sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)::BIGINT
                   AS n_bounce,
                 CAST(sum(end_us - start_us) AS DECIMAL(18,0)) AS dur
          FROM sess GROUP BY 1
        )
        SELECT day, n_sessions, n_bounce,
               round(n_bounce::DOUBLE / n_sessions::DOUBLE, 9) AS bounce_rate,
               round(dur::DOUBLE / n_sessions::DOUBLE / 1000000.0, 6)
                 AS mean_duration_s
        FROM d
    """
    sqls["sources_similarity_matrix"] = f"""
        WITH {_BASE},
        dsrc AS (SELECT doc_id, source FROM documents),
        nsrc AS (SELECT source, count(*)::BIGINT AS nd FROM dsrc GROUP BY 1),
        cent AS (
          SELECT source, token,
                 round(CAST(sum(CAST(weight AS DECIMAL(38,10))) AS DOUBLE)
                       / nd::DOUBLE, 9) AS m
          FROM w JOIN dsrc USING (doc_id) JOIN nsrc USING (source)
          GROUP BY source, token, nd
        ),
        nrm AS (
          SELECT source, sum(CAST(m * m AS DECIMAL(38,18))) AS n2
          FROM cent GROUP BY 1
        ),
        dots AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 count(*)::BIGINT AS n_common_tokens,
                 sum(CAST(a.m * b.m AS DECIMAL(38,18))) AS dot
          FROM cent a JOIN cent b USING (token)
          WHERE a.source < b.source
          GROUP BY 1, 2
        )
        SELECT source_a, source_b, n_common_tokens,
               round(dot::DOUBLE
                     / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)), 6)
                 AS cosine
        FROM dots
        JOIN nrm na ON na.source = source_a
        JOIN nrm nb ON nb.source = source_b
    """
    # BFS: each hop replays as an unrolled frontier/reached CTE pair --
    # exact set algebra, so levels are proven, not trusted. MATERIALIZED:
    # each hop reads the previous frontier AND reached set, so inlined
    # CTEs re-expand every earlier hop (and the shingle self-join under
    # `und`) exponentially -- 150 s at sf0.001 instead of 1 s.
    _bfs_levels_sql = []
    for h in range(1, 5):
        _bfs_levels_sql.append(
            f"""l{h} AS MATERIALIZED (
          SELECT DISTINCT t AS node FROM dirE JOIN l{h-1} ON s = l{h-1}.node
          WHERE t NOT IN (SELECT node FROM r{h-1})
        ),
        r{h} AS MATERIALIZED (
          SELECT node FROM r{h-1} UNION ALL SELECT node FROM l{h}
        )"""
        )
    sqls["dedup_bfs_depths"] = f"""
        WITH {_DEDUP_BASE},
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS n_inter
          FROM shh a JOIN shh b USING (sh)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        und AS MATERIALIZED (
          SELECT x, y FROM inter
          JOIN sizes na ON na.doc_id = x
          JOIN sizes nb ON nb.doc_id = y
          WHERE n_inter / (na.n_sh + nb.n_sh - n_inter) >= 0.05
        ),
        deg AS (
          SELECT n, count(*)::BIGINT AS deg
          FROM (SELECT x AS n FROM und UNION ALL SELECT y FROM und)
          GROUP BY n
        ),
        seed AS (SELECT n FROM deg ORDER BY deg DESC, n LIMIT 1),
        dirE AS (
          SELECT x AS s, y AS t FROM und
          UNION ALL SELECT y AS s, x AS t FROM und
        ),
        l0 AS (SELECT n AS node FROM seed),
        r0 AS (SELECT node FROM l0),
        {",".join(_bfs_levels_sql)},
        lvl AS (
          SELECT 0 AS dist, count(*)::BIGINT AS n_nodes FROM l0
          UNION ALL SELECT 1, count(*)::BIGINT FROM l1
          UNION ALL SELECT 2, count(*)::BIGINT FROM l2
          UNION ALL SELECT 3, count(*)::BIGINT FROM l3
          UNION ALL SELECT 4, count(*)::BIGINT FROM l4
        ),
        unr AS (
          SELECT -1 AS dist,
                 ((SELECT count(*) FROM deg)
                  - (SELECT count(*) FROM r4))::BIGINT AS n_nodes
        )
        SELECT dist::INT AS dist, n_nodes FROM (
          SELECT * FROM lvl WHERE n_nodes > 0
          UNION ALL SELECT * FROM unr
        )
    """
    sqls["embeddings_knn_hubness"] = f"""
        WITH {_EMB_NORM_SQL},
        scored AS (
          SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                 round({_emb_dot_sql("q.v", "c.v")}
                       / (q.norm * c.norm), 9) AS cos
          FROM nv q CROSS JOIN nv c WHERE c.vec_id <> q.vec_id
        ),
        ranked AS (
          SELECT q_id, n_id,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, n_id) AS rank
          FROM scored
        ),
        indeg AS (
          SELECT n_id, count(*)::BIGINT AS ind
          FROM ranked WHERE rank <= {ANN_K} GROUP BY 1
        )
        SELECT e.vec_id, coalesce(ind, 0)::BIGINT AS in_degree
        FROM embeddings e LEFT JOIN indeg ON indeg.n_id = e.vec_id
    """
    _ri_legs_sql = []
    for name, child_tbl, child_key, parent_tbl, parent_key in [
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        (
            "lineitem->supplier",
            "lineitem",
            "l_suppkey",
            "supplier",
            "s_suppkey",
        ),
        ("events->customer", "events", "user_id", "customer", "c_custkey"),
    ]:
        _ri_legs_sql.append(
            f"""SELECT '{name}' AS relationship,
                 count(*)::BIGINT AS n_child,
                 sum(CASE WHEN p.{parent_key} IS NULL THEN 1 ELSE 0 END)
                   ::BIGINT AS n_orphans
          FROM {child_tbl} c
          LEFT JOIN (SELECT DISTINCT {parent_key} FROM {parent_tbl}) p
            ON c.{child_key} = p.{parent_key}"""
        )
    sqls["referential_integrity_audit"] = f"""
        SELECT relationship, n_child, n_orphans,
               round(n_orphans::DOUBLE / n_child::DOUBLE, 9) AS orphan_rate
        FROM ({" UNION ALL ".join(_ri_legs_sql)})
    """
    sqls["cohort_ltv"] = """
        WITH o AS (
          SELECT o_custkey, year(o_orderdate)::INT AS yr,
                 CAST(o_totalprice AS DECIMAL(38,10)) AS p
          FROM orders
        ),
        fo AS (SELECT o_custkey, min(yr) AS cohort_year FROM o GROUP BY 1),
        cells AS (
          SELECT cohort_year, (yr - cohort_year) AS age_years,
                 count(DISTINCT o.o_custkey)::BIGINT AS n_active,
                 round(CAST(sum(p) AS DOUBLE), 4) AS rev
          FROM o JOIN fo USING (o_custkey)
          GROUP BY 1, 2
        ),
        csize AS (
          SELECT cohort_year, count(*)::BIGINT AS nc FROM fo GROUP BY 1
        ),
        cum AS (
          SELECT cohort_year, age_years, n_active,
                 CAST(sum(CAST(rev AS DECIMAL(38,10))) OVER (
                   PARTITION BY cohort_year ORDER BY age_years
                   ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS c
          FROM cells
        )
        SELECT cohort_year, age_years::INT AS age_years, n_active,
               round(c, 4) AS cum_revenue,
               round(c / nc::DOUBLE, 6) AS ltv_per_customer
        FROM cum JOIN csize USING (cohort_year)
    """
    sqls["orders_price_qq"] = """
        WITH early AS (
          SELECT o_totalprice FROM orders
          WHERE o_orderdate < TIMESTAMP '2000-01-01'
        ),
        late AS (
          SELECT o_totalprice FROM orders
          WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        ),
        ce AS (
          SELECT list_transform(
                   quantile_cont(o_totalprice,
                     [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                   c -> round(c, 6)) AS cs
          FROM early
        ),
        cl AS (
          SELECT list_transform(
                   quantile_cont(o_totalprice,
                     [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                   c -> round(c, 6)) AS cs
          FROM late
        )
        SELECT round(i * 0.1, 1) AS quantile,
               ce.cs[i] AS q_early,
               cl.cs[i] AS q_late,
               round(cl.cs[i] / ce.cs[i], 6) AS qq_ratio
        FROM ce, cl, (SELECT unnest(range(1, 10)) AS i)
    """
    sqls["dedup_medoid_reps"] = f"""
        WITH {_DEDUP_BASE},
        ssz AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS n_inter
          FROM shh a JOIN shh b USING (sh)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        jp AS (
          SELECT x AS a_id, y AS b_id,
                 n_inter / (na.n_sh + nb.n_sh - n_inter) AS j
          FROM inter
          JOIN ssz na ON na.doc_id = x
          JOIN ssz nb ON nb.doc_id = y
        ),
        cl AS (
          SELECT doc_id, keep_id FROM ({sqls["dedup_near_clusters"]})
        ),
        sym AS (
          SELECT a_id AS mm, b_id AS oo, j FROM jp
          UNION ALL SELECT b_id AS mm, a_id AS oo, j FROM jp
        ),
        insums AS (
          SELECT cm.keep_id, sym.mm,
                 sum(CAST(round(j, 9) AS DECIMAL(38,18))) AS sj
          FROM sym
          JOIN cl cm ON cm.doc_id = sym.mm
          JOIN cl co ON co.doc_id = sym.oo
          WHERE cm.keep_id = co.keep_id
          GROUP BY 1, 2
        ),
        csz AS (
          SELECT keep_id, count(*)::BIGINT AS cluster_size FROM cl GROUP BY 1
        ),
        members AS (
          SELECT cl.keep_id, csz.cluster_size, cl.doc_id,
                 CASE WHEN cluster_size > 1
                      THEN coalesce(sj::DOUBLE, 0.0)
                           / (cluster_size - 1)::DOUBLE
                 END AS avgj
          FROM cl
          JOIN csz USING (keep_id)
          LEFT JOIN insums
            ON insums.keep_id = cl.keep_id AND insums.mm = cl.doc_id
        )
        SELECT keep_id, cluster_size, doc_id AS medoid_id,
               round(avgj, 6) AS medoid_avg_sim
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY keep_id
            ORDER BY coalesce(avgj, 0.0) DESC, doc_id) AS rn
          FROM members
        ) WHERE rn = 1
    """
    sqls["nation_revenue_forecast_backtest"] = """
        WITH o AS (
          SELECT o_custkey, year(o_orderdate)::INT AS yr,
                 CAST(o_totalprice AS DECIMAL(38,10)) AS p
          FROM orders
        ),
        cells AS (
          SELECT n_name, yr, round(CAST(sum(p) AS DOUBLE), 4) AS rev
          FROM o
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY 1, 2
        ),
        pts AS (
          SELECT n_name, (yr - 1995)::DOUBLE AS x, rev AS y
          FROM cells WHERE yr < 1998
        ),
        m AS (
          SELECT n_name, count(*)::BIGINT AS n_points,
                 sum(CAST(x AS DECIMAL(38,10))) AS sxd,
                 sum(CAST(y AS DECIMAL(38,10))) AS syd,
                 sum(CAST(x AS DECIMAL(38,10)) * CAST(y AS DECIMAL(38,10))) AS sxyd,
                 sum(CAST(x AS DECIMAL(38,10)) * CAST(x AS DECIMAL(38,10))) AS sxxd,
                 sum(CAST(y AS DECIMAL(38,10)) * CAST(y AS DECIMAL(38,10))) AS syyd
          FROM pts GROUP BY 1
        ),
        d AS (
          SELECT n_name, n_points, n_points::DOUBLE AS n, sxd::DOUBLE AS sx,
                 syd::DOUBLE AS sy, sxyd::DOUBLE AS sxy,
                 sxxd::DOUBLE AS sxx, syyd::DOUBLE AS syy
          FROM m
        ),
        c AS (
          SELECT n_name, n_points, n, sx, sy,
                 n * sxy - sx * sy AS cov,
                 n * sxx - sx * sx AS varx
          FROM d
        ),
        s AS (
          SELECT n_name, n_points, n, sx, sy,
                 CASE WHEN n_points >= 2 AND varx <> 0
                      THEN cov / varx END AS slope
          FROM c
        ),
        f AS (
          SELECT n_name, n_points,
                 round(slope, 6) AS slope,
                 round((sy - slope * sx) / n, 6) AS intercept
          FROM s WHERE slope IS NOT NULL
        )
        SELECT f.n_name, n_points, slope, intercept,
               round(slope * 3.0 + intercept, 4) AS forecast_1998,
               a.rev AS actual_1998,
               round(abs(round(slope * 3.0 + intercept, 4) - a.rev)
                     / a.rev, 6) AS ape
        FROM f
        JOIN (SELECT n_name, rev FROM cells WHERE yr = 1998) a
          USING (n_name)
    """
    sqls["docs_feature_hash"] = f"""
        WITH {_BASE},
        hx AS (
          SELECT doc_id, {string_hash31_sql("token")} AS h FROM ex
        )
        SELECT doc_id, (h % 64)::INT AS bucket,
               sum(CASE WHEN ((h >> 6) & 1) = 0 THEN 1 ELSE -1 END)::BIGINT
                 AS fh_value
        FROM hx GROUP BY 1, 2
    """
    sqls["users_wow_retention"] = """
        WITH uw AS (
          SELECT DISTINCT user_id,
                 (date_diff('day', DATE '1970-01-05',
                            date_trunc('week', ts)::DATE) / 7)::BIGINT
                   AS widx
          FROM events WHERE ts IS NOT NULL
        ),
        act AS (SELECT widx, count(*)::BIGINT AS n_active FROM uw GROUP BY 1),
        ret AS (
          SELECT cur.widx, count(*)::BIGINT AS n_retained
          FROM uw cur
          JOIN uw prv
            ON prv.user_id = cur.user_id AND prv.widx = cur.widx - 1
          GROUP BY 1
        ),
        fw AS (SELECT user_id, min(widx) AS widx FROM uw GROUP BY 1),
        nw AS (SELECT widx, count(*)::BIGINT AS n_new FROM fw GROUP BY 1),
        weekly AS (
          SELECT act.widx AS week_idx, n_active,
                 coalesce(n_new, 0)::BIGINT AS n_new,
                 coalesce(n_retained, 0)::BIGINT AS n_retained
          FROM act
          LEFT JOIN ret ON ret.widx = act.widx
          LEFT JOIN nw ON nw.widx = act.widx
        )
        SELECT week_idx, n_active, n_new, n_retained,
               round(n_retained::DOUBLE
                     / (lag(n_active) OVER (ORDER BY week_idx))::DOUBLE, 9)
                 AS wow_retention
        FROM weekly
    """
    sqls["customers_lorenz_deciles"] = """
        WITH rev AS (
          SELECT o_custkey AS custkey,
                 round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10)))
                       AS DOUBLE), 4) AS revenue
          FROM orders GROUP BY 1
        ),
        rk AS (
          SELECT revenue,
                 row_number() OVER (ORDER BY revenue, custkey)::BIGINT AS rk,
                 count(*) OVER ()::BIGINT AS n
          FROM rev
        ),
        dec AS (
          SELECT floor((rk - 1) * 10 / n)::INT AS decile, revenue FROM rk
        ),
        d2 AS (
          SELECT decile, count(*)::BIGINT AS n_customers,
                 round(CAST(sum(CAST(revenue AS DECIMAL(38,10)))
                       AS DOUBLE), 4) AS decile_revenue
          FROM dec GROUP BY 1
        ),
        tot AS (
          SELECT CAST(sum(CAST(decile_revenue AS DECIMAL(38,10)))
                 AS DOUBLE) AS t
          FROM d2
        )
        SELECT decile, n_customers, decile_revenue,
               round(decile_revenue / t, 9) AS revenue_share,
               round(CAST(sum(CAST(decile_revenue AS DECIMAL(38,10)))
                       OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
                     AS DOUBLE) / t, 9) AS cum_share
        FROM d2 CROSS JOIN tot
    """
    sqls["session_type_pairs"] = """
        WITH e AS (
          SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS tus
          FROM events WHERE ts IS NOT NULL
        ),
        m AS (
          SELECT *, CASE WHEN lag(tus) OVER w IS NULL
                          OR tus - lag(tus) OVER w > 1800000000
                     THEN 1 ELSE 0 END AS is_new
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
        ),
        s AS (
          SELECT *, sum(is_new) OVER (
            PARTITION BY user_id ORDER BY tus, event_id
            ROWS UNBOUNDED PRECEDING
          ) AS session_idx FROM m
        ),
        st AS (
          SELECT DISTINCT user_id || '#' || session_idx AS sk, event_type
          FROM s
        ),
        nall AS (SELECT count(DISTINCT sk)::BIGINT AS ns FROM st),
        pr AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 count(*)::BIGINT AS n_together
          FROM st a JOIN st b
            ON a.sk = b.sk AND a.event_type < b.event_type
          GROUP BY 1, 2
          HAVING count(*) >= 2
        ),
        sz AS (SELECT event_type, count(*)::BIGINT AS n FROM st GROUP BY 1)
        SELECT type_a, type_b, n_together,
               round(n_together / ns, 9) AS support,
               round((CAST(n_together AS DOUBLE) * CAST(ns AS DOUBLE))
                     / (CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)),
                     6) AS lift
        FROM pr
        JOIN sz na ON na.event_type = type_a
        JOIN sz nb ON nb.event_type = type_b
        CROSS JOIN nall
    """
    # Markov stationary: the three power-iteration rounds unroll as
    # CTE pairs (new iterate / zero-filled state join), equal to the
    # ferried Spark loop by induction on the 9-dp round.
    _mk_rounds = []
    prev_pi = "p0"
    for k in range(1, _MARKOV_ROUNDS + 1):
        _mk_rounds.append(
            f"""r{k} AS (
          SELECT t.next_state AS s,
                 round(CAST(sum(CAST(round(t.p_transition * {prev_pi}.pi, 12)
                       AS DECIMAL(38,18))) AS DOUBLE), 9) AS pi
          FROM trans t JOIN {prev_pi} ON {prev_pi}.s = t.prev_state
          GROUP BY 1
        ),
        p{k} AS (
          SELECT states.s, coalesce(r{k}.pi, 0.0) AS pi
          FROM states LEFT JOIN r{k} USING (s)
        )"""
        )
        prev_pi = f"p{k}"
    sqls["events_markov_stationary"] = f"""
        WITH seq AS (
          SELECT event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_type
          FROM events WHERE ts IS NOT NULL
        ),
        pairs AS (
          SELECT prev_type AS prev_state, event_type AS next_state,
                 count(*)::BIGINT AS n_transitions
          FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
        ),
        tot AS (
          SELECT prev_state, sum(n_transitions) AS t FROM pairs GROUP BY 1
        ),
        trans AS (
          SELECT p.prev_state, p.next_state,
                 round(p.n_transitions / t.t, 9) AS p_transition
          FROM pairs p JOIN tot t USING (prev_state)
        ),
        states AS (
          SELECT DISTINCT s FROM (
            SELECT prev_state AS s FROM trans
            UNION ALL SELECT next_state FROM trans
          )
        ),
        u AS (SELECT 1.0 / count(*) AS u0 FROM states),
        p0 AS (SELECT s, u0 AS pi FROM states CROSS JOIN u),
        {",".join(_mk_rounds)}
        SELECT s AS state, pi AS stationary_prob FROM p{_MARKOV_ROUNDS}
    """
    sqls["embeddings_triplet_margin"] = f"""
        WITH ve AS (
          SELECT vec_id, label, [x::DOUBLE for x in embedding] AS v
          FROM embeddings
        ),
        nv AS (
          SELECT vec_id, label, v,
                 sqrt({_emb_dot_sql("v", "v")}) AS n
          FROM ve
        ),
        scored AS (
          SELECT q.vec_id AS q_id, q.label AS q_label, c.label AS n_label,
                 round({_emb_dot_sql("q.v", "c.v")} / (q.n * c.n), 9) AS cos
          FROM nv q CROSS JOIN nv c WHERE c.vec_id <> q.vec_id
        ),
        per_q AS (
          SELECT q_id, q_label,
                 max(CASE WHEN q_label = n_label THEN cos END) AS bs,
                 max(CASE WHEN q_label <> n_label THEN cos END) AS bd
          FROM scored GROUP BY 1, 2
        )
        SELECT q_label AS label,
               count(*)::BIGINT AS n_vectors,
               round(CAST(sum(CAST(round(bs - bd, 9) AS DECIMAL(38,18)))
                     AS DOUBLE) / count(*)::DOUBLE, 6) AS mean_margin,
               round(sum(CASE WHEN round(bs - bd, 9) > 0 THEN 1 ELSE 0 END)
                     / count(*), 9) AS share_positive
        FROM per_q
        WHERE bs IS NOT NULL AND bd IS NOT NULL
        GROUP BY 1
    """
    _pc_case = "CASE " + " ".join(
        f"WHEN n < {2 ** (k + 1)} THEN {k}" for k in range(0, 20)
    ) + " ELSE 20 END"
    sqls["users_power_curve"] = f"""
        WITH pu AS (
          SELECT user_id, count(*)::BIGINT AS n FROM events GROUP BY 1
        ),
        b AS (
          SELECT ({_pc_case})::INT AS bucket, count(*)::BIGINT AS n_users
          FROM pu GROUP BY 1
        ),
        tot AS (SELECT sum(n_users)::BIGINT AS t FROM b)
        SELECT bucket,
               CAST(pow(2.0, bucket) AS BIGINT) AS lo_events,
               CAST(pow(2.0, bucket + 1) AS BIGINT) - 1 AS hi_events,
               n_users,
               round(n_users::DOUBLE / t::DOUBLE, 9) AS user_share
        FROM b CROSS JOIN tot
    """
    _curve_ts = ", ".join(str(t) for t in _DEDUP_CURVE_THRESHOLDS)
    sqls["dedup_threshold_curve"] = f"""
        WITH {_DEDUP_BASE},
        ssz AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS n_inter
          FROM shh a JOIN shh b USING (sh)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        jp AS (
          SELECT x AS a_id, y AS b_id,
                 n_inter / (na.n_sh + nb.n_sh - n_inter) AS j
          FROM inter
          JOIN ssz na ON na.doc_id = x
          JOIN ssz nb ON nb.doc_id = y
        ),
        surv AS (
          SELECT a_id, b_id, t AS threshold
          FROM jp, (SELECT unnest([{_curve_ts}]::DOUBLE[]) AS t)
          WHERE j >= t
        ),
        np AS (
          SELECT threshold, count(*)::BIGINT AS n_pairs FROM surv GROUP BY 1
        ),
        nd AS (
          SELECT threshold, count(*)::BIGINT AS n_docs_in_pairs FROM (
            SELECT DISTINCT threshold, doc_id FROM (
              SELECT threshold, a_id AS doc_id FROM surv
              UNION ALL SELECT threshold, b_id FROM surv
            )
          ) GROUP BY 1
        )
        SELECT round(threshold, 2) AS threshold, n_pairs, n_docs_in_pairs
        FROM np JOIN nd USING (threshold)
    """
    _lsh_kb = []
    _lsh_pb = []
    for b in _LSH_CURVE_BANDS:
        r = dd.MINHASH_K // b
        _lsh_kb.append(
            f"""kb{b} AS (
          SELECT doc_id, (i // {r})::INT AS band,
                 string_agg(sig::VARCHAR, ',' ORDER BY i) AS key
          FROM sigs GROUP BY doc_id, i // {r}
        )"""
        )
        _lsh_pb.append(
            f"""pb{b} AS (
          SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
                 {b} AS n_bands
          FROM kb{b} x JOIN kb{b} y
            ON x.band = y.band AND x.key = y.key
          WHERE x.doc_id < y.doc_id
        )"""
        )
    _lsh_union = " UNION ALL ".join(
        f"SELECT * FROM pb{b}" for b in _LSH_CURVE_BANDS
    )
    sqls["dedup_lsh_band_curve"] = f"""
        WITH {_DEDUP_BASE},
        {_MINHASH_PARAMS_SQL},
        {_MINHASH_SIGS_SQL},
        ssz AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS n_inter
          FROM shh a JOIN shh b USING (sh)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        jp AS (
          SELECT x AS a_id, y AS b_id,
                 n_inter / (na.n_sh + nb.n_sh - n_inter) AS j
          FROM inter
          JOIN ssz na ON na.doc_id = x
          JOIN ssz nb ON nb.doc_id = y
        ),
        {",".join(_lsh_kb)},
        {",".join(_lsh_pb)},
        cand AS ({_lsh_union}),
        lab AS (
          SELECT n_bands,
                 (coalesce(j, 0.0) >= {_LSH_CURVE_TRUE_J}) AS t
          FROM cand LEFT JOIN jp USING (a_id, b_id)
        ),
        perb AS (
          SELECT n_bands, count(*)::BIGINT AS n_candidates,
                 sum(CASE WHEN t THEN 1 ELSE 0 END)::BIGINT
                   AS n_true_captured
          FROM lab GROUP BY 1
        ),
        tt AS (
          SELECT count(*)::BIGINT AS nt FROM jp
          WHERE j >= {_LSH_CURVE_TRUE_J}
        )
        SELECT n_bands::INT AS n_bands,
               ({dd.MINHASH_K} / n_bands)::INT AS rows_per_band,
               n_candidates, n_true_captured,
               round(n_true_captured::DOUBLE / n_candidates::DOUBLE, 9)
                 AS precision,
               round(n_true_captured::DOUBLE / nt::DOUBLE, 9) AS recall
        FROM perb CROSS JOIN tt
    """
    # Mann-Whitney: doubled-midrank integer arithmetic mirrored exactly
    # (2*midrank = 2*cum_before + cnt + 1; 2U = 2R_A - nA(nA+1)); the
    # final u/z/r conversions are the same fixed-shape doubles.
    sqls["docs_length_mannwhitney"] = """
        WITH d AS (
          SELECT n_chars,
                 (CAST(substr(source, 4) AS INT) % 2 = 0) AS is_a
          FROM documents WHERE n_chars IS NOT NULL
        ),
        per AS (
          SELECT n_chars,
                 sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS ca,
                 sum(CASE WHEN is_a THEN 0 ELSE 1 END)::BIGINT AS cb
          FROM d GROUP BY 1
        ),
        cum AS (
          SELECT n_chars, ca, cb,
                 CAST(sum(ca + cb) OVER w AS DECIMAL(18,0)) AS cumall
          FROM per
          WINDOW w AS (ORDER BY n_chars ROWS UNBOUNDED PRECEDING)
        ),
        sums AS (
          SELECT
            sum(CAST(ca AS DECIMAL(18,0))
                * (2 * (cumall - (ca + cb)) + (ca + cb) + 1)) AS r2a,
            sum(CAST(ca + cb AS DECIMAL(18,0))
                * CAST(ca + cb AS DECIMAL(18,0))
                * CAST(ca + cb AS DECIMAL(18,0))
                - CAST(ca + cb AS DECIMAL(18,0))) AS ties
          FROM cum
        ),
        tot AS (
          SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b FROM per
        )
        SELECT n_a, n_b,
          CASE WHEN n_a > 0 AND n_b > 0 THEN
            (r2a - CAST(n_a AS DECIMAL(18,0)) * (n_a + 1))::DOUBLE / 2.0
          END AS u_stat,
          CASE WHEN n_a > 0 AND n_b > 0 AND
            (n_a::DOUBLE * n_b::DOUBLE / 12.0
             * ((n_a::DOUBLE + n_b::DOUBLE + 1.0)
                - ties::DOUBLE / ((n_a::DOUBLE + n_b::DOUBLE)
                                  * (n_a::DOUBLE + n_b::DOUBLE - 1.0)))) > 0
          THEN
            round(
              ((r2a - CAST(n_a AS DECIMAL(18,0)) * (n_a + 1))::DOUBLE / 2.0
               - n_a::DOUBLE * n_b::DOUBLE / 2.0)
              / sqrt(n_a::DOUBLE * n_b::DOUBLE / 12.0
                     * ((n_a::DOUBLE + n_b::DOUBLE + 1.0)
                        - ties::DOUBLE / ((n_a::DOUBLE + n_b::DOUBLE)
                                          * (n_a::DOUBLE + n_b::DOUBLE - 1.0)))),
              9)
          END AS z_score,
          CASE WHEN n_a > 0 AND n_b > 0 THEN
            round((r2a - CAST(n_a AS DECIMAL(18,0)) * (n_a + 1))::DOUBLE
                  / (n_a::DOUBLE * n_b::DOUBLE) - 1.0, 9)
          END AS rank_biserial
        FROM sums CROSS JOIN tot
    """
    # Welch: the six DECIMAL power sums and the double closed form
    # mirror welch_t's expression shape term for term.
    sqls["events_value_welch"] = """
        WITH d AS (
          SELECT value, (event_type = 'purchase') AS is_a
          FROM events WHERE value IS NOT NULL
        ),
        m AS (
          SELECT
            count(CASE WHEN is_a THEN 1 END)::BIGINT AS n_a,
            count(CASE WHEN NOT is_a THEN 1 END)::BIGINT AS n_b,
            sum(CASE WHEN is_a THEN CAST(value AS DECIMAL(38,10)) END) AS sa,
            sum(CASE WHEN NOT is_a THEN CAST(value AS DECIMAL(38,10)) END) AS sb,
            sum(CASE WHEN is_a THEN CAST(value * value AS DECIMAL(38,10)) END) AS sa2,
            sum(CASE WHEN NOT is_a THEN CAST(value * value AS DECIMAL(38,10)) END) AS sb2
          FROM d
        )
        SELECT n_a, n_b,
          round(sa::DOUBLE / n_a::DOUBLE, 9) AS mean_a,
          round(sb::DOUBLE / n_b::DOUBLE, 9) AS mean_b,
          round(CASE WHEN n_a >= 2 AND n_b >= 2 AND
            ((n_a::DOUBLE * sa2::DOUBLE - sa::DOUBLE * sa::DOUBLE)
               / (n_a::DOUBLE * (n_a::DOUBLE - 1.0)) / n_a::DOUBLE
             + (n_b::DOUBLE * sb2::DOUBLE - sb::DOUBLE * sb::DOUBLE)
               / (n_b::DOUBLE * (n_b::DOUBLE - 1.0)) / n_b::DOUBLE) > 0
          THEN
            (sa::DOUBLE / n_a::DOUBLE - sb::DOUBLE / n_b::DOUBLE)
            / sqrt((n_a::DOUBLE * sa2::DOUBLE - sa::DOUBLE * sa::DOUBLE)
                     / (n_a::DOUBLE * (n_a::DOUBLE - 1.0)) / n_a::DOUBLE
                   + (n_b::DOUBLE * sb2::DOUBLE - sb::DOUBLE * sb::DOUBLE)
                     / (n_b::DOUBLE * (n_b::DOUBLE - 1.0)) / n_b::DOUBLE)
          END, 9) AS t_stat,
          round(CASE WHEN n_a >= 2 AND n_b >= 2 AND
            ((n_a::DOUBLE * sa2::DOUBLE - sa::DOUBLE * sa::DOUBLE)
               / (n_a::DOUBLE * (n_a::DOUBLE - 1.0)) / n_a::DOUBLE
             + (n_b::DOUBLE * sb2::DOUBLE - sb::DOUBLE * sb::DOUBLE)
               / (n_b::DOUBLE * (n_b::DOUBLE - 1.0)) / n_b::DOUBLE) > 0
          THEN
            power((n_a::DOUBLE * sa2::DOUBLE - sa::DOUBLE * sa::DOUBLE)
                    / (n_a::DOUBLE * (n_a::DOUBLE - 1.0)) / n_a::DOUBLE
                  + (n_b::DOUBLE * sb2::DOUBLE - sb::DOUBLE * sb::DOUBLE)
                    / (n_b::DOUBLE * (n_b::DOUBLE - 1.0)) / n_b::DOUBLE, 2)
            / (power((n_a::DOUBLE * sa2::DOUBLE - sa::DOUBLE * sa::DOUBLE)
                       / (n_a::DOUBLE * (n_a::DOUBLE - 1.0)) / n_a::DOUBLE, 2)
                 / (n_a::DOUBLE - 1.0)
               + power((n_b::DOUBLE * sb2::DOUBLE - sb::DOUBLE * sb::DOUBLE)
                         / (n_b::DOUBLE * (n_b::DOUBLE - 1.0)) / n_b::DOUBLE, 2)
                 / (n_b::DOUBLE - 1.0))
          END, 9) AS df_welch
        FROM m
    """
    # Local clustering / Adamic-Adar: same jaccard >= 0.05 edge CTE as
    # the assortativity oracle; triangles enumerate once as ordered
    # triples a < b < c, then fan to nodes (clustering) or edges with
    # the opposite vertex (Adamic-Adar, 12dp DECIMAL terms).
    _GRAPH_CTES = """
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS n_inter
          FROM shh a JOIN shh b USING (sh)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        und AS (
          SELECT x, y FROM inter
          JOIN sizes na ON na.doc_id = x
          JOIN sizes nb ON nb.doc_id = y
          WHERE n_inter / (na.n_sh + nb.n_sh - n_inter) >= 0.05
        ),
        deg AS (
          SELECT n, count(*)::BIGINT AS deg
          FROM (SELECT x AS n FROM und UNION ALL SELECT y FROM und)
          GROUP BY n
        ),
        tri AS (
          SELECT e1.x AS a, e1.y AS b, e2.y AS c
          FROM und e1
          JOIN und e2 ON e2.x = e1.y
          JOIN und e3 ON e3.x = e1.x AND e3.y = e2.y
        )
    """
    sqls["dedup_local_clustering"] = f"""
        WITH {_DEDUP_BASE},
        {_GRAPH_CTES},
        pern AS (
          SELECT n, count(*)::BIGINT AS n_tri
          FROM (SELECT unnest([a, b, c]) AS n FROM tri)
          GROUP BY n
        )
        SELECT deg.n AS node, deg.deg AS degree,
               coalesce(n_tri, 0)::BIGINT AS n_triangles,
               round(CASE WHEN deg.deg >= 2 THEN
                 2.0 * coalesce(n_tri, 0)::DOUBLE
                 / (deg.deg::DOUBLE * (deg.deg::DOUBLE - 1.0))
               END, 9) AS clustering
        FROM deg LEFT JOIN pern ON pern.n = deg.n
    """
    sqls["dedup_adamic_adar"] = f"""
        WITH {_DEDUP_BASE},
        {_GRAPH_CTES},
        contrib AS (
          SELECT a AS e1, b AS e2, c AS w FROM tri
          UNION ALL SELECT a, c, b FROM tri
          UNION ALL SELECT b, c, a FROM tri
        ),
        terms AS (
          SELECT e1, e2,
                 CAST(round(1.0 / ln(deg.deg::DOUBLE), 12)
                      AS DECIMAL(18,12)) AS term
          FROM contrib JOIN deg ON deg.n = contrib.w
        ),
        pe AS (
          SELECT e1, e2, count(*)::BIGINT AS n_common, sum(term) AS aa
          FROM terms GROUP BY 1, 2
        )
        SELECT und.x AS a_id, und.y AS b_id,
               coalesce(n_common, 0)::BIGINT AS n_common,
               round(coalesce(aa::DOUBLE, 0.0), 6) AS adamic_adar
        FROM und LEFT JOIN pe ON pe.e1 = und.x AND pe.e2 = und.y
    """
    # Benford: digits from BIGINT-to-string (engine-identical); the
    # expected shares are the SAME 12dp Python literals the Spark plan
    # embeds, so no engine computes log10.
    _benford_case = " ".join(
        f"WHEN digit = {d} THEN {p!r}::DOUBLE" for d, p in _BENFORD_P.items()
    )
    sqls["orders_benford"] = f"""
        WITH d AS (
          SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                             AS VARCHAR), 1, 1) AS INT) AS digit
          FROM orders WHERE o_totalprice >= 1
        ),
        cells AS (SELECT digit, count(*)::BIGINT AS n_orders FROM d GROUP BY 1),
        tot AS (SELECT sum(n_orders)::BIGINT AS nt FROM cells)
        SELECT digit, n_orders,
               round(n_orders::DOUBLE / nt::DOUBLE, 9) AS observed_share,
               (CASE {_benford_case} END) AS expected_share,
               round((n_orders::DOUBLE - nt::DOUBLE * (CASE {_benford_case} END))
                     * (n_orders::DOUBLE - nt::DOUBLE * (CASE {_benford_case} END))
                     / (nt::DOUBLE * (CASE {_benford_case} END)), 9) AS chi2_term
        FROM cells CROSS JOIN tot
    """
    sqls["customers_cramers_v"] = """
        WITH cells AS (
          SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS n
          FROM customer GROUP BY 1, 2
        ),
        rt AS (SELECT c_nationkey, sum(n)::BIGINT AS rtot FROM cells GROUP BY 1),
        ct AS (SELECT c_mktsegment, sum(n)::BIGINT AS ctot FROM cells GROUP BY 1),
        tot AS (SELECT sum(n)::BIGINT AS nt FROM cells),
        j AS (
          SELECT cells.n, rtot, ctot, nt, cells.c_nationkey, cells.c_mktsegment
          FROM cells JOIN rt USING (c_nationkey) JOIN ct USING (c_mktsegment)
          CROSS JOIN tot
        ),
        agg AS (
          SELECT max(nt)::BIGINT AS n_total,
                 count(DISTINCT c_nationkey)::BIGINT AS n_rows_dim,
                 count(DISTINCT c_mktsegment)::BIGINT AS n_cols_dim,
                 round(CAST(sum(CAST(round(
                   (n::DOUBLE - rtot::DOUBLE * ctot::DOUBLE / nt::DOUBLE)
                   * (n::DOUBLE - rtot::DOUBLE * ctot::DOUBLE / nt::DOUBLE)
                   / (rtot::DOUBLE * ctot::DOUBLE / nt::DOUBLE), 9)
                   AS DECIMAL(38,10))) AS DOUBLE), 6) AS chi2
          FROM j
        )
        SELECT n_total, n_rows_dim, n_cols_dim, chi2,
               round(CASE WHEN least(n_rows_dim, n_cols_dim) - 1 > 0 THEN
                 sqrt(chi2 / (n_total::DOUBLE
                              * (least(n_rows_dim, n_cols_dim) - 1)::DOUBLE))
               END, 6) AS cramers_v
        FROM agg
    """
    sqls["events_seasonality_strength"] = """
        WITH daily AS (
          SELECT ts::DATE AS day, count(*)::BIGINT AS c,
                 (((date_diff('day', DATE '1970-01-05', ts::DATE) % 7) + 7)
                   % 7)::INT AS dow
          FROM events WHERE ts IS NOT NULL
          GROUP BY 1, 3
        ),
        tot AS (
          SELECT count(*)::BIGINT AS n_days,
                 CAST(sum(c) AS DECIMAL(18,0)) AS s,
                 sum(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))) AS s2
          FROM daily
        ),
        per AS (
          SELECT dow, count(*)::BIGINT AS ng,
                 CAST(sum(c) AS DECIMAL(18,0)) AS sg
          FROM daily GROUP BY 1
        ),
        btw AS (
          SELECT CAST(sum(CAST(round(
                   sg::DOUBLE * sg::DOUBLE / ng::DOUBLE, 6)
                 AS DECIMAL(38,10))) AS DOUBLE) AS b
          FROM per
        )
        SELECT n_days,
               round(s::DOUBLE / n_days::DOUBLE, 6) AS mean_daily_events,
               round(CASE WHEN (s2::DOUBLE - s::DOUBLE * s::DOUBLE
                                / n_days::DOUBLE) > 0 THEN
                 (b - s::DOUBLE * s::DOUBLE / n_days::DOUBLE)
                 / (s2::DOUBLE - s::DOUBLE * s::DOUBLE / n_days::DOUBLE)
               END, 6) AS dow_variance_share
        FROM tot CROSS JOIN btw
    """
    sqls["users_activity_entropy"] = """
        WITH cells AS (
          SELECT user_id, event_type, count(*)::BIGINT AS c
          FROM events GROUP BY 1, 2
        ),
        ut AS (
          SELECT user_id, sum(c)::BIGINT AS n_events,
                 count(*)::BIGINT AS n_types
          FROM cells GROUP BY 1
        ),
        pe AS (
          SELECT cells.user_id,
                 CAST(sum(CAST(round(
                   -(c::DOUBLE / n_events::DOUBLE)
                   * ln(c::DOUBLE / n_events::DOUBLE), 12)
                 AS DECIMAL(28,12))) AS DOUBLE) AS ent
          FROM cells JOIN ut USING (user_id)
          GROUP BY 1
        )
        SELECT ut.user_id, n_events, n_types, round(ent, 6) AS entropy
        FROM ut JOIN pe USING (user_id)
    """
    sqls["orders_theilsen_monthly"] = """
        WITH monthly AS (
          SELECT (year(o_orderdate) * 12 + month(o_orderdate) - 1) AS m,
                 round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10)))
                            AS DOUBLE), 4) AS rev
          FROM orders GROUP BY 1
        ),
        slopes AS (
          SELECT round((b.rev - a.rev) / (b.m - a.m)::DOUBLE, 9) AS slope
          FROM monthly a JOIN monthly b ON a.m < b.m
        )
        SELECT count(*)::BIGINT AS n_pairs,
               round(quantile_cont(slope, 0.5), 6) AS theilsen_slope
        FROM slopes
    """
    sqls["orders_basket_poisson"] = """
        WITH per AS (
          SELECT l_orderkey, count(*)::BIGINT AS k FROM lineitem GROUP BY 1
        ),
        cells AS (SELECT k, count(*)::BIGINT AS n_orders FROM per GROUP BY 1),
        tot AS (
          SELECT sum(n_orders)::BIGINT AS no, sum(k * n_orders)::BIGINT AS ni
          FROM cells
        )
        SELECT k AS basket_size, n_orders,
               round(n_orders::DOUBLE / no::DOUBLE, 9) AS observed_share,
               round(exp(-(ni::DOUBLE / no::DOUBLE))
                     * power(ni::DOUBLE / no::DOUBLE, k::DOUBLE)
                     / factorial(k::INT)::DOUBLE, 9) AS poisson_p,
               round(CASE WHEN no::DOUBLE * round(exp(-(ni::DOUBLE / no::DOUBLE))
                     * power(ni::DOUBLE / no::DOUBLE, k::DOUBLE)
                     / factorial(k::INT)::DOUBLE, 9) > 0 THEN
                 (n_orders::DOUBLE - no::DOUBLE * round(exp(-(ni::DOUBLE / no::DOUBLE))
                     * power(ni::DOUBLE / no::DOUBLE, k::DOUBLE)
                     / factorial(k::INT)::DOUBLE, 9))
                 * (n_orders::DOUBLE - no::DOUBLE * round(exp(-(ni::DOUBLE / no::DOUBLE))
                     * power(ni::DOUBLE / no::DOUBLE, k::DOUBLE)
                     / factorial(k::INT)::DOUBLE, 9))
                 / (no::DOUBLE * round(exp(-(ni::DOUBLE / no::DOUBLE))
                     * power(ni::DOUBLE / no::DOUBLE, k::DOUBLE)
                     / factorial(k::INT)::DOUBLE, 9))
               END, 9) AS chi2_term,
               round(ni::DOUBLE / no::DOUBLE, 6) AS lambda_fit
        FROM cells CROSS JOIN tot
    """
    # Spearman: DuckDB midranks via 2*rank + cnt - 1 == the engine's
    # doubled midrank (2*cum_before + cnt + 1); Pearson over DECIMAL
    # sums of those integers, same closed-form shape.
    sqls["orders_spearman_price_items"] = """
        WITH d AS (
          SELECT o_totalprice AS x, n_items AS y
          FROM orders JOIN (
            SELECT l_orderkey, count(*)::BIGINT AS n_items
            FROM lineitem GROUP BY 1
          ) li ON o_orderkey = l_orderkey
        ),
        rk AS (
          SELECT
            CAST(2 * rank() OVER (ORDER BY x)
                 + count(*) OVER (PARTITION BY x) - 1 AS DECIMAL(18,0)) AS rx,
            CAST(2 * rank() OVER (ORDER BY y)
                 + count(*) OVER (PARTITION BY y) - 1 AS DECIMAL(18,0)) AS ry
          FROM d
        ),
        m AS (
          SELECT count(*)::BIGINT AS n,
                 sum(rx) AS sx, sum(ry) AS sy, sum(rx * ry) AS sxy,
                 sum(rx * rx) AS sxx, sum(ry * ry) AS syy
          FROM rk
        )
        SELECT n,
          round(CASE WHEN (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) > 0
                      AND (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0
          THEN
            (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
            / sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                   * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
          END, 9) AS spearman_rho
        FROM m
    """
    sqls["docs_perplexity_buckets"] = f"""
        WITH {_BASE},
        uni AS (SELECT token, count(*) AS n_occ FROM ex GROUP BY token),
        tt AS (SELECT sum(n_occ) AS total FROM uni),
        lp AS (
          SELECT doc_id, count(*)::BIGINT AS n_tokens,
                 round(avg(ln(n_occ / total)), 6) AS avg_logprob
          FROM ex JOIN uni USING (token), tt
          GROUP BY doc_id
        ),
        cuts AS (
          SELECT list_transform(
                   quantile_cont(avg_logprob,
                     [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                   c -> round(c, 6)) AS cs
          FROM lp
        ),
        b AS (
          SELECT lp.*,
                 list_sum(list_transform(cs,
                   c -> CASE WHEN avg_logprob > c THEN 1 ELSE 0 END))::BIGINT
                   AS bucket
          FROM lp CROSS JOIN cuts
        )
        SELECT bucket, count(*)::BIGINT AS n_docs,
               round(CAST(sum(CAST(avg_logprob AS DECIMAL(38,10))) AS DOUBLE)
                     / count(*)::DOUBLE, 6) AS mean_logprob,
               round(sum(n_tokens)::DOUBLE / count(*)::DOUBLE, 6) AS mean_tokens
        FROM b GROUP BY 1
    """
    # ANN recall curve: the ann_topk_ivf oracle machinery (kmeans
    # replay + assignment + probe ranking) parameterized over a probe
    # grid, against a full brute-force truth CTE.
    sqls["embeddings_ann_recall_curve"] = f"""
        WITH {_EMB_NORM_SQL},
        {_KMEANS_CTES},
        cents AS (SELECT c_id, cv, cn FROM {_KMEANS_FINAL}),
        ascore AS (
          SELECT a.vec_id AS id, c_id,
                 round({_emb_dot_sql("a.v", "cv")} / (a.norm * cn), 9) AS cos
          FROM nv a CROSS JOIN cents
        ),
        assign AS (
          SELECT id, c_id AS cluster FROM (
            SELECT id, c_id,
                   row_number() OVER (PARTITION BY id ORDER BY cos DESC, c_id) AS rn
            FROM ascore
          ) WHERE rn = 1
        ),
        truth AS (
          SELECT q_id, n_id FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY round({_emb_dot_sql("q.v", "c.v")}
                                    / (q.norm * c.norm), 9) DESC, c.vec_id
                   ) AS rn
            FROM nv q JOIN nv c ON c.vec_id <> q.vec_id
          ) WHERE rn <= {ANN_K}
        ),
        nt AS (SELECT count(*)::BIGINT AS n_truth FROM truth),
        probes_all AS (
          SELECT q_id, cluster, rn FROM (
            SELECT q.vec_id AS q_id, c_id AS cluster,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY round({_emb_dot_sql("q.v", "cv")}
                                    / (q.norm * cn), 9) DESC, c_id
                   ) AS rn
            FROM nv q CROSS JOIN cents
          ) WHERE rn <= {max(_ANN_RECALL_PROBES)}
        ),
        grid AS (SELECT unnest({list(_ANN_RECALL_PROBES)}) AS n_probe),
        cand AS (
          SELECT DISTINCT g.n_probe, p.q_id, a.id AS n_id
          FROM grid g
          JOIN probes_all p ON p.rn <= g.n_probe
          JOIN assign a USING (cluster)
          WHERE a.id <> p.q_id
        ),
        scored AS (
          SELECT n_probe, q_id, n_id,
                 round({_emb_dot_sql("qn.v", "cn2.v")}
                       / (qn.norm * cn2.norm), 9) AS cos
          FROM cand
          JOIN nv qn ON qn.vec_id = q_id
          JOIN nv cn2 ON cn2.vec_id = n_id
        ),
        ivfk AS (
          SELECT n_probe, q_id, n_id FROM (
            SELECT n_probe, q_id, n_id,
                   row_number() OVER (
                     PARTITION BY n_probe, q_id ORDER BY cos DESC, n_id
                   ) AS rank
            FROM scored
          ) WHERE rank <= {ANN_K}
        ),
        per_p AS (
          SELECT n_probe, count(*)::BIGINT AS n_caught
          FROM ivfk JOIN truth USING (q_id, n_id)
          GROUP BY 1
        )
        SELECT g.n_probe::INT AS n_probe, nt.n_truth,
               coalesce(per_p.n_caught, 0)::BIGINT AS n_caught,
               round(coalesce(per_p.n_caught, 0)::DOUBLE
                     / nt.n_truth::DOUBLE, 9) AS recall
        FROM grid g CROSS JOIN nt LEFT JOIN per_p ON per_p.n_probe = g.n_probe
    """
    # Second driver-gated streaming surface (r11): the flush-closed
    # applyInPandasWithState replay emits exactly the batch sessions
    # over the non-null-ts events, so the oracle is the
    # events_sessionize SQL with that filter applied.
    sqls["streaming_sessions_flush"] = """
        WITH e AS (
          SELECT user_id, event_id, value, epoch_ns(ts) // 1000 AS tus
          FROM events WHERE ts IS NOT NULL
        ),
        m AS (
          SELECT *, CASE WHEN lag(tus) OVER w IS NULL
                          OR tus - lag(tus) OVER w > 1800000000
                     THEN 1 ELSE 0 END AS is_new
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
        ),
        s AS (
          SELECT *, sum(is_new) OVER (
            PARTITION BY user_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING
          ) AS session_idx FROM m
        )
        SELECT user_id, session_idx::BIGINT AS session_idx,
               strftime(min(make_timestamp(tus)), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(max(make_timestamp(tus)), '%Y-%m-%d %H:%M:%S') AS session_end,
               count(*) AS n_events, round(sum(value), 6) AS sum_value
        FROM s GROUP BY user_id, session_idx
    """
    # Mann-Kendall: S and every tie count are exact integers over the
    # same 4dp-rounded monthly cells as the Theil-Sen oracle; var/z/tau
    # are the operator's fixed-shape doubles mirrored term for term.
    sqls["orders_mann_kendall"] = """
        WITH monthly AS (
          SELECT (year(o_orderdate) * 12 + month(o_orderdate) - 1)::BIGINT AS m,
                 round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 4) AS rev
          FROM orders GROUP BY 1
        ),
        sgn AS (
          SELECT sum(CASE WHEN b.rev > a.rev THEN 1
                          WHEN b.rev < a.rev THEN -1 ELSE 0 END)::BIGINT AS s
          FROM monthly a JOIN monthly b ON a.m < b.m
        ),
        ties AS (
          SELECT sum(tg * (tg - 1) * (2 * tg + 5))::BIGINT AS tie_var,
                 sum(tg * (tg - 1))::BIGINT AS tie_pairs,
                 sum(tg)::BIGINT AS n
          FROM (SELECT count(*)::BIGINT AS tg FROM monthly GROUP BY rev)
        ),
        calc AS (
          SELECT n, s,
                 (n * (n - 1) * (2 * n + 5) - tie_var)::DOUBLE / 18.0 AS v,
                 (n * (n - 1))::DOUBLE / 2.0 AS dp,
                 tie_pairs::DOUBLE / 2.0 AS t1
          FROM sgn CROSS JOIN ties
        )
        SELECT n AS n_periods, s AS s_stat, round(v, 6) AS var_s,
               round(CASE WHEN v > 0 THEN
                 CASE WHEN s > 0 THEN (s::DOUBLE - 1.0) / sqrt(v)
                      WHEN s < 0 THEN (s::DOUBLE + 1.0) / sqrt(v)
                      ELSE 0.0 END
               END, 9) AS z_score,
               round(CASE WHEN sqrt((dp - t1) * dp) > 0
                     THEN s::DOUBLE / sqrt((dp - t1) * dp) END, 9) AS tau_b
        FROM calc
    """
    # Pettitt: A_t from the bounded day-pair join, U_t telescopes as
    # the cumulative sum, earliest-argmax tie-break mirrored by the
    # (|U| DESC, rn ASC) pick; the final period (U_n = 0) is excluded
    # on both sides.
    sqls["events_pettitt_daily"] = """
        WITH daily AS (
          SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                 count(*)::BIGINT AS c
          FROM events WHERE ts IS NOT NULL GROUP BY 1
        ),
        at AS (
          SELECT a.day, sum(CASE WHEN b.c > a.c THEN 1
                                 WHEN b.c < a.c THEN -1 ELSE 0 END)::BIGINT AS av
          FROM daily a JOIN daily b ON a.day <> b.day
          GROUP BY 1
        ),
        u AS (
          SELECT day,
                 CAST(sum(av) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS uv,
                 row_number() OVER (ORDER BY day) AS rn,
                 count(*) OVER () AS n
          FROM at
        ),
        best AS (
          SELECT n::BIGINT AS n_periods, day, uv,
                 row_number() OVER (ORDER BY abs(uv) DESC, rn ASC) AS pick
          FROM u WHERE rn < n
        )
        SELECT n_periods, day AS changepoint_day,
               abs(uv)::BIGINT AS k_stat, uv AS u_at_changepoint,
               round(least(1.0, 2.0 * exp(
                 -6.0 * (abs(uv)::DOUBLE * abs(uv)::DOUBLE)
                 / (n_periods::DOUBLE * n_periods::DOUBLE * n_periods::DOUBLE
                    + n_periods::DOUBLE * n_periods::DOUBLE))), 9) AS p_approx
        FROM best WHERE pick = 1
    """
    # Anisotropy: the |S|^2 - T identity over unit vectors; per-dim
    # sums DECIMAL(38,15) (the centroid convention), squared sums and
    # self-dots rounded 12dp into DECIMAL(38,12) folds.
    sqls["embeddings_anisotropy"] = f"""
        WITH {_EMB_NORM_SQL},
        u AS (
          SELECT list_transform(v, x -> x / norm) AS u
          FROM nv WHERE norm > 0
        ),
        exu AS (
          SELECT generate_subscripts(u, 1) - 1 AS dim, unnest(u) AS x FROM u
        ),
        per_dim AS (
          SELECT dim, sum(CAST(x AS DECIMAL(38,15))) AS s FROM exu GROUP BY 1
        ),
        s2 AS (
          SELECT CAST(sum(CAST(round(
                   round(CAST(s AS DOUBLE), 9) * round(CAST(s AS DOUBLE), 9),
                 12) AS DECIMAL(38,12))) AS DOUBLE) AS s2
          FROM per_dim
        ),
        tot AS (
          SELECT count(*)::BIGINT AS n_vectors,
                 CAST(sum(CAST(round({_emb_dot_sql("u", "u")}, 12)
                      AS DECIMAL(38,12))) AS DOUBLE) AS t
          FROM u
        )
        SELECT n_vectors,
               round(CASE WHEN n_vectors > 1 THEN (s2 - t)
                 / (n_vectors::DOUBLE * (n_vectors::DOUBLE - 1.0)) END, 9)
                 AS mean_pairwise_cos,
               round(sqrt(s2) / n_vectors::DOUBLE, 9) AS mean_direction_norm
        FROM tot CROSS JOIN s2
    """
    # Temperature mixture: exact BIGINT token shares; pow runs over the
    # identical 9dp-rounded double on both engines, result rounded 12dp
    # before the per-alpha DECIMAL denominator fold.
    sqls["docs_mixture_temperature"] = f"""
        WITH {_BASE},
        per AS (
          SELECT d.source, sum(len(t.toks))::BIGINT AS n_tokens
          FROM tok t JOIN documents d USING (doc_id)
          GROUP BY 1
        ),
        tott AS (SELECT sum(n_tokens)::BIGINT AS tt FROM per),
        fan AS (
          SELECT source, alpha, n_tokens,
                 round(n_tokens::DOUBLE / tt::DOUBLE, 9) AS p_natural,
                 round(pow(round(n_tokens::DOUBLE / tt::DOUBLE, 9), alpha), 12)
                   AS w_raw
          FROM per CROSS JOIN tott
          CROSS JOIN (SELECT unnest([0.3::DOUBLE, 0.5::DOUBLE, 0.7::DOUBLE])
                      AS alpha) al
        ),
        den AS (
          SELECT alpha, CAST(sum(CAST(w_raw AS DECIMAL(38,12))) AS DOUBLE) AS d
          FROM fan GROUP BY 1
        )
        SELECT source, fan.alpha AS alpha, n_tokens, p_natural,
               round(w_raw / d, 9) AS w_temperature
        FROM fan JOIN den ON fan.alpha = den.alpha
    """
    # Third gated streaming surface: the replayed monitor emits exactly
    # the batch/SQL anomaly set, so the oracle is events_anomaly's SQL
    # verbatim (strictly-prior window-frame z-score).
    sqls["streaming_anomaly_replay"] = sqls["events_anomaly"]
    # Sorted-neighborhood: the oracle is the plain single-window
    # row_number over the SAME packed base-128 prefix key, so the
    # two-phase rank decomposition + the rank+gap window join are
    # proven against the textbook definition.
    _snm_horner = " + ".join(
        f"ascii(substr(k, {i}, 1))::BIGINT * {128 ** (_SNM_PREFIX - i)}"
        for i in range(1, _SNM_PREFIX + 1)
    )
    sqls["dedup_sorted_neighborhood"] = f"""
        WITH norm AS (
          SELECT doc_id,
                 rpad(substr(regexp_replace(lower(text), '\\W+', '', 'g'),
                             1, {_SNM_PREFIX}), {_SNM_PREFIX}, ' ') AS k
          FROM documents
        ),
        keyed AS (SELECT doc_id, ({_snm_horner}) AS sort_key FROM norm),
        ranked AS (
          SELECT doc_id, sort_key,
                 row_number() OVER (ORDER BY sort_key, doc_id) AS rn
          FROM keyed
        ),
        g AS (SELECT unnest([1, 2, 3]) AS rank_gap)
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               rank_gap::INT AS rank_gap,
               (a.sort_key = b.sort_key) AS same_prefix
        FROM ranked a CROSS JOIN g
        JOIN ranked b ON b.rn = a.rn + rank_gap
    """
    # HITS: both ferried rounds unrolled as CTE pairs from the
    # exact-integer degree seed; DECIMAL folds + fixed-shape double
    # normalizations mirror the operator term for term (equality by
    # induction, the Markov/PCA discipline).
    def _hits_round_sql(r: int, prev: str) -> str:
        return f"""
        hr{r} AS (
          SELECT u, sum(CAST(a AS DECIMAL(28,9))) AS hr
          FROM edges JOIN {prev} USING (b) GROUP BY u
        ),
        hs{r} AS (SELECT sum(hr) AS h FROM hr{r}),
        hub{r} AS (
          SELECT u, round(CAST(hr AS DOUBLE) / CAST(h AS DOUBLE), 12) AS hub
          FROM hr{r} CROSS JOIN hs{r}
        ),
        ar{r} AS (
          SELECT b, sum(CAST(hub AS DECIMAL(38,12))) AS ar
          FROM edges JOIN hub{r} USING (u) GROUP BY b
        ),
        asum{r} AS (SELECT sum(ar) AS a_s FROM ar{r}),
        a{r} AS (
          SELECT b, round(CAST(ar AS DOUBLE) / CAST(a_s AS DOUBLE), 9) AS a
          FROM ar{r} CROSS JOIN asum{r}
        )"""

    sqls["user_brand_hits"] = f"""
        WITH edges AS (
          SELECT DISTINCT o_custkey AS u, p_brand AS b
          FROM lineitem
          JOIN part ON l_partkey = p_partkey
          JOIN orders ON l_orderkey = o_orderkey
        ),
        deg AS (SELECT b, count(*)::BIGINT AS n_users FROM edges GROUP BY 1),
        tote AS (SELECT sum(n_users)::BIGINT AS ne FROM deg),
        a0 AS (
          SELECT b, round(n_users::DOUBLE / ne::DOUBLE, 9) AS a
          FROM deg CROSS JOIN tote
        ),{_hits_round_sql(1, "a0")},{_hits_round_sql(2, "a1")}
        SELECT deg.b AS brand, n_users, a2.a AS authority
        FROM deg JOIN a2 USING (b)
    """

    # Overlap curve: one shingle CTE family per n over the shared
    # tokenization, same hash-bucket split as train_test_ngram_overlap.
    def _overlap_sql(n: int) -> str:
        return f"""
        sh{n} AS (
          SELECT doc_id, {word_shingles_sql("toks", n)} AS shingles FROM dtok
        ),
        shh{n} AS (
          SELECT DISTINCT doc_id, {string_hash31_sql("shingle")} AS sh
          FROM (SELECT doc_id, unnest(shingles) AS shingle FROM sh{n})
        ),
        bk{n} AS (
          SELECT doc_id, sh,
                 {string_hash31_sql("doc_id::VARCHAR")} % 100 AS bucket
          FROM shh{n}
        ),
        tr{n} AS (SELECT DISTINCT sh FROM bk{n} WHERE bucket < 80),
        te{n} AS (SELECT doc_id, sh FROM bk{n} WHERE bucket >= 90),
        tot{n} AS (
          SELECT count(DISTINCT doc_id)::BIGINT AS ntd,
                 count(*)::BIGINT AS nts
          FROM te{n}
        ),
        hit{n} AS (
          SELECT count(DISTINCT doc_id)::BIGINT AS ndc,
                 count(*)::BIGINT AS nsh
          FROM te{n} t
          WHERE EXISTS (SELECT 1 FROM tr{n} WHERE tr{n}.sh = t.sh)
        ),
        row{n} AS (
          SELECT {n}::INT AS n_gram, ntd AS n_test_docs,
                 ndc AS n_docs_contaminated,
                 round(ndc::DOUBLE / ntd::DOUBLE, 9)
                   AS doc_contamination_rate,
                 nts AS n_test_shingles, nsh AS n_shingle_hits,
                 round(nsh::DOUBLE / nts::DOUBLE, 9) AS shingle_hit_rate
          FROM tot{n} CROSS JOIN hit{n}
        )"""

    sqls["train_test_overlap_curve"] = f"""
        WITH dtok AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '\\W+'),
                             x -> x <> '') AS toks
          FROM documents
        ),{_overlap_sql(3)},{_overlap_sql(5)},{_overlap_sql(8)}
        SELECT * FROM row3
        UNION ALL SELECT * FROM row5
        UNION ALL SELECT * FROM row8
    """
    # Fourth gated streaming surface: first-touch reach chain derived
    # relationally -- min view, min click strictly after, min purchase
    # strictly after; strict > makes equal-ts scan order irrelevant.
    sqls["streaming_funnel_replay"] = """
        WITH e AS (
          SELECT user_id, event_type, epoch_ns(ts) // 1000 AS tus
          FROM events WHERE ts IS NOT NULL
        ),
        r0 AS (
          SELECT user_id, min(tus) AS t FROM e
          WHERE event_type = 'view' GROUP BY 1
        ),
        r1 AS (
          SELECT e.user_id, min(tus) AS t
          FROM e JOIN r0 ON e.user_id = r0.user_id AND e.tus > r0.t
          WHERE event_type = 'click' GROUP BY 1
        ),
        r2 AS (
          SELECT e.user_id, min(tus) AS t
          FROM e JOIN r1 ON e.user_id = r1.user_id AND e.tus > r1.t
          WHERE event_type = 'purchase' GROUP BY 1
        )
        SELECT user_id, 0::BIGINT AS step_idx, 'view' AS step,
               t AS reach_us FROM r0
        UNION ALL
        SELECT user_id, 1::BIGINT, 'click', t FROM r1
        UNION ALL
        SELECT user_id, 2::BIGINT, 'purchase', t FROM r2
    """
    # Simplified silhouette: the inertia oracle's scored CTE drilled to
    # rn = 1 (own) and rn = 2 (best other); in-row s rounds 9dp before
    # the DECIMAL mean fold, mirroring the operator.
    sqls["embeddings_silhouette"] = f"""
        WITH {_EMB_NORM_SQL},
        {_KMEANS_CTES},
        cents AS (SELECT c_id, cv, cn FROM {_KMEANS_FINAL}),
        scored AS (
          SELECT a.vec_id, c_id,
                 round({_emb_dot_sql("a.v", "cv")} / (a.norm * cn), 9) AS cos,
                 row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY round({_emb_dot_sql("a.v", "cv")} / (a.norm * cn), 9) DESC, c_id
                 ) AS rn
          FROM nv a CROSS JOIN cents
        ),
        two AS (
          SELECT o.vec_id, o.c_id AS cluster, o.cos AS own, s.cos AS second
          FROM (SELECT * FROM scored WHERE rn = 1) o
          JOIN (SELECT * FROM scored WHERE rn = 2) s USING (vec_id)
        ),
        sil AS (
          SELECT cluster,
                 round(CASE WHEN greatest(1.0 - own, 1.0 - second) > 0
                            THEN (own - second)
                                 / greatest(1.0 - own, 1.0 - second)
                            ELSE 0.0 END, 9) AS s
          FROM two
        )
        SELECT cluster::BIGINT AS cluster, count(*)::BIGINT AS n_vectors,
               round(CAST(sum(CAST(s AS DECIMAL(38,15))) AS DOUBLE)
                     / count(*), 9) AS mean_silhouette,
               round(min(s), 9) AS min_silhouette
        FROM sil GROUP BY 1
    """
    # Corr matrix: the 14 power sums mirror the one-pass aggregate
    # (DECIMAL(38,10) per-row casts, fixed-shape double finals).
    _corr_pairs = [
        ("total_price", "n_items"), ("total_price", "sum_qty"),
        ("total_price", "sum_discount"), ("n_items", "sum_qty"),
        ("n_items", "sum_discount"), ("sum_qty", "sum_discount"),
    ]
    _corr_rows = "\n        UNION ALL ".join(
        f"""SELECT '{a}' AS metric_a, '{b}' AS metric_b, n AS n_orders,
               round(CASE WHEN sqrt((n::DOUBLE * {a}_2::DOUBLE
                          - {a}_1::DOUBLE * {a}_1::DOUBLE)
                          * (n::DOUBLE * {b}_2::DOUBLE
                          - {b}_1::DOUBLE * {b}_1::DOUBLE)) > 0
                     THEN (n::DOUBLE * p_{a}_{b}::DOUBLE
                          - {a}_1::DOUBLE * {b}_1::DOUBLE)
                          / sqrt((n::DOUBLE * {a}_2::DOUBLE
                          - {a}_1::DOUBLE * {a}_1::DOUBLE)
                          * (n::DOUBLE * {b}_2::DOUBLE
                          - {b}_1::DOUBLE * {b}_1::DOUBLE)) END, 9)
                 AS pearson_r FROM m"""
        for a, b in _corr_pairs
    )
    sqls["orders_metric_corr_matrix"] = f"""
        WITH per AS (
          SELECT l_orderkey, count(*)::DOUBLE AS n_items,
                 sum(l_quantity)::DOUBLE AS sum_qty,
                 sum(l_discount)::DOUBLE AS sum_discount
          FROM lineitem GROUP BY 1
        ),
        d AS (
          SELECT o_totalprice AS total_price, n_items, sum_qty, sum_discount
          FROM orders JOIN per ON o_orderkey = l_orderkey
        ),
        m AS (
          SELECT count(*)::BIGINT AS n,
            sum(CAST(total_price AS DECIMAL(38,10))) AS total_price_1,
            sum(CAST(n_items AS DECIMAL(38,10))) AS n_items_1,
            sum(CAST(sum_qty AS DECIMAL(38,10))) AS sum_qty_1,
            sum(CAST(sum_discount AS DECIMAL(38,10))) AS sum_discount_1,
            sum(CAST(total_price * total_price AS DECIMAL(38,10))) AS total_price_2,
            sum(CAST(n_items * n_items AS DECIMAL(38,10))) AS n_items_2,
            sum(CAST(sum_qty * sum_qty AS DECIMAL(38,10))) AS sum_qty_2,
            sum(CAST(sum_discount * sum_discount AS DECIMAL(38,10))) AS sum_discount_2,
            sum(CAST(total_price * n_items AS DECIMAL(38,10))) AS p_total_price_n_items,
            sum(CAST(total_price * sum_qty AS DECIMAL(38,10))) AS p_total_price_sum_qty,
            sum(CAST(total_price * sum_discount AS DECIMAL(38,10))) AS p_total_price_sum_discount,
            sum(CAST(n_items * sum_qty AS DECIMAL(38,10))) AS p_n_items_sum_qty,
            sum(CAST(n_items * sum_discount AS DECIMAL(38,10))) AS p_n_items_sum_discount,
            sum(CAST(sum_qty * sum_discount AS DECIMAL(38,10))) AS p_sum_qty_sum_discount
          FROM d
        )
        {_corr_rows}
    """
    # Rule-firing matrix: the curation-rules oracle nested as a derived
    # table, re-aggregated per source.
    sqls["docs_rule_firing_matrix"] = f"""
        SELECT d.source, count(*)::BIGINT AS n_docs,
               sum(fl.r_n_tokens)::BIGINT AS pass_n_tokens,
               sum(fl.r_mean_word_len)::BIGINT AS pass_mean_word_len,
               sum(fl.r_symbol_ratio)::BIGINT AS pass_symbol_ratio,
               sum(fl.r_bullet_ratio)::BIGINT AS pass_bullet_ratio,
               sum(fl.r_alpha_ratio)::BIGINT AS pass_alpha_ratio,
               sum(fl.r_stopword_hits)::BIGINT AS pass_stopword_hits,
               sum(fl.keep)::BIGINT AS n_keep,
               round(sum(fl.keep)::DOUBLE / count(*)::DOUBLE, 9) AS keep_rate
        FROM ({sqls["docs_curation_rules"]}) fl
        JOIN documents d USING (doc_id)
        GROUP BY 1
    """
    # B-cubed: the near-clusters oracle nested for predicted labels;
    # truth labels from the disjoint gold pairs; per-(pred,true) cell
    # terms joint^2/size with factor-first double casts + DECIMAL folds.
    sqls["dedup_bcubed_eval"] = f"""
        WITH pred AS (
          SELECT doc_id, keep_id AS p FROM ({sqls["dedup_near_clusters"]})
        ),
        gold AS (
          SELECT doc_id AS a_id, doc_id + 1 AS b_id
          FROM documents WHERE doc_id % 2 = 0
        ),
        partner AS (
          SELECT a_id AS doc_id, b_id AS pp FROM gold
          UNION ALL SELECT b_id, a_id FROM gold
        ),
        lab AS (
          SELECT pred.doc_id, p,
                 least(pred.doc_id, coalesce(pp, pred.doc_id)) AS t
          FROM pred LEFT JOIN partner ON pred.doc_id = partner.doc_id
        ),
        cells AS (SELECT p, t, count(*)::BIGINT AS joint FROM lab GROUP BY 1, 2),
        psz AS (SELECT p, count(*)::BIGINT AS np FROM lab GROUP BY 1),
        tsz AS (SELECT t, count(*)::BIGINT AS nt FROM lab GROUP BY 1),
        sums AS (
          SELECT CAST(sum(CAST(round(joint::DOUBLE * joint::DOUBLE
                       / np::DOUBLE, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sp,
                 CAST(sum(CAST(round(joint::DOUBLE * joint::DOUBLE
                       / nt::DOUBLE, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sr
          FROM cells JOIN psz USING (p) JOIN tsz USING (t)
        ),
        tot AS (
          SELECT count(*)::BIGINT AS n_docs,
                 count(DISTINCT p)::BIGINT AS n_pred_clusters,
                 count(DISTINCT t)::BIGINT AS n_true_clusters
          FROM lab
        )
        SELECT n_docs, n_pred_clusters, n_true_clusters,
               round(sp / n_docs::DOUBLE, 9) AS bcubed_precision,
               round(sr / n_docs::DOUBLE, 9) AS bcubed_recall,
               round(CASE WHEN round(sp / n_docs::DOUBLE, 9)
                               + round(sr / n_docs::DOUBLE, 9) > 0
                     THEN 2.0 * round(sp / n_docs::DOUBLE, 9)
                          * round(sr / n_docs::DOUBLE, 9)
                          / (round(sp / n_docs::DOUBLE, 9)
                             + round(sr / n_docs::DOUBLE, 9))
                     ELSE 0.0 END, 9) AS bcubed_f1
        FROM tot CROSS JOIN sums
    """

    # Quantization error: float brute-force top-k over the %5 query
    # subset, quantized scores re-derived for EXACTLY those pairs plus
    # the quantized top-k for the overlap; integer dots in BIGINT, the
    # dot/sqrt/sqrt division shape mirrored exactly.
    def _qdot_sql(a: str, b: str) -> str:
        return (
            f"list_reduce(list_prepend(0::BIGINT, "
            f"list_transform(range(1, len({a}) + 1), "
            f"j -> {a}[j]::BIGINT * {b}[j]::BIGINT)), (x, y) -> x + y)"
        )

    _QQ_SQL = """
        qraw AS (
          SELECT vec_id,
                 list_max(list_transform(embedding, v -> abs(v::DOUBLE))) AS mx,
                 embedding
          FROM embeddings
        ),
        qq AS (
          SELECT vec_id,
                 CASE WHEN mx > 0
                      THEN list_transform(embedding,
                             v -> round(v::DOUBLE * 127.0 / mx)::TINYINT)
                      ELSE list_transform(embedding, v -> 0::TINYINT)
                 END AS qvec
          FROM qraw
          WHERE embedding IS NOT NULL AND isfinite(mx)
        )
    """
    sqls["embeddings_quantization_error"] = f"""
        WITH {_EMB_NORM_SQL},
        {_QQ_SQL},
        fq AS (
          SELECT vec_id AS q_id, v AS qv, norm AS qn
          FROM nv WHERE vec_id % 5 = 0
        ),
        fscored AS (
          SELECT q_id, c.vec_id AS n_id,
                 round({_emb_dot_sql("qv", "c.v")} / (qn * c.norm), 9) AS cos
          FROM fq CROSS JOIN nv c WHERE c.vec_id <> q_id
        ),
        ftop AS (
          SELECT q_id, n_id, rank, cos FROM (
            SELECT q_id, n_id, cos,
                   row_number() OVER (
                     PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
            FROM fscored
          ) WHERE rank <= {ANN_K}
        ),
        perr AS (
          SELECT q_id, n_id, rank, cos,
                 CASE WHEN na > 0 AND nb > 0
                      THEN round(dt::DOUBLE / sqrt(na::DOUBLE)
                                 / sqrt(nb::DOUBLE), 9) END AS qcos
          FROM (
            SELECT f.q_id, f.n_id, f.rank, f.cos,
                   {_qdot_sql("a.qvec", "b.qvec")} AS dt,
                   {_qdot_sql("a.qvec", "a.qvec")} AS na,
                   {_qdot_sql("b.qvec", "b.qvec")} AS nb
            FROM ftop f
            JOIN qq a ON f.q_id = a.vec_id
            JOIN qq b ON f.n_id = b.vec_id
          )
        ),
        qsc AS (
          SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                 CASE WHEN {_qdot_sql("a.qvec", "a.qvec")} > 0
                       AND {_qdot_sql("b.qvec", "b.qvec")} > 0
                      THEN round({_qdot_sql("a.qvec", "b.qvec")}::DOUBLE
                           / sqrt({_qdot_sql("a.qvec", "a.qvec")}::DOUBLE)
                           / sqrt({_qdot_sql("b.qvec", "b.qvec")}::DOUBLE), 9)
                 END AS qcos
          FROM qq a CROSS JOIN qq b
          WHERE a.vec_id % 5 = 0 AND b.vec_id <> a.vec_id
        ),
        qtop AS (
          SELECT q_id, n_id FROM (
            SELECT q_id, n_id,
                   row_number() OVER (
                     PARTITION BY q_id ORDER BY qcos DESC, n_id) AS rnk
            FROM qsc WHERE qcos IS NOT NULL
          ) WHERE rnk <= {ANN_K}
        ),
        inq AS (
          SELECT rank, count(*)::BIGINT AS n_in FROM perr
          WHERE EXISTS (SELECT 1 FROM qtop
                        WHERE qtop.q_id = perr.q_id
                          AND qtop.n_id = perr.n_id)
          GROUP BY 1
        ),
        agg AS (
          SELECT rank, count(*)::BIGINT AS n_pairs,
                 round(CAST(sum(CAST(round(abs(cos - qcos), 12)
                       AS DECIMAL(38,12))) AS DOUBLE) / count(*), 9)
                   AS mean_abs_err,
                 round(max(round(abs(cos - qcos), 12)), 9) AS max_abs_err
          FROM perr GROUP BY 1
        )
        SELECT agg.rank::INT AS rank, n_pairs, mean_abs_err, max_abs_err,
               round(coalesce(n_in, 0)::DOUBLE / n_pairs::DOUBLE, 9)
                 AS quant_topk_overlap
        FROM agg LEFT JOIN inq ON agg.rank = inq.rank
    """

    # Debounce: the sessionize window shape keyed by (user, type);
    # kept row = first of each burst, fully deterministic.
    sqls["events_debounce"] = f"""
        WITH e AS (
          SELECT user_id, event_type, event_id,
                 epoch_ns(ts) // 1000 AS us
          FROM events WHERE ts IS NOT NULL
        ),
        m AS (
          SELECT *, CASE WHEN lag(us) OVER w IS NULL
                          OR us - lag(us) OVER w
                             > {DEBOUNCE_GAP_SECONDS * 1_000_000}
                     THEN 1 ELSE 0 END AS is_new
          FROM e
          WINDOW w AS (PARTITION BY user_id, event_type ORDER BY us, event_id)
        ),
        s AS (
          SELECT *, sum(is_new) OVER (
            PARTITION BY user_id, event_type ORDER BY us, event_id
            ROWS UNBOUNDED PRECEDING) AS b
          FROM m
        )
        SELECT user_id, event_type, event_id, us AS kept_us,
               (cnt - 1)::BIGINT AS n_suppressed
        FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY user_id, event_type, b
                   ORDER BY us, event_id) AS rn,
                 count(*) OVER (
                   PARTITION BY user_id, event_type, b) AS cnt
          FROM s
        ) WHERE rn = 1
    """
    return sqls
