"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (its entity-resolution pipeline IS a fuzzy
dedup between two catalogs, SURVEY.md §2) -- these generalize it to the
operators an LLM-data pipeline needs, each designed for 100 TB:

* exact_dedup          -- content-hash groupBy; shuffle on a 64-hex key,
                          map-side partial agg, no skew (hashes uniform).
* MinHash + LSH        -- shingle -> k minhash sigs -> band -> bucket
                          equi-join. The candidate join is on (band, key)
                          buckets, so cost ~ sum of bucket^2 instead of
                          n^2; AQE skew-split handles hot buckets.
* SimHash              -- 64-bit signature per doc (two 32-bit halves)
                          from token-hash bit votes; near-dup = small
                          Hamming distance found via band buckets
                          (4 x 16-bit chunks -> any pair within
                          Hamming<=3 shares >=1 exact chunk by
                          pigeonhole; 65,536 bucket values per chunk).
* n-gram Jaccard       -- shingle equi-join + |A∩B| / (|A|+|B|-|A∩B|).
* embedding near-dup   -- cosine >= threshold pairs; two forms: the
                          exact blocked-GEMM path (BLAS block products,
                          linear shuffle) and the sub-quadratic
                          LSH-bucketed approximate path (adaptive bucket
                          width from operators.ann). A zero vector has
                          no cosine and pairs with nothing.

Hashes use functions.hashing.string_hash31 (cross-engine md5 fold) so every operator
has an exact DuckDB oracle. All plans are built-in expressions + joins --
no Python UDFs, no driver-side state.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import (
    MERSENNE31,
    string_hash31,
    string_hash32,
    word_shingles,
)
from ..functions.text import tokenize
from ..functions.vector import vec_dot

from ..serde import ship_by_value

# Worker-bound closures travel by value so executor Python workers
# never need this package on their own sys.path (see serde.py).
ship_by_value(__name__)

# Deterministic MinHash parameters: k universal hash functions
# h_i(x) = (a_i * x + b_i) mod p, generated by a fixed LCG so the Spark
# plan and the DuckDB oracle embed identical constants.
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = MINHASH_K // LSH_BANDS


def _lcg_params(k: int = MINHASH_K) -> list[tuple[int, int, int]]:
    seed = 1_103_515_245
    out = []
    for i in range(k):
        seed = (seed * 6_364_136_223_846_793_005 + 1_442_695_040_888_963_407) % (1 << 63)
        a = seed % (MERSENNE31 - 1) + 1
        seed = (seed * 6_364_136_223_846_793_005 + 1_442_695_040_888_963_407) % (1 << 63)
        b = seed % MERSENNE31
        out.append((i, a, b))
    return out


MINHASH_PARAMS: list[tuple[int, int, int]] = _lcg_params()


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, content_hash, keep): keep marks the min-id representative of
    each identical-content group. One shuffle on the hash; at 100 TB the
    sha-256 key is uniform so no skew, and the window is per tiny group.
    """
    from pyspark.sql import Window

    h = docs.select(
        F.col(id_col), F.sha2(F.col(text_col), 256).alias("content_hash")
    )
    w = Window.partitionBy("content_hash")
    return h.withColumn(
        "keep", (F.col(id_col) == F.min(id_col).over(w)).alias("keep")
    )


def shingle_hashes(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, sh) -- one row per distinct word-n-gram shingle per doc, with
    the cross-engine md5-based hash of the shingle.

    In-row shingling (r11 optimization): tokenize -> word_shingles
    (transform/slice with the per-doc distinct applied in-row) ->
    explode -> hash is entirely MAP-ONLY, so a downstream consumer's
    groupBy(id) is the pipeline's ONLY exchange. The previous
    posexplode + window-lead + corpus-wide distinct form paid an
    exchange+sort for the lead window and a second exchange for the
    distinct before any consumer aggregated -- measured 2.6x slower at
    sf0.1 with identical output (the per-doc distinct equals the
    corpus-wide (id, shingle) distinct). Docs shorter than ``n`` tokens
    contribute one whole-doc shingle (word_shingles' fallback).
    """
    return docs.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(tokenize(text_col), n)).alias("shingle"),
    ).select("id", string_hash31("shingle").alias("sh"))


def minhash_signatures_flat(sh: DataFrame, params=MINHASH_PARAMS) -> DataFrame:
    """(id, s0..s{k-1}): all k minhash values as flat columns from ONE
    groupBy(id) with k codegen'd MIN aggregates -- the hash constants are
    plan literals, so there is no k-fold row blowup and the only shuffle
    carries |shingle rows|, partially aggregated map-side."""
    cols = [
        F.min((F.lit(a) * F.col("sh") + F.lit(b)) % MERSENNE31).alias(f"s{i}")
        for i, a, b in params
    ]
    return sh.groupBy("id").agg(*cols)


def minhash_signatures(sh: DataFrame, params=MINHASH_PARAMS) -> DataFrame:
    """(id, i, sig): minhash signature value for hash function i.

    Long (unpivoted) form of :func:`minhash_signatures_flat` -- one stack()
    over the flat columns, kept for oracle checkability."""
    k = len(params)
    stack_args = ", ".join(f"{i}, s{i}" for i in range(k))
    return minhash_signatures_flat(sh, params).select(
        "id", F.expr(f"stack({k}, {stack_args}) as (i, sig)")
    )


def lsh_band_keys_flat(
    flat: DataFrame, bands: int = LSH_BANDS, k: int = MINHASH_K
) -> DataFrame:
    """(id, band, key) from the flat signature table: per-band keys are a
    plain concat of the band's columns -- no second aggregation at all."""
    rows = k // bands
    entries = [
        F.struct(
            F.lit(b).cast("int").alias("band"),
            F.concat_ws(
                ",", *[F.col(f"s{b * rows + i}").cast("string") for i in range(rows)]
            ).alias("key"),
        )
        for b in range(bands)
    ]
    return flat.select("id", F.explode(F.array(*entries)).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def minhash_lsh_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Candidate near-duplicate pairs (a_id < b_id) sharing >=1 LSH band
    bucket. The whole pipeline is shingle explode -> one partial-agg
    shuffle (k min aggregates) -> band-key explode -> one equi-join on
    (band, key)."""
    # persist: both join sides read the band table, and without the
    # barrier the whole shingle->hash->min pipeline runs twice. The
    # pre-persist hash repartition on the join key makes the cached
    # table expose HashPartitioning(band, key), so the self-join below
    # needs no exchange on either side (r11 optimization).
    bands = lsh_band_keys_flat(
        minhash_signatures_flat(shingle_hashes(docs, id_col, text_col, n))
    )
    bands = bands.repartition(
        bands.sparkSession.sparkContext.defaultParallelism, "band", "key"
    ).persist()
    a = bands.select("band", "key", F.col("id").alias("a_id"))
    b = bands.select("band", "key", F.col("id").alias("b_id"))
    return (
        a.join(b, ["band", "key"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sim_hi, sim_lo): 64-bit SimHash as two 32-bit halves.

    Each distinct token contributes 64 independent hash bits (two
    disjoint 32-bit md5 slices, functions.hashing.string_hash32) and
    votes +-1 on every signature bit; half ``lo`` packs bits 0-31,
    ``hi`` bits 32-63, so every packed value stays < 2^32 and all
    arithmetic is overflow-free signed-64 in BOTH engines (a single
    64-bit BIGINT would need bit 63 == the sign bit). Plan: explode
    distinct tokens -> ONE groupBy(id) with 64 codegen'd conditional
    SUMs -- no bit-table cross join, so the shuffle carries |token rows|
    partially aggregated map-side, not 64x that. Bit extraction is
    integer arithmetic ((h div 2^j) mod 2) so the DuckDB oracle is
    exact. (Widened from 31 bits: 8-bit candidate chunks capped bucket
    cardinality at 256, degenerating the candidate join toward n^2/256
    at billions of docs; 16-bit chunks give 65,536 bucket values.)
    """
    tok = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokenize(text_col))).alias("token"),
    ).select(
        "id",
        string_hash32("token", 1).alias("hlo"),
        string_hash32("token", 9).alias("hhi"),
    )
    votes = [
        F.sum(
            F.when(F.expr(f"({src} div {1 << j}) % 2") == 1, 1).otherwise(-1)
        ).alias(f"v_{name}{j}")
        for name, src in (("lo", "hlo"), ("hi", "hhi"))
        for j in range(32)
    ]

    def _pack(name: str) -> Column:
        packed = F.lit(0).cast("long")
        for j in range(32):
            packed = packed + F.when(
                F.col(f"v_{name}{j}") >= 0, F.lit(1 << j).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return packed

    return tok.groupBy("id").agg(*votes).select(
        "id", _pack("hi").alias("sim_hi"), _pack("lo").alias("sim_lo")
    )


def simhash_near_pairs(sigs: DataFrame, chunks: int = 4) -> DataFrame:
    """Near-dup candidates: pairs whose 64-bit SimHash shares >=1 of 4
    16-bit chunks (pigeonhole: catches every pair with Hamming <= 3).
    Returns (a_id, b_id, hamming).

    16-bit chunk keys give 65,536 bucket values per chunk, so bucket
    sizes -- and the per-bucket quadratic candidate join -- stay bounded
    far longer than the previous 8-bit/256-value chunking; uniform md5
    bits mean no hot buckets, and AQE splits any residual skew."""
    chunk_bits = 16
    per_half = 32 // chunk_bits
    c = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("chunk"),
                    F.shiftrightunsigned(
                        F.col("sim_hi" if i >= per_half else "sim_lo"),
                        (i % per_half) * chunk_bits,
                    )
                    .bitwiseAND((1 << chunk_bits) - 1)
                    .alias("ckey"),
                )
                for i in range(chunks)
            ]
        )
    )
    chunked = sigs.select("id", "sim_hi", "sim_lo", c.alias("c")).select(
        "id", "sim_hi", "sim_lo", "c.chunk", "c.ckey"
    ).persist()
    a = chunked.select(
        "chunk", "ckey", F.col("id").alias("a_id"),
        F.col("sim_hi").alias("ha_hi"), F.col("sim_lo").alias("ha_lo"),
    )
    b = chunked.select(
        "chunk", "ckey", F.col("id").alias("b_id"),
        F.col("sim_hi").alias("hb_hi"), F.col("sim_lo").alias("hb_lo"),
    )
    hamming = (
        F.bit_count(F.col("ha_hi").bitwiseXOR(F.col("hb_hi")))
        + F.bit_count(F.col("ha_lo").bitwiseXOR(F.col("hb_lo")))
    )
    return (
        a.join(b, ["chunk", "ckey"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", hamming.alias("hamming"))
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.0,
    broadcast_sizes: bool = True,
) -> DataFrame:
    """(a_id, b_id, jaccard) for doc pairs sharing >=1 word n-gram.

    |A ∩ B| from the shingle equi-join, |A|,|B| from joined per-doc
    shingle counts -- same shape as the TF-IDF similarity join, so the
    same scale story (shuffle on shingle, partial aggs, AQE skew). The
    size table is one row per doc; like the norm joins, pass
    ``broadcast_sizes=False`` to flip to shuffle joins once the corpus
    outgrows the broadcast limit."""
    # hash-repartition on the join key BEFORE the persist (r11
    # optimization): the cached table then exposes
    # HashPartitioning(sh), so the self-join below needs NO exchange on
    # either side -- one pre-persist exchange replaces two post-cache
    # ones, and a single-partition input (one parquet row group) cannot
    # serialize the pair join
    sh = shingle_hashes(docs, id_col, text_col, n)
    sh = sh.repartition(
        sh.sparkSession.sparkContext.defaultParallelism, "sh"
    ).persist()
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    if broadcast_sizes:
        sizes = F.broadcast(sizes)
    inter = (
        sh.select("sh", F.col("id").alias("a_id"))
        .join(sh.select("sh", F.col("id").alias("b_id")), "sh")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        inter.join(sizes.select(F.col("id").alias("a_id"), F.col("n_sh").alias("n_a")), "a_id")
        .join(sizes.select(F.col("id").alias("b_id"), F.col("n_sh").alias("n_b")), "b_id")
        .select(
            "a_id",
            "b_id",
            (F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias("jaccard"),
        )
    )
    if min_jaccard > 0.0:
        out = out.where(F.col("jaccard") >= min_jaccard)
    return out


def embedding_norms(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    from .ann import _norm_vecs

    return _norm_vecs(emb, id_col, vec_col)


def embedding_near_dup_pairs_blocked(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact (a_id, b_id, cos >= threshold) via block-matrix products --
    the scale-correct form of the all-pairs cosine query.

    Why not LSH here: exactness at a threshold barely above the
    background cosine distribution (the declared query's 0.35 sits at
    the 99.9th pct of random-pair similarity) is information-
    theoretically a full n^2 comparison -- no bucketing scheme can have
    recall 1 while pruning. What CAN change is how the Theta(n^2 * dim)
    FLOPs execute: one dgemm per block pair instead of |pairs|
    interpreted zip_with folds.

    Plan: rows are hash-bucketed into ``n_blocks`` by id; each unordered
    block pair (bi <= bj) becomes ONE applyInPandas group holding the
    two (rows x dim) panels, multiplied with a single BLAS matmul; only
    above-threshold entries are emitted. Every unordered vector pair
    lands in exactly one group, so coverage is exact with no dedup pass.
    Shuffle volume is ~n_blocks * n rows (linear, each row replicated
    ~n_blocks times) -- never n^2; executor memory is bounded by two
    panels (~n/n_blocks * dim doubles). Grow n_blocks ~ sqrt(cluster
    cores) so the n_blocks^2/2 groups saturate executors while panels
    stay cache-resident. The approximate sub-quadratic alternative is
    :func:`embedding_near_dup_pairs_lsh`.
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    # ids pass through untyped-changed (string/UUID keys work); block
    # assignment hashes the id, which is type-agnostic and uniform
    id_type = emb.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("a_id", id_type),
            StructField("b_id", id_type),
            StructField("cos", DoubleType()),
        ]
    )

    nv = embedding_norms(emb, id_col, vec_col).select(
        "id",
        "v",
        "norm",
        F.pmod(F.xxhash64("id"), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    block_pairs = [(bi, bj) for bi in range(n_blocks) for bj in range(bi, n_blocks)]
    pairs_df = nv.sparkSession.createDataFrame(block_pairs, "bi INT, bj INT")
    tagged = nv.join(pairs_df, nv.blk == pairs_df.bi).select(
        "bi", "bj", F.lit(0).alias("side"), "id", "v", "norm"
    ).unionByName(
        nv.join(pairs_df, nv.blk == pairs_df.bj).select(
            "bi", "bj", F.lit(1).alias("side"), "id", "v", "norm"
        )
    )

    # BLAS blocked/FMA accumulation reorders the dot-product sum, so the
    # matmul value can differ from the oracle's sequential fold in the
    # last ulps. The matmul therefore only DETECTS candidates (threshold
    # minus a margin far above BLAS noise); every candidate's cosine is
    # then recomputed with a dimension-sequential fold -- one numpy
    # mul+add per dimension, no reassociation, no FMA -- which is
    # bit-identical to DuckDB's list_reduce and the JVM zip_with fold,
    # and the exact value decides the threshold. Cost of the rerank is
    # proportional to candidates (~output), not to the n^2 grid.
    _MARGIN = 1e-9

    def _panel(rows, dim):
        # zero-pad ragged/None vectors (matches the LSH path's padding)
        import numpy as np

        m = np.zeros((len(rows), dim), dtype="float64")
        for i, vec in enumerate(rows):
            if vec is None:
                continue
            a = np.nan_to_num(
                np.asarray(vec[:dim], dtype="float64"), nan=0.0, posinf=0.0, neginf=0.0
            )
            m[i, : len(a)] = a
        return m

    def _gemm(key, pdf):
        import numpy as np
        import pandas as pd

        bi, bj = key
        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame({"a_id": [], "b_id": [], "cos": []}).astype(
                {"cos": "float64"}
            )
        # untyped: numeric ids arrive int64, string ids arrive object --
        # numpy elementwise </min/max work for both
        ida = a["id"].to_numpy()
        idb = b["id"].to_numpy()
        dim = max(
            (len(v) for v in pdf["v"].to_numpy() if v is not None), default=0
        )
        va = _panel(a["v"].to_numpy(), dim)
        vb = _panel(b["v"].to_numpy(), dim)
        na = a["norm"].to_numpy(dtype="float64")
        nb = b["norm"].to_numpy(dtype="float64")
        approx = (va / na[:, None]) @ (vb / nb[:, None]).T  # ONE BLAS matmul
        # each unordered pair exactly once: ordered by id inside the
        # diagonal group, all-cross otherwise (a_id/b_id then min/max)
        mask = (approx >= threshold - _MARGIN) & (
            ida[:, None] < idb[None, :] if bi == bj else np.ones_like(approx, dtype=bool)
        )
        ii, jj = np.nonzero(mask)
        # exact rerank: sequential fold over dimensions, vectorized
        # across candidate pairs (each step is a separate mul then add --
        # bit-identical to the scalar left-to-right fold)
        dots = np.zeros(len(ii), dtype="float64")
        pa, pb = va[ii], vb[jj]
        for d in range(dim):
            dots = dots + pa[:, d] * pb[:, d]
        cos = dots / (na[ii] * nb[jj])
        keep = cos >= threshold
        ii, jj, cos = ii[keep], jj[keep], cos[keep]
        lo = np.minimum(ida[ii], idb[jj])
        hi = np.maximum(ida[ii], idb[jj])
        return pd.DataFrame({"a_id": lo, "b_id": hi, "cos": cos})

    return tagged.groupBy("bi", "bj").applyInPandas(_gemm, out_schema)


def embedding_near_dup_pairs_lsh(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rows_per_band: int | None = None,
) -> DataFrame:
    """Approximate (a_id, b_id, cos >= threshold): candidates = pairs
    sharing >=1 sign-LSH band bucket (operators.ann signatures, adaptive
    bucket width), exact cosine rerank + threshold only within buckets.

    Sub-quadratic: candidate cost ~ sum of bucket^2 with bucket size
    pinned ~TARGET_BUCKET_ROWS by the adaptive width, vs n^2 for the
    exact paths. Recall < 1 BY DESIGN -- pairs whose similarity barely
    clears the threshold are the likeliest misses (sign-bit agreement
    p = 1 - acos(cos)/pi per plane). The oracle mirrors the bucketing,
    so the check is exact over the operator's actual semantics.
    """
    from .ann import lsh_signatures

    sigs = lsh_signatures(emb, id_col, vec_col, rows_per_band=rows_per_band).persist()
    cand = (
        sigs.select("band", "bucket", F.col("id").alias("a_id"))
        .join(sigs.select("band", "bucket", F.col("id").alias("b_id")), ["band", "bucket"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    nv = embedding_norms(emb, id_col, vec_col)
    a = nv.select(F.col("id").alias("a_id"), F.col("v").alias("va"), F.col("norm").alias("na"))
    b = nv.select(F.col("id").alias("b_id"), F.col("v").alias("vb"), F.col("norm").alias("nb"))
    return (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            F.try_divide(
                vec_dot("va", "vb"), F.col("na") * F.col("nb")
            ).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def prefix_blocking_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_len: int = 8,
) -> DataFrame:
    """Prefix blocking -- the third classic entity-resolution candidate
    generator beside token blocking (ScalableEntityResolution's inverted
    index) and LSH: records whose normalized text shares its first
    ``prefix_len`` characters become candidate pairs. Cheap and
    high-precision for catalog data where titles share stems
    ("adobe photoshop cs", "adobe photoshop elements").

    Normalization: lowercase, strip every non-letter/digit (Unicode
    classes \\p{L}/\\p{N}, so accented and CJK text keeps its
    characters) -- spacing/punctuation variants block together.
    Diacritic folding (e vs é) is deliberately out of scope: fold
    upstream if the catalog needs it. Returns (a_id, b_id, block_key),
    a < b; each doc carries exactly one block key, so the join emits
    each pair exactly once -- no distinct pass over the pair table.

    Scale: one map-only key projection + a bucket equi-join on the
    block key -- cost ~ sum of block sizes squared, the same story as
    the LSH band join; a pathological hot prefix is a data-quality
    signal (measure with stats.heavy_hitters on the key table) and
    falls to AQE skew splitting.
    """
    if prefix_len < 1:
        raise ValueError(f"prefix_blocking_pairs: prefix_len must be >= 1")
    norm = F.regexp_replace(
        F.lower(F.col(text_col)), r"[^\p{L}\p{N}]", ""
    )
    keyed = docs.select(
        F.col(id_col).alias("id"),
        F.substring(norm, 1, prefix_len).alias("block_key"),
    ).where(F.length("block_key") > 0)
    a = keyed.select(F.col("id").alias("a_id"), "block_key")
    b = keyed.select(F.col("id").alias("b_id"), "block_key")
    return (
        a.join(b, "block_key")
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "block_key")
    )


class IncrementalDedupResult(NamedTuple):
    result: DataFrame
    delta_hashes: DataFrame
    delta_bands: DataFrame
    bands: DataFrame  # persisted -- release() after materializing outputs


def incremental_dedup(
    new_docs: DataFrame,
    history_hashes: DataFrame | None,
    history_bands: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    persist_bands: bool = True,
) -> "IncrementalDedupResult":
    """Daily-batch dedup against an accumulated corpus history -- the
    production shape where the 100 TB side is the HISTORY and today's
    batch is comparatively small.

    Classifies every new doc on four audit flags:

    * ``exact_dup_history`` -- content hash already in
      ``history_hashes`` (a (content_hash) table);
    * ``exact_dup_batch``   -- identical content to a lower-id doc in
      the same batch;
    * ``near_dup_history``  -- shares a MinHash LSH band bucket with
      ``history_bands`` (a (band, key) table, as produced by
      :func:`lsh_band_keys_flat` -- pass None to skip near-dedup);
    * ``near_dup_batch``    -- bucket-collides with a lower-id batch
      doc;

    and ``keep`` = none of the above. Returns an
    ``IncrementalDedupResult(result, delta_hashes, delta_bands, bands)``
    where the deltas are the KEPT docs' hash/band rows -- exactly what
    gets appended to the history tables for tomorrow's run -- and
    ``bands`` is the batch's PERSISTED band table (it feeds the history
    probe, the self-join and the delta): after materializing the
    outputs, pass it to ``functions.lineage.release`` or the cached
    copy stays pinned for the session (one leaked table per daily run
    otherwise).

    Plan shape at scale: the history side is only ever probed with
    equi-joins on (content_hash) / (band, key). Store both history
    tables BUCKETED on those keys (`sources/bucketed.py`) and the
    daily run shuffles ONLY the new batch -- the history's exchange is
    elided by its bucket layout; nothing ever scans history twice.
    Within-batch checks run on the batch alone (one hash window + one
    self band-join -- batch-sized, not history-sized).

    ``persist_bands=False`` keeps plain re-evaluation semantics (no
    barrier of any kind): zero cache residue at the price of the band
    build running once per consumer. Long-lived cluster sessions
    should keep ``True`` and ``lineage.release()`` the returned
    handle.
    """
    ex = exact_dedup(new_docs, id_col, text_col)
    if history_hashes is not None:
        hh = history_hashes.select(
            F.col("content_hash").alias("_h_hash")
        ).distinct()
        ex = ex.join(
            hh, ex.content_hash == F.col("_h_hash"), "left"
        ).select(
            id_col,
            "content_hash",
            F.col("_h_hash").isNotNull().alias("exact_dup_history"),
            (~F.col("keep")).alias("exact_dup_batch"),
        )
    else:
        ex = ex.select(
            id_col,
            "content_hash",
            F.lit(False).alias("exact_dup_history"),
            (~F.col("keep")).alias("exact_dup_batch"),
        )
    # persist: the band table feeds the history probe (when
    # history_bands is given), BOTH sides of the batch self-join, and
    # the returned delta -- up to FOUR consumers; persist_bands=False
    # trades that many re-evaluations for zero cache residue, the rule
    # the semantic assignments always follow -- release() on the
    # returned handle is then a no-op. (r12 measured a lazy
    # localCheckpoint barrier here, the fingerprints' one rule, and
    # REVERTED it: interleaved same-session A/B at sf0.1 showed the
    # barrier neutral-to-slower -- the band build is a cheap in-row
    # map whose redundant branch evaluations overlap on idle cores,
    # while winnowing's O(len*window) selection is heavy enough to pay
    # for its barrier. persist_bands=True remains the documented
    # at-scale form.)
    bands_new = lsh_band_keys_flat(
        minhash_signatures_flat(shingle_hashes(new_docs, id_col, text_col, n))
    )
    if persist_bands:
        bands_new = bands_new.persist()
    if history_bands is not None:
        near_hist = (
            bands_new.join(
                history_bands.select("band", "key"), ["band", "key"], "left_semi"
            )
            .select(F.col("id").alias("_nh_id"))
            .distinct()
            .withColumn("_near_hist", F.lit(True))
        )
    else:
        near_hist = None
    # batch near-dups: the HIGHER id of each bucket collision is the dup
    # (min-id representative survives, mirroring exact_dedup's keep)
    a = bands_new.select("band", "key", F.col("id").alias("a_id"))
    b = bands_new.select("band", "key", F.col("id").alias("b_id"))
    near_batch = (
        a.join(b, ["band", "key"])
        .where(F.col("a_id") < F.col("b_id"))
        .select(F.col("b_id").alias("_nb_id"))
        .distinct()
        .withColumn("_near_batch", F.lit(True))
    )
    out = ex
    if near_hist is not None:
        out = out.join(near_hist, out[id_col] == F.col("_nh_id"), "left").drop(
            "_nh_id"
        )
    else:
        out = out.withColumn("_near_hist", F.lit(False))
    out = (
        out.join(near_batch, out[id_col] == F.col("_nb_id"), "left")
        .drop("_nb_id")
        .select(
            id_col,
            "content_hash",
            "exact_dup_history",
            "exact_dup_batch",
            F.coalesce("_near_hist", F.lit(False)).alias("near_dup_history"),
            F.coalesce("_near_batch", F.lit(False)).alias("near_dup_batch"),
        )
        .withColumn(
            "keep",
            ~(
                F.col("exact_dup_history")
                | F.col("exact_dup_batch")
                | F.col("near_dup_history")
                | F.col("near_dup_batch")
            ),
        )
    )
    kept_ids = out.where("keep").select(F.col(id_col).alias("_keep_id"))
    delta_hashes = (
        out.where("keep").select("content_hash").distinct()
    )
    delta_bands = bands_new.join(
        kept_ids, bands_new.id == F.col("_keep_id"), "left_semi"
    ).select("id", "band", "key")
    return IncrementalDedupResult(out, delta_hashes, delta_bands, bands_new)


def cluster_representatives(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "keep_id",
    score_col: str = "quality_score",
) -> DataFrame:
    """(id, cluster_id, rep_id, is_rep): quality-aware representative
    selection over a dedup clustering -- keep the BEST document of each
    near-dup cluster, not the smallest id.

    ``components.dedup_clusters`` canonicalizes to the min id, which is
    the right *label* (stable, orderless) but the wrong *survivor*: a
    near-dup cluster usually holds one clean original and N mangled
    copies, and production dedup keeps the highest-quality member (the
    SemDeDup/CCNet policy). This takes any (id, cluster) assignment plus
    any per-id score table (e.g. ``textstats.text_quality``) and picks
    ``rep_id`` = argmax score per cluster, ties to the smallest id; ids
    missing from ``scores`` (NULL score) lose to any scored member --
    even one scored -inf (a distinct is-scored rank field, not a
    sentinel) -- and fall back to min-id order among themselves. Ids may
    be any orderable type (numeric, string, ...): the tie-break orders
    the id itself, it is never negated. A NaN score loses to every
    finite score but still beats unscored members -- garbage-scored
    over unscored over nothing. The NaN policy rides an EXPLICIT
    is-nan rank field (not Spark's -NaN-stays-NaN ordering accident),
    so the DuckDB oracle -- where NaN sorts ABOVE +inf under ORDER BY
    DESC, the opposite of a negated-score min -- mirrors the same
    three-tier order with coalesce(isnan(score), FALSE) (r4 advice).

    Scale shape: one partial-aggregated groupBy(cluster) computing the
    argmax IN-ROW as min(struct(unscored, -score, id)) -- no per-cluster
    window, no second shuffle of the corpus -- then one equi-join of the
    (tiny, one-row-per-cluster) representative table back onto the
    assignment.
    """
    cid = F.col(cluster_col)
    j = clusters.select(F.col(id_col).alias("_id"), cid.alias("_cid")).join(
        scores.select(F.col(id_col).alias("_id"), F.col(score_col).alias("_s")),
        "_id",
        "left",
    )
    # struct min: scored (0) before unscored (1), finite (0) before NaN
    # (1), then smallest -score = greatest score (the when-branches feed
    # the NULL/NaN tiers a constant so those tiers fall straight to the
    # id tie-break), then smallest id
    _s = F.col("_s")
    degenerate = _s.isNull() | F.isnan(_s)
    reps = (
        j.groupBy("_cid")
        .agg(
            F.min(
                F.struct(
                    _s.isNull().cast("int").alias("unscored"),
                    (_s.isNotNull() & F.isnan(_s)).cast("int").alias("is_nan"),
                    F.when(degenerate, F.lit(0.0)).otherwise(-_s).alias("neg_s"),
                    F.col("_id").alias("rid"),
                )
            ).alias("_m")
        )
        .select("_cid", F.col("_m.rid").alias("rep_id"))
    )
    return (
        clusters.select(F.col(id_col).alias("_id"), cid.alias("_cid"))
        .join(reps, "_cid")
        .select(
            F.col("_id").alias(id_col),
            F.col("_cid").alias("cluster_id"),
            "rep_id",
            (F.col("_id") == F.col("rep_id")).cast("long").alias("is_rep"),
        )
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup (the Lee et al. 2022 "Deduplicating Training
# Data Makes Language Models Better" ExactSubstr family): find and
# remove long character spans that are REPEATED anywhere in the corpus,
# including spans crossing line boundaries -- the gap left between
# dedup_lines (whole repeated lines) and the document-level families
# (X1-X6). The reference engine has no counterpart; this is the
# training-data-pipeline extension surface.
# ---------------------------------------------------------------------------


def winnow_fingerprints(
    docs: DataFrame,
    width: int = 25,
    window: int = 15,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, pos, h): the winnowing-selected k-gram fingerprints of every
    document -- the shared detection stage of :func:`duplicate_spans`
    and :func:`incremental_duplicate_spans` (one definition, so the
    batch and incremental forms cannot drift). See
    :func:`duplicate_spans` for the selection semantics and guarantee;
    hashing and selection are in-row, only the ~2*len/window selected
    fingerprints leave the row."""
    if width < 1 or window < 1:
        raise ValueError(
            f"winnow_fingerprints: need width >= 1 and window >= 1, "
            f"got {width}, {window}"
        )
    text = F.col(text_col)
    # 60-bit k-gram hash: first 15 md5 hex digits (mirrors
    # functions.hashing.string_hash31 minus the mod -- winnowing needs
    # only an order, and the wider value doubles as the duplicate key)
    kgram_hash = lambda i: F.conv(  # noqa: E731
        F.substring(F.md5(F.substr(text, i, F.lit(width))), 1, 15), 16, 10
    ).cast("long")
    n_pos = F.length(text) - width + 1  # k-gram positions
    hashed = (
        docs.where(F.length(text) >= width + window - 1)
        .select(
            F.col(id_col).alias("id"),
            text.alias(text_col),
            F.transform(F.sequence(F.lit(1), n_pos), kgram_hash).alias("_hl"),
        )
    )
    hl = F.col("_hl")
    # winnow: rightmost minimal hash of each window of `window`
    # consecutive positions; distinct because adjacent windows usually
    # re-select the same position
    sel = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(hl) - window + 1),
            lambda j: F.aggregate(
                F.sequence(j, j + window - 1),
                F.struct(
                    F.lit(1 << 62).cast("long").alias("h"),
                    F.lit(0).cast("long").alias("p"),
                ),
                lambda acc, i: F.when(
                    (F.element_at(hl, i) < acc["h"])
                    | ((F.element_at(hl, i) == acc["h"]) & (i.cast("long") > acc["p"])),
                    F.struct(
                        F.element_at(hl, i).alias("h"), i.cast("long").alias("p")
                    ),
                ).otherwise(acc),
                lambda acc: acc["p"],
            ),
        )
    )
    return hashed.select("id", "_hl", F.explode(sel).alias("pos")).select(
        "id", "pos", F.element_at(hl, F.col("pos").cast("int")).alias("h")
    )


def _merge_position_spans(dupw: DataFrame, width: int, id_col: str) -> DataFrame:
    """(id, span_idx, span_start, span_end, n_windows) from an
    (_id, _st) table of duplicated fingerprint positions: one
    groupBy(id) collects the doc's own positions (bounded by doc
    length), then a linear in-row fold merges overlapping/adjacent
    [p, p+width-1] intervals -- never a per-doc window over the
    corpus-wide exploded stream."""
    per_doc = dupw.groupBy("_id").agg(
        F.sort_array(F.collect_list("_st")).alias("_starts")
    )
    last = lambda acc: F.element_at(acc, -1)  # noqa: E731
    spans = F.aggregate(
        F.col("_starts"),
        F.expr("CAST(array() AS array<struct<s BIGINT, e BIGINT, n BIGINT>>)"),
        lambda acc, st: F.when(
            (F.size(acc) > 0) & (st <= last(acc)["e"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        last(acc)["s"].alias("s"),
                        F.greatest(last(acc)["e"], st + width - 1).alias("e"),
                        (last(acc)["n"] + 1).alias("n"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(
                        st.alias("s"),
                        (st + width - 1).alias("e"),
                        F.lit(1).cast("long").alias("n"),
                    )
                ),
            )
        ),
    )
    return (
        per_doc.select("_id", F.posexplode(spans).alias("_i", "_sp"))
        .select(
            F.col("_id").alias(id_col),
            F.col("_i").cast("long").alias("span_idx"),
            F.col("_sp.s").alias("span_start"),
            F.col("_sp.e").alias("span_end"),
            F.col("_sp.n").alias("n_windows"),
        )
    )


def duplicate_spans(
    docs: DataFrame,
    width: int = 25,
    window: int = 15,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, span_idx, span_start, span_end, n_windows): maximal
    character spans of each document covered by corpus-duplicated
    winnowing fingerprints -- a scalable approximation of suffix-array
    ExactSubstr dedup (Lee et al. 2022; exact suffix automata don't
    distribute).

    Selection is WINNOWING (Schleimer/Wilkerson/Aiken 2003, the MOSS
    fingerprinting scheme), not strided sampling: every position's
    ``width``-char k-gram is hashed (md5-derived 60-bit), and within
    each run of ``window`` consecutive positions the rightmost minimal
    hash is selected. Selection depends only on LOCAL CONTENT, never on
    document offsets, which gives the deterministic guarantee strided
    windows cannot: any substring repeated anywhere in the corpus
    (another document or elsewhere in the same one) of length >=
    ``width + window - 1`` shares at least one selected fingerprint at
    every occurrence (a winnow window fully inside the repeat selects
    identically in every copy). A fingerprint whose hash occurs >=
    ``min_count`` times corpus-wide is duplicated; runs of
    overlapping/adjacent duplicated k-gram intervals merge into one
    span [span_start, span_end] (1-based, inclusive, like SQL substr).
    Spans are conservative at repeat edges (selection within
    ``width + window - 1`` chars of an edge mixes with surrounding
    text), and docs shorter than the guarantee length contribute no
    fingerprints. At extreme corpus scale the 60-bit hash admits rare
    collisions (false duplicate marks); widen to the full md5 if a
    collision-free mark matters more than fingerprint row width.

    Scale shape: hashing AND selection are in-row (two chained
    map-only projections -- kept separate so the hash array evaluates
    once; selection costs O(len * window) array reads per doc), and
    only the ~2*len/window SELECTED fingerprints leave the row. ONE
    partial-agg groupBy counts hashes; duplicated fingerprints come
    back via a hash equi-join (left_semi -- the duplicate-hash side is
    NOT broadcast-pinned: boilerplate-heavy corpora have huge duplicate
    sets, so AQE decides); the span merge is IN-ROW (one groupBy(id)
    collecting the doc's own duplicated positions -- bounded by doc
    length -- then a linear fold), never a per-doc window over the
    corpus-wide exploded stream.

    The batch run IS :func:`incremental_duplicate_spans` over an empty
    history (one kernel, so the two forms cannot drift); its lazy
    fingerprint checkpoint leaves nothing in the CacheManager and its
    blocks free with the plan. Call the incremental form directly to
    get the releasable handle.
    """
    return incremental_duplicate_spans(
        docs, None, width, window, min_count, id_col, text_col
    ).spans


class IncrementalSpansResult(NamedTuple):
    spans: DataFrame       # the batch docs' duplicate spans
    delta_counts: DataFrame  # (h, cnt) of the batch -- append/merge into history
    fingerprints: DataFrame  # lazy localCheckpoint -- lineage.release() after
    # materializing outputs frees its blocks at once (else the
    # ContextCleaner frees them when the plan is garbage-collected)


def incremental_duplicate_spans(
    batch_docs: DataFrame,
    history_counts: DataFrame | None,
    width: int = 25,
    window: int = 15,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> IncrementalSpansResult:
    """Daily-batch form of :func:`duplicate_spans` against an
    accumulated corpus: a batch fingerprint is duplicated when its
    corpus-wide count -- history count PLUS batch count -- reaches
    ``min_count``, exactly as if :func:`duplicate_spans` had run over
    history-union-batch and kept only the batch docs' spans (the
    equivalence a test pins). ``history_counts`` is an (h, cnt)
    fingerprint-count table (None = empty history = the plain batch
    run :func:`duplicate_spans` delegates to); the returned
    ``delta_counts`` is the batch's own (h, cnt) table for the caller
    to merge into history (sum counts on h).

    UNLIKE :func:`incremental_dedup` the merge is NOT rerun-idempotent:
    history is a COUNT (summed on merge), not a set probed by
    existence, so re-merging the same batch's delta after a crash
    double-counts its fingerprints -- every batch hash reaches
    ``min_count`` and a rerun marks essentially all fingerprinted text
    of the batch as duplicated (reruns only ever WIDEN spans; piped
    into :func:`remove_duplicate_spans` that strips the batch). Merge
    the delta only AFTER the batch's cleaned outputs have committed,
    or key the history merge by a batch id so replayed merges
    deduplicate (insert-if-absent on (batch_id, h)) -- then a rerun
    BEFORE the merge recomputes identical spans and a replayed merge
    is a no-op.

    Materialization: the selected fingerprints feed the count, the
    semi join and the delta, and the winnowing selection is the
    pipeline's one compute-heavy map stage, so it sits behind a LAZY
    ``localCheckpoint``: it evaluates once, at the first consuming
    job, and leaves no CacheManager entry (measured 1.3 s faster per
    run at sf0.1 than evaluating it twice). The returned
    ``fingerprints`` handle is that checkpoint; ``lineage.release()``
    it after materializing the outputs. Its blocks are unreplicated
    executor-local storage with the lineage truncated: an executor
    lost mid-run fails the run, and the recovery is a rerun from the
    start.

    Scale shape mirrors incremental_dedup: the 100 TB side is HISTORY,
    touched only by ONE equi-join probe on the fingerprint hash --
    store it bucketed on h and the daily run shuffles only the batch's
    selected fingerprints (~2*len/window rows per doc), never the
    accumulated corpus. History spans don't retro-update (a span in an
    OLD doc first duplicated by today's batch is reported when that doc
    is next reprocessed) -- the standard incremental-dedup contract.
    """
    if min_count < 2:
        raise ValueError(
            f"incremental_duplicate_spans: min_count must be >= 2, got {min_count}"
        )
    fp = winnow_fingerprints(
        batch_docs, width, window, id_col, text_col
    ).localCheckpoint(eager=False)
    bc = fp.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
    if history_counts is not None:
        hist = history_counts.select(
            F.col("h").alias("_hh"), F.col("cnt").alias("_hcnt")
        )
        totals = bc.join(hist, bc.h == F.col("_hh"), "left").select(
            "h",
            (F.col("cnt") + F.coalesce(F.col("_hcnt"), F.lit(0))).alias("_total"),
        )
    else:
        totals = bc.select("h", F.col("cnt").alias("_total"))
    dup = totals.where(F.col("_total") >= min_count).select("h")
    dupw = fp.join(dup, "h", "left_semi").select(
        F.col("id").alias("_id"), F.col("pos").alias("_st")
    )
    return IncrementalSpansResult(
        _merge_position_spans(dupw, width, id_col), bc, fp
    )


def remove_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Subtract :func:`duplicate_spans` output from the documents:
    (id, text_clean, n_removed_chars) with every [span_start, span_end]
    range cut out and the remainder concatenated in order -- the
    "remove the repeated span, keep the document" ExactSubstr policy
    (contrast the document-level families, which drop whole docs).

    Docs with no spans pass through unchanged (n_removed_chars 0).
    Spans are collected per doc (bounded by doc length), sorted, and
    subtracted with ONE in-row fold walking the text left to right --
    the only shuffles are the span groupBy and the (id) equi-join back
    onto the docs. Assumes non-overlapping sorted spans as produced by
    :func:`duplicate_spans` (merged maximal runs).
    """
    for c in ("_id", "_spans"):
        if c in docs.columns:
            raise ValueError(
                f"remove_duplicate_spans: input already has column {c!r}"
            )
    sp = spans.groupBy(F.col(id_col).alias("_id")).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e")))
        ).alias("_spans")
    )
    text = F.col(text_col)
    joined = docs.join(
        sp, docs[id_col] == F.col("_id"), "left"
    ).drop("_id")
    folded = F.aggregate(
        F.coalesce(
            F.col("_spans"),
            F.expr("CAST(array() AS array<struct<s BIGINT, e BIGINT>>)"),
        ),
        F.struct(
            F.lit(1).cast("long").alias("pos"), F.lit("").alias("acc")
        ),
        lambda st, sp_: F.struct(
            (sp_["e"] + 1).alias("pos"),
            F.concat(
                st["acc"], F.substr(text, st["pos"], sp_["s"] - st["pos"])
            ).alias("acc"),
        ),
        lambda st: F.concat(
            st["acc"], F.substr(text, st["pos"], F.length(text) - st["pos"] + 1)
        ),
    )
    removed = F.coalesce(
        F.aggregate(
            F.col("_spans"),
            F.lit(0).cast("long"),
            lambda a, s: a + (s["e"] - s["s"] + 1),
        ),
        F.lit(0).cast("long"),
    )
    return joined.select(
        F.col(id_col),
        F.coalesce(folded, F.lit("")).alias("text_clean"),
        removed.alias("n_removed_chars"),
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: DataFrame | None = None,
) -> DataFrame:
    """(id, cluster, keep): SemDeDup-style semantic dedup (Abbas et al.
    2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication"): k-means coarse clustering over the
    embeddings, near-duplicate pairs searched only WITHIN each cluster
    (cosine >= ``threshold``), and the smallest-id member of every
    duplicate pair kept -- the embedding-space complement of the
    lexical families: it removes *semantic* duplicates (paraphrases,
    re-encodings) no shingle or line hash can see.

    ``threshold`` is deliberately REQUIRED: the right operating point
    is a property of the embedding space, not of this operator.
    SemDeDup-style dedup on real sentence/document embedding models
    typically runs at cosine ~0.9+; this repo's synthetic benchmark
    corpus is gated at 0.35 only because that is the 99.9th percentile
    of the GENERATED cosine distribution -- a value that low on a real
    space would silently drop large fractions of the corpus.

    Scale shape: assignment is the map-only literal-centroid argmax
    (:func:`ann._assign_from_lit`, the single definition of
    corpus-to-centroid assignment -- centroids are k x dim driver-held model
    state embedded in the plan, ZERO corpus exchanges; cluster, v and
    norm come out of ONE projection, never a join back); candidate
    pairing is an equi-join on the cluster id, cost ~ sum cluster_i^2
    instead of n^2. That is the SemDeDup bargain: a >= threshold pair
    STRADDLING a cluster boundary is missed BY DESIGN (recall < 1,
    bounded by how well k-means separates; raise k to shrink clusters
    and the quadratic term, at the price of more boundary misses).
    Survivor policy here is min-id per duplicate pair (deterministic,
    join-free: drop any vector that pairs with a smaller id); the
    paper's keep-farthest-from-centroid policy is an ORDER swap over
    the same plan -- for quality-aware survivors compose with
    :func:`cluster_representatives` instead.

    The batch run IS :func:`incremental_semantic_dedup` over an empty
    history (one kernel, so the two forms cannot drift): this form only
    derives default centroids when none are given and projects the
    result to (id, cluster, keep BIGINT).
    """
    if cents is None:
        from .ann import N_CENTROIDS, _init_centroids, _norm_vecs

        cents = _init_centroids(_norm_vecs(emb, id_col, vec_col), N_CENTROIDS)
    return incremental_semantic_dedup(
        emb, None, threshold, cents, id_col, vec_col
    ).result.select(id_col, "cluster", F.col("keep").cast("long").alias("keep"))


class IncrementalSemanticResult(NamedTuple):
    result: DataFrame      # (id, cluster, near_dup_history, near_dup_batch, keep)
    delta_reps: DataFrame  # the KEPT batch vectors' (id, cluster, v, norm)
    # rows -- append to the history representative table for tomorrow
    assignments: DataFrame  # every batch vector's (id, cluster, v, norm):
    # the all-reps history form; a plain lazy frame, nothing to release


def incremental_semantic_dedup(
    new_emb: DataFrame,
    history_reps: DataFrame | None,
    threshold: float,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IncrementalSemanticResult:
    """Daily-batch form of :func:`semantic_dedup` against accumulated
    corpus state -- the embedding-family completion of the incremental
    contracts (:func:`incremental_dedup` for hashes/bands,
    :func:`incremental_duplicate_spans` for fingerprints): the 100 TB
    side is the HISTORY representative table, today's vector batch is
    comparatively small.

    State model: ``cents`` is the PINNED centroid set (k x dim model
    state fit once -- e.g. :func:`..operators.ann.kmeans_centroids`
    over an early corpus snapshot -- and reused every day; re-fitting
    daily would silently re-cluster history and break comparability,
    which is why it is REQUIRED here while :func:`semantic_dedup` can
    derive it). ``history_reps`` is a (id, cluster, v, norm) table of
    the vectors previous days committed -- exactly what ``delta_reps``
    emits, so the daily loop is read state -> dedup batch -> append
    delta. Appending KEPT vectors only is the SemDeDup policy (dropped
    vectors leave the corpus, so tomorrow dedups against survivors);
    appending every batch vector instead reproduces
    ``semantic_dedup(history UNION batch)`` restricted to batch ids
    (the equivalence the tests pin), at the price of state that
    grows with raw ingest rather than with the deduped corpus. That
    all-reps equivalence additionally REQUIRES history ids to precede
    batch ids (the natural monotone-ingest case): the history probe
    ignores id order, but the union form's min-id survivor policy does
    not -- a batch vector whose only near-dup is a LARGER-id history
    vector is dropped incrementally yet kept by the union form. Like
    every pairwise-threshold dedup, keep-only state trades a little
    recall (a batch vector near a DROPPED historical vector but not
    near its surviving twin is missed -- cosine is not transitive).

    Flags per batch vector: ``near_dup_history`` (cos >= ``threshold``
    with ANY same-cluster history representative), ``near_dup_batch``
    (cos >= threshold with a smaller-id same-cluster batch vector --
    the min-id survivor policy of :func:`semantic_dedup`), and ``keep``
    = neither. ``history_reps=None`` is the plain batch run
    :func:`semantic_dedup` delegates to.

    Materialization: none. The assignment frame feeds the history
    probe, both sides of the batch pair join and the delta, and each
    consumer re-evaluates it: the literal-centroid argmax is map-only,
    and its redundant evaluations overlap on idle cores (a barrier
    here measured neutral-to-slower at sf0.1). Nothing is left cached.

    Scale shape: batch assignment is the map-only literal-centroid
    argmax (zero batch exchanges); the history probe is ONE equi-join
    on the cluster id -- store history reps partitioned/bucketed by
    cluster and only the batch shuffles; per-cluster cost is
    |batch_c| x |history_c| inside the cluster, the same sum-of-
    cluster-products bargain as SemDeDup's pair join (raise k to
    shrink it). History is never scanned twice and never re-paired
    against itself -- that happened the day each vector arrived.
    """
    from .ann import _assign_from_lit, _cents_lit, _collect_cents, _norm_vecs

    nv = _norm_vecs(new_emb, id_col, vec_col)
    av = _assign_from_lit(
        nv,
        _cents_lit(
            _collect_cents(cents, "incremental_semantic_dedup: collect centroids")
        ),
        extra_cols=("v", "norm"),
    )
    if history_reps is not None:
        h = history_reps.select(
            "cluster",
            F.col("v").alias("_hv"),
            F.col("norm").alias("_hn"),
        )
        near_hist = (
            av.join(h, "cluster")
            .where(
                F.try_divide(vec_dot("v", "_hv"), F.col("norm") * F.col("_hn"))
                >= threshold
            )
            .select(F.col("id").alias("_nh_id"))
            .distinct()
            .withColumn("_near_hist", F.lit(True))
        )
    else:
        near_hist = None
    a = av.select(
        "cluster",
        F.col("id").alias("_a"),
        F.col("v").alias("_va"),
        F.col("norm").alias("_na"),
    )
    b = av.select(
        "cluster",
        F.col("id").alias("_b"),
        F.col("v").alias("_vb"),
        F.col("norm").alias("_nb"),
    )
    near_batch = (
        a.join(b, "cluster")
        .where(F.col("_a") < F.col("_b"))
        .where(
            F.try_divide(vec_dot("_va", "_vb"), F.col("_na") * F.col("_nb"))
            >= threshold
        )
        .select(F.col("_b").alias("_nb_id"))
        .distinct()
        .withColumn("_near_batch", F.lit(True))
    )
    out = av.select("id", "cluster")
    if near_hist is not None:
        out = out.join(near_hist, out.id == F.col("_nh_id"), "left").drop(
            "_nh_id"
        )
    else:
        out = out.withColumn("_near_hist", F.lit(False))
    out = (
        out.join(near_batch, out.id == F.col("_nb_id"), "left")
        .drop("_nb_id")
        .select(
            F.col("id").alias(id_col),
            F.col("cluster").cast("long").alias("cluster"),
            F.coalesce("_near_hist", F.lit(False)).alias("near_dup_history"),
            F.coalesce("_near_batch", F.lit(False)).alias("near_dup_batch"),
        )
        .withColumn(
            "keep", ~(F.col("near_dup_history") | F.col("near_dup_batch"))
        )
    )
    delta_reps = (
        out.where("keep")
        .select(F.col(id_col).alias("_keep_id"))
        .join(av, F.col("_keep_id") == av.id)
        .select(
            "id", F.col("cluster").cast("long").alias("cluster"), "v", "norm"
        )
    )
    return IncrementalSemanticResult(out, delta_reps, av)


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_containment: float = 0.9,
    broadcast_sizes: bool = True,
) -> DataFrame:
    """DIRECTED near-subset pairs by shingle containment: (a_id, b_id,
    n_a, n_inter, containment = |A∩B| / |A|) for every ordered pair
    where at least ``min_containment`` of A's n-gram shingles also
    appear in B -- the asymmetric complement of
    :func:`ngram_jaccard_pairs`: a short document quoted whole inside a
    much longer one has containment ~1.0 while its symmetric Jaccard
    (normalized by the UNION) can sit far below any near-dup threshold,
    so a Jaccard-only pipeline keeps both copies. The standard
    quote/boilerplate-absorption detector (Broder's containment, the
    same statistic MinHash was originally built to estimate).

    Same plan shape and scale story as the Jaccard pairs (ONE shingle
    equi-join + partial-agg intersection counts, per-doc size table
    broadcast -- ``broadcast_sizes=False`` flips to shuffle joins past
    the limit); both directions emit as separate rows since containment
    is not symmetric. The threshold compares the UNROUNDED IEEE
    division (deterministic cross-engine); ``containment`` is returned
    unrounded for the same reason.
    """
    if not 0 < min_containment <= 1:
        raise ValueError(
            f"containment_pairs: min_containment must be in (0, 1], "
            f"got {min_containment}"
        )
    # same pre-persist hash partitioning on the join key as
    # ngram_jaccard_pairs: the cached table exposes HashPartitioning(sh)
    # so the self-join needs no exchange (r11 optimization)
    sh = shingle_hashes(docs, id_col, text_col, n)
    sh = sh.repartition(
        sh.sparkSession.sparkContext.defaultParallelism, "sh"
    ).persist()
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    if broadcast_sizes:
        sizes = F.broadcast(sizes)
    inter = (
        sh.select("sh", F.col("id").alias("a_id"))
        .join(sh.select("sh", F.col("id").alias("b_id")), "sh")
        .where(F.col("a_id") != F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("id").alias("a_id"), F.col("n_sh").alias("n_a")),
            "a_id",
        )
        .select(
            "a_id",
            "b_id",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_inter").cast("long").alias("n_inter"),
            (F.col("n_inter") / F.col("n_a")).alias("containment"),
        )
        .where(F.col("containment") >= min_containment)
    )
