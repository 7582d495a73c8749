"""Embedding-column analytics: per-group centroids.

Complements operators/ann.py (search) and operators/dedup.py (near-dup)
with the aggregation side of vector work — the step that produces IVF
coarse centroids, per-class mean embeddings for classifier probes, or
cluster summaries for curation reports.

Scale shape: ``posexplode`` the vector column so each (group, dim)
partial mean aggregates map-side — the classic way to average vectors
without collecting them: 100 TB of embeddings becomes |groups| x dim
rows after the combiner. Sums go through DECIMAL so the per-dim means
are bit-identical across engines/partitionings (float addition is
order-dependent; decimal addition is associative). The float->double
widening per element is exact, and the final mean division happens in
DOUBLE on already-deterministic inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DEC = "decimal(38,15)"


def group_centroids(
    emb: DataFrame,
    group: str = "label",
    vec: str = "embedding",
    round_to: int = 9,
) -> DataFrame:
    """Per-``group`` per-dimension mean of ``vec`` (array<float|double>):
    returns (group, dim, centroid, n_vectors) with ``dim`` 0-based.
    NULL vectors are skipped; ragged lengths simply contribute to the
    dims they have (n_vectors is per-dim for that reason)."""
    ex = emb.where(F.col(vec).isNotNull()).select(
        F.col(group), F.posexplode(vec).alias("dim", "_v")
    )
    return (
        ex.groupBy(group, "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.col("_v").cast("double").cast(_DEC)).alias("_s"),
        )
        .select(
            group,
            "dim",
            F.round(
                F.col("_s").cast("double") / F.col("n_vectors"), round_to
            ).alias("centroid"),
            "n_vectors",
        )
    )


def quantize_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_vec: str = "qvec",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: each embedding becomes
    (scale DOUBLE, qvec ARRAY<TINYINT>) with
    ``original[i] ~= scale * qvec[i]`` and qvec in [-127, 127] — the
    4x (vs float32; 8x vs double) storage/shuffle reduction that makes
    a 100 TB embedding column shippable, at the cost of a bounded
    relative error (<= 1/254 of the vector's max-abs per element).

    Per-vector max-abs scaling is map-only (no corpus statistics pass,
    no shuffle, no calibration job) and keeps COSINE geometry well:
    cosine is scale-invariant per vector, so quantization error enters
    only through the rounding, not through the scale. Zero and NULL
    vectors round-trip unchanged (scale 0 / NULL passthrough).

    All expression-level (transform + round) — codegen, no Python.
    """
    v = F.col(vec_col)
    # Materialize max-abs ONCE per row in a chained projection: inlined
    # into the per-element rounding lambda it would re-evaluate the full
    # array_max(transform(..)) for EVERY element -- O(dim^2) interpreted
    # lambda evals per row, measured 25x slower at dim 64 (and the
    # multi-use non-cheap alias stops CollapseProject from undoing the
    # split).
    if "_qmx" in emb.columns:
        raise ValueError("quantize_embeddings: input already has column '_qmx'")
    pre = emb.select(
        "*",
        F.array_max(F.transform(v, lambda x: F.abs(x.cast("double")))).alias(
            "_qmx"
        ),
    )
    mx = F.col("_qmx")
    # a non-finite element makes mx NaN/Inf (both order as the largest
    # double), and NaN > 0 is TRUE in Spark -- without this guard the
    # tinyint cast of round(x*127/NaN) throws CAST_OVERFLOW under ANSI
    # mode and one bad row kills the whole job. Unquantizable vectors
    # degrade to (NULL, NULL) like NULL inputs.
    bad = v.isNull() | F.isnan(mx) | (mx == F.lit(float("inf")))
    scale = F.when(mx > 0, mx / F.lit(127.0)).otherwise(F.lit(0.0))
    q = F.when(bad, F.lit(None).cast("array<tinyint>")).when(
        mx > 0,
        F.transform(
            v,
            lambda x: F.round(x.cast("double") * F.lit(127.0) / mx).cast("tinyint"),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint")))
    return pre.select(
        F.col(id_col),
        F.when(bad, F.lit(None).cast("double")).otherwise(scale).alias("scale"),
        q.alias(out_vec),
    )


def quantized_cosine(
    a_scale, a_q, b_scale, b_q, round_to: int = 6
):
    """Cosine similarity directly on two int8-quantized vectors: the
    integer dot products stay in LONG (exact — |sum| <= dim * 127^2,
    far inside int64), the scales cancel out of the ratio entirely, so
    this equals the cosine of the DEQUANTIZED vectors after rounding to
    ``round_to`` digits (the two computations differ in low-order float
    bits — integer-ratio vs dequantized-double associativity — so
    bit-for-bit equality holds only post-round, and a value sitting
    exactly on a rounding-tie boundary could still flip; the tests pin
    the rounded equality) while shuffling only tinyint arrays.
    Column-level helper for rerank
    stages over quantized corpora. Cosine is undefined for a zero
    vector: those score NULL (ranking last under DESC ordering) rather
    than raising DIVIDE_BY_ZERO under ANSI mode, so one degenerate
    document cannot kill a top-k batch."""
    dot = F.aggregate(
        F.zip_with(a_q, b_q, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    nsq = lambda q: F.aggregate(  # noqa: E731
        F.transform(q, lambda x: x.cast("long") * x.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    na, nb = nsq(a_q), nsq(b_q)
    return F.when(
        (na > 0) & (nb > 0),
        F.round(
            dot.cast("double") / F.sqrt(na.cast("double")) / F.sqrt(nb.cast("double")),
            round_to,
        ),
    )


def hashed_doc_components(
    tok_df: DataFrame,
    dim: int = 64,
    id_col: str = "id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Model-free document embeddings by signed feature hashing (the
    hashing trick), in exploded relational form: (id, pos, component),
    one row per (doc, dimension). Every token hashes to a dimension in
    [0, dim) with a ±1 sign from an independent hash bit, per-dim
    contributions sum, and the vector is L2-normalized; a doc with no
    valid token comes out as a zero vector instead of vanishing.

    Signed hashing keeps E[<u,v>] equal to the true token-count inner
    product (collisions cancel in expectation), which is what makes
    the trick usable for similarity rather than just bucketing; the
    md5-derived hash keeps vectors identical across engines,
    partitionings and reruns. Bit-identical components: the pre-norm
    values are integer-valued (sums of +-1, exact in double), the
    squared-norm sum is exact integer arithmetic in ANY order, and
    component = v / sqrt(s) is one correctly-rounded division of
    identical operands.

    Scale shape (r11 optimization): a dense array assembly
    (map_from_entries + per-slot map lookups + nested higher-order
    norm/divide) is interpreted, not codegen'd, and measured ~7x the
    aggregation cost at sf0.1; this form keeps everything in codegen'd
    built-ins -- explode -> ONE partial-agg groupBy(id, dim), a
    groupBy(id) exact integer norm, and one (id, pos)-grid left join
    that fills the zero slots relationally instead of per-slot map
    probes."""
    if dim < 2:
        raise ValueError(f"hashed_doc_components: dim must be >= 2, got {dim}")
    from ..functions.hashing import string_hash31

    h = string_hash31(F.concat(F.lit("emb:"), F.col("_tok")))
    sign = F.when((h % (2 * dim)) < dim, F.lit(1.0)).otherwise(F.lit(-1.0))
    ex = (
        tok_df.select(F.col(id_col).alias("_id"), F.explode(tokens_col).alias("_tok"))
        .where(F.col("_tok").isNotNull() & (F.col("_tok") != ""))
        .select("_id", (h % dim).cast("int").alias("_dim"), sign.alias("_s"))
    )
    per_dim = ex.groupBy("_id", "_dim").agg(F.sum("_s").alias("_v"))
    norms = per_dim.groupBy("_id").agg(
        F.sqrt(F.sum(F.col("_v") * F.col("_v"))).alias("_n")
    )
    ids = tok_df.select(F.col(id_col).alias("_id")).distinct()
    slots = ids.join(norms, "_id", "left").select(
        "_id",
        F.coalesce(F.col("_n"), F.lit(0.0)).alias("_n"),
        F.explode(F.sequence(F.lit(0), F.lit(dim - 1))).alias("pos"),
    )
    # fresh aliases on the probe side: slots carries per_dim's lineage
    # through norms, so joining per_dim directly is a self-join with
    # ambiguous attributes
    pd = per_dim.select(
        F.col("_id").alias("_pid"),
        F.col("_dim").alias("_pdim"),
        F.col("_v").alias("_pv"),
    )
    joined = slots.join(
        pd,
        (F.col("_id") == F.col("_pid")) & (F.col("pos") == F.col("_pdim")),
        "left",
    )
    v = F.coalesce(F.col("_pv"), F.lit(0.0))
    return joined.select(
        F.col("_id").alias(id_col),
        F.col("pos").cast("int").alias("pos"),
        F.when(F.col("_n") > 0, v / F.col("_n")).otherwise(v).alias("component"),
    )
