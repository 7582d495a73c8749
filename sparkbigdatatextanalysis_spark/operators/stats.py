"""Statistical diagnostics: grouped correlation and join-key skew.

Beyond the reference's mean/count aggregates (EntityResolution.scala:277
— evaluateModel's three actions), an analytics engine needs second-order
statistics. Both operators here are single-pass partial aggregations —
the 100 TB shape — and both are written to be bit-reproducible across
engines so the DuckDB oracle can hash-match them:

* ``grouped_pearson`` computes Pearson r from five DECIMAL moment sums
  instead of calling ``corr()``: double summation is order-dependent
  (different partitionings / engines fold in different orders), while
  DECIMAL addition is associative, so the moments — and therefore r —
  are identical on any engine at any partition count. The per-row
  products are computed in DOUBLE (IEEE ops on identical inputs are
  bit-identical) and only the *sums* go through DECIMAL.
* ``heavy_hitters`` finds hot join keys (the salting/skew-join decision
  input — see operators/skew.py): one partial-agg count per key plus a
  broadcast single-row total; keys whose count exceeds ``factor`` times
  the mean key load are flagged with their global share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 38 total digits, 10 fractional: fits sums of ~1e9-row groups of
# products up to ~1e18 with room to spare.
_DEC = "decimal(38,10)"


def grouped_pearson(
    df: DataFrame, x: str, y: str, group: list[str], out: str = "pearson_r"
) -> DataFrame:
    """Per-group Pearson correlation of columns ``x`` and ``y`` via
    decimal moment sums; also returns the group size. NULL in either
    column drops the row (pairwise-complete, matching SQL corr())."""
    d = df.where(F.col(x).isNotNull() & F.col(y).isNotNull())
    xc, yc = F.col(x), F.col(y)
    m = d.groupBy(*group).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xc.cast(_DEC)).alias("_sx"),
        F.sum(yc.cast(_DEC)).alias("_sy"),
        F.sum((xc * xc).cast(_DEC)).alias("_sxx"),
        F.sum((yc * yc).cast(_DEC)).alias("_syy"),
        F.sum((xc * yc).cast(_DEC)).alias("_sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
    sxy = F.col("_sxy").cast("double")
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    r = F.when(
        (varx > 0) & (vary > 0), cov / F.sqrt(varx) / F.sqrt(vary)
    )
    return m.select(*group, "n", r.alias(out))


def heavy_hitters(
    df: DataFrame, key: str, factor: float = 2.0
) -> DataFrame:
    """Keys whose row count exceeds ``factor`` x the mean rows-per-key,
    with each key's share of the table. One groupBy(key) with map-side
    partials; the (total, n_keys) scalars ride in on a broadcast
    single-row cross join — no second pass over the data, no window
    over a global partition."""
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").alias("_total"), F.count(F.lit(1)).alias("_nkeys")
    )
    return (
        counts.join(F.broadcast(totals))
        .where(
            F.col("n_rows")
            > F.lit(factor) * (F.col("_total") / F.col("_nkeys"))
        )
        .select(
            key,
            "n_rows",
            F.round(F.col("n_rows") / F.col("_total"), 9).alias("share"),
        )
    )


def winsorize(
    df: DataFrame,
    value: str,
    group: list[str],
    lower: float = 0.01,
    upper: float = 0.99,
) -> DataFrame:
    """Per-group winsorization (percentile clipping): values below the
    group's ``lower`` quantile or above its ``upper`` quantile are
    clamped to those bounds -- the robust-normalization step that stops
    heavy-tailed metrics (prices, latencies, doc lengths) from dominating
    downstream statistics.

    Adds ``<value>_wins`` and ``was_clipped`` to the input columns
    (NULL values stay NULL and count as not clipped; NULL group keys
    form their own group via a null-safe join, so the row count is
    preserved). One percentile aggregation per group (exact; swap in
    approx_percentile for the t-digest mergeable path at extreme group
    sizes, same shape as value_percentiles) + a broadcast join back --
    the bounds table is |groups| rows, the clipping itself map-only."""
    if not 0 <= lower < upper <= 1:
        raise ValueError(f"winsorize: need 0 <= lower < upper <= 1, got {lower}, {upper}")
    reserved = {"_lo", "_hi", f"{value}_wins", "was_clipped"} | {
        f"_g_{g}" for g in group
    }
    clash = sorted(reserved & set(df.columns))
    if clash:
        raise ValueError(f"winsorize: input already has column(s) {clash}")
    v = F.col(value)
    bounds = df.groupBy(
        *[F.col(g).alias(f"_g_{g}") for g in group]
    ).agg(
        F.percentile(v, F.lit(lower)).alias("_lo"),
        F.percentile(v, F.lit(upper)).alias("_hi"),
    )
    # eqNullSafe: a plain equi-join would silently DROP rows whose group
    # key is NULL (percentiles of the NULL group exist, the join just
    # never matches them).
    cond = F.lit(True)
    for g in group:
        cond = cond & F.col(g).eqNullSafe(F.col(f"_g_{g}"))
    clipped = F.least(F.greatest(v, F.col("_lo")), F.col("_hi"))
    return (
        df.join(F.broadcast(bounds), cond)
        .select(
            *df.columns,
            # greatest/least SKIP null args, which would fabricate the
            # lower bound for a missing value -- keep NULL as NULL
            F.when(v.isNotNull(), clipped).alias(f"{value}_wins"),
            F.coalesce(
                (v < F.col("_lo")) | (v > F.col("_hi")), F.lit(False)
            ).alias("was_clipped"),
        )
    )


def quartile_cuts(
    df: DataFrame,
    cols: list[str],
    relative_error: float = 0.0,
    round_digits: int = 6,
) -> DataFrame:
    """One scalar row of 25/50/75 percentile boundaries per column
    (``<col>_q25/_q50/_q75``) -- the broadcastable cut table behind RFM
    segmentation and any quantile-threshold scoring.

    Memory bound: Spark's exact ``percentile`` buffers every DISTINCT
    value of a column in ONE aggregation buffer, O(|distinct|) in the
    final reducer -- fine for day-counts and frequencies, a real bound
    for near-continuous metrics (RFM monetary). Set ``relative_error``
    > 0 to swap in the mergeable ``approx_percentile`` (GK) sketch,
    same operator shape (the equi_depth_bins / winsorize convention);
    quartile ASSIGNMENTS then differ only for values within the rank
    tolerance of a boundary (pinned in tests/test_relational.py).
    Cuts are rounded to ``round_digits`` so the downstream comparison
    is deterministic cross-engine."""
    if not 0 <= relative_error < 1:
        raise ValueError(
            "quartile_cuts: relative_error must be in [0, 1) "
            f"(0 = exact percentile), got {relative_error}"
        )
    if relative_error > 0:
        acc = int(1.0 / relative_error)

        def pct(c, q):
            return F.percentile_approx(F.col(c), F.lit(q), F.lit(acc))

    else:

        def pct(c, q):
            return F.expr(f"percentile({c}, {q})")

    return df.agg(
        *[
            F.round(pct(c, q), round_digits).alias(f"{c}_q{int(q * 100)}")
            for c in cols
            for q in (0.25, 0.5, 0.75)
        ]
    )


def equi_depth_bins(
    df: DataFrame,
    value: str,
    n_bins: int = 10,
    group: list[str] | None = None,
    relative_error: float = 0.0,
) -> DataFrame:
    """Equi-depth (quantile) discretization: adds ``<value>_bin`` in
    [0, n_bins) such that each bin holds ~1/n_bins of the rows -- the
    feature-binning / calibration-bucket step that equi-WIDTH binning
    (width_bucket) gets wrong on heavy-tailed metrics.

    One percentile aggregation for the n_bins-1 interior cut points
    (per group when ``group`` is given; set ``relative_error`` > 0 to
    swap the exact sort-based percentile for the mergeable
    approx_percentile sketch at extreme scale -- same operator shape),
    then a broadcast join back and a map-only fold that counts cut
    points <= value. NULL values get a NULL bin; rows keep their
    columns. Ties at a cut point go to the higher bin (cut points are
    INCLUSIVE lower bounds), matching numpy.digitize(right=False) on
    the same cuts -- pinned in tests.
    """
    if n_bins < 2:
        raise ValueError(f"equi_depth_bins: n_bins must be >= 2, got {n_bins}")
    if not 0 <= relative_error < 1:
        raise ValueError(
            "equi_depth_bins: relative_error must be in [0, 1) "
            f"(0 = exact percentile), got {relative_error}"
        )
    out_col = f"{value}_bin"
    reserved = {out_col, "_edb_cuts"} | {f"_g_{g}" for g in (group or [])}
    clash = sorted(reserved & set(df.columns))
    if clash:
        raise ValueError(f"equi_depth_bins: input already has column(s) {clash}")
    fracs = F.array(*[F.lit(i / n_bins) for i in range(1, n_bins)])
    v = F.col(value)
    if relative_error > 0:
        cuts_expr = F.percentile_approx(
            v, fracs, F.lit(int(1.0 / relative_error))
        )
    else:
        cuts_expr = F.percentile(v, fracs)
    keys = group or []
    bounds = df.groupBy(
        *[F.col(g).alias(f"_g_{g}") for g in keys]
    ).agg(cuts_expr.alias("_edb_cuts"))
    cond = F.lit(True)
    for g in keys:
        cond = cond & F.col(g).eqNullSafe(F.col(f"_g_{g}"))
    binned = F.when(
        v.isNotNull(),
        F.aggregate(
            F.col("_edb_cuts"),
            F.lit(0),
            lambda acc, c: acc + (v >= c).cast("int"),
        ),
    )
    return (
        df.join(F.broadcast(bounds), cond)
        .select(*df.columns, binned.alias(out_col))
    )


# --- Count-min sketch frequency estimation ---------------------------------
# The counting member of the sketch family (HLL = distinct cardinality,
# MinHash = set similarity, SimHash = vector similarity, Bloom =
# membership, CMS = frequency): a depth x width counter table answers
# "how often does key x occur" for ANY key with additive-overestimate
# error <= 2N/width at ~1 - (1/2)^depth confidence (Cormode &
# Muthukrishnan 2005), in bounded space. At 100 TB the exact token
# table has ~1e8 rows -- too big to broadcast into a scoring stage --
# while the CMS is depth*width longs of driver-held model state (48 KiB
# at the defaults): embed it as a plan literal (the IVF-centroid /
# Bloom-bitmap pattern) and frequency lookups inside filters or
# LM-scoring stages become per-row expressions with ZERO joins.

CMS_DEPTH_AB = (
    (1540483477, 433494437),
    (1203948817, 998244353),
    (1779033703, 102334155),
)
CMS_WIDTH = 2048


def _cms_cols(sh, width: int):
    from ..functions.hashing import MERSENNE31

    return [((F.lit(a) * sh + F.lit(b)) % MERSENNE31 % width) for a, b in CMS_DEPTH_AB]


def cms_build(key_counts: DataFrame, width: int = CMS_WIDTH) -> list[list[int]]:
    """depth x width counter table from a (token, n_occ) count table.

    One explode of depth=3 (row, col) cells per DISTINCT key + ONE
    partial-aggregated sum over <= depth*width groups, then a bounded
    collect -- model state, not data (the vocabulary itself never
    reaches the driver). Hashing is the md5-derived string_hash31 +
    the minhash affine family, replayed verbatim by the oracle.

    Sizing rule (the Bloom twin's closed form): the additive
    overestimate is <= 2N/width with probability >= 1 - (1/2)^depth
    per query (Cormode & Muthukrishnan 2005, with the standard e/eps
    constant relaxed to the pairwise-hash bound), where N = sum of all
    counts -- so for a target absolute error E choose
    ``width >= 2N/E``. At 100 TB (N ~= 10^12 tokens) the default
    width 2048 gives ~10^9 additive error -- useful only for
    heavy-hitter screening; a 10^6-error estimate wants width ~=
    2*10^6, i.e. ~16 MiB per depth row, at which point pass the table
    to :func:`cms_estimate` via its broadcast-join fallback rather
    than the plan-literal path (see cms_estimate's docstring)."""
    from ..functions.hashing import string_hash31

    sh = string_hash31(F.col("token"))
    entries = [
        F.struct(
            F.lit(i).cast("int").alias("r"), c.cast("long").alias("c")
        )
        for i, c in enumerate(_cms_cols(sh, width))
    ]
    rows = (
        key_counts.select(
            F.col("n_occ"), F.explode(F.array(*entries)).alias("rc")
        )
        .groupBy(F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
        .agg(F.sum("n_occ").alias("v"))
        .collect()
    )
    table = [[0] * width for _ in CMS_DEPTH_AB]
    for rec in rows:
        table[rec["r"]][rec["c"]] = rec["v"]
    return table


def cms_estimate(
    keys: DataFrame, table: list[list[int]], as_literal: bool | None = None
) -> DataFrame:
    """Adds ``cms_est`` to a frame with a ``token`` column: the min over
    depth rows of the key's counter cells. Estimates NEVER undercount;
    overcounts are bounded by the documented additive error.

    Two probe strategies, both join-free of the CORPUS side:

    * plan-literal (``as_literal=True``): each depth row ships as one
      SQL-string array literal and the probe is a pure per-row
      expression -- no join at all. Right up to moderate widths; the
      literal is parsed/canonicalized once per depth row, so very wide
      tables tax plan build (the Bloom twin measured ~14 s plan build
      at 2 x 301k literals; tests/test_scale_paths.py pins the
      width-65536 sizing end-to-end through the auto route).
    * broadcast cells (``as_literal=False``): the NONZERO cells ship as
      depth tiny broadcast tables and the probe is depth broadcast-hash
      left joins on the column index -- map-side, zero shuffles of the
      probed frame, plan size independent of width. The right path for
      the 100 TB sizing rule (width ~ 10^6).

    Default ``None`` picks the literal path up to width 32768 (~256 KiB
    per depth-row literal) and broadcast past it.
    """
    from ..functions.hashing import string_hash31

    depth = len(table)
    width = len(table[0])
    reserved = (
        [f"_c{i}" for i in range(depth)]
        + [f"_e{i}" for i in range(depth)]
        + [f"_cc{i}" for i in range(depth)]  # broadcast-path join scratch
        + ["cms_est"]
    )
    clash = [c for c in reserved if c in keys.columns]
    if clash:
        # same contract as remove_duplicate_spans: never silently
        # overwrite caller columns with internal scratch names
        raise ValueError(f"cms_estimate: input already has column(s) {clash}")
    if as_literal is None:
        as_literal = width <= 32768
    cols = _cms_cols(string_hash31(F.col("token")), width)
    named = keys.withColumns(
        {f"_c{i}": c.cast("int") for i, c in enumerate(cols)}
    )
    if as_literal:
        ests = ", ".join(
            "element_at(array(" + ",".join(f"{v}L" for v in row) + f"), _c{i} + 1)"
            for i, row in enumerate(table)
        )
        return named.selectExpr("*", f"least({ests}) AS cms_est").drop(
            *[f"_c{i}" for i in range(depth)]
        )
    spark = keys.sparkSession
    out = named
    for i, row in enumerate(table):
        cells = spark.createDataFrame(
            [(c, int(v)) for c, v in enumerate(row) if v] or [(-1, 0)],
            f"_cc{i} INT, _e{i} BIGINT",
        )
        out = out.join(
            F.broadcast(cells), out[f"_c{i}"] == F.col(f"_cc{i}"), "left"
        ).drop(f"_cc{i}")
    est = F.least(
        *[F.coalesce(F.col(f"_e{i}"), F.lit(0).cast("long")) for i in range(depth)]
    )
    return out.withColumn("cms_est", est).drop(
        *[f"_c{i}" for i in range(depth)], *[f"_e{i}" for i in range(depth)]
    )


def grouped_linreg(
    df: DataFrame,
    group: list[str],
    x: str,
    y: str,
    round_digits: int = 6,
) -> DataFrame:
    """Per-group ordinary-least-squares fit y = slope*x + intercept with
    r2 -- the trend-detection aggregate (is this segment's spend
    rising?) computed the ONLY way that scales: five DECIMAL partial
    sums per group (n, sum x, sum y, sum xy, sum x^2, sum y^2), then
    closed-form normal equations on the group row. No per-group
    collect, no ML library, no second pass: 100 TB collapses to
    |groups| rows at the map-side combiner.

    Determinism: the sums are exact DECIMAL(38,10) (addition is
    associative -- shuffle order cannot wobble them); the closed-form
    arithmetic then runs in DOUBLE from those exact sums with a fixed
    expression shape, so any engine computing the same shape agrees
    bit-for-bit before the final rounding. Groups with < 2 points or
    zero x-variance get NULL slope/intercept/r2 (vertical or
    undetermined fits); r2 is NULL when y has zero variance.
    NULL x/y rows are dropped per the SQL aggregate convention.
    """
    dx = F.col(x).cast("decimal(38,10)")
    dy = F.col(y).cast("decimal(38,10)")
    agg = (
        df.where(F.col(x).isNotNull() & F.col(y).isNotNull())
        .groupBy(*group)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sum(dx).alias("_sx"),
            F.sum(dy).alias("_sy"),
            F.sum(dx * dy).alias("_sxy"),
            F.sum(dx * dx).alias("_sxx"),
            F.sum(dy * dy).alias("_syy"),
        )
    )
    n = F.col("n_points").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    cov = n * sxy - sx * sy
    slope = F.when(
        (F.col("n_points") >= 2) & (varx != 0), cov / varx
    )
    intercept = (sy - slope * sx) / n
    r2 = F.when(vary != 0, (cov * cov) / (varx * vary))
    return agg.select(
        *group,
        "n_points",
        F.round(slope, round_digits).alias("slope"),
        F.round(intercept, round_digits).alias("intercept"),
        F.when(slope.isNotNull(), F.round(r2, round_digits)).alias("r2"),
    )


def mad_outliers(
    df: DataFrame,
    value: str,
    group: list[str],
    factor: float = 3.0,
    relative_error: float = 0.0,
) -> DataFrame:
    """Median/MAD robust outlier flagging: per group, the median and the
    median absolute deviation (median of |x - median|); a row is an
    outlier when |x - median| > factor * MAD -- the robust alternative
    to the z-score filter (events_value_zscore), which a single extreme
    value can mask by inflating the stddev it is scored against. The
    medians themselves cannot be dragged by outliers.

    Two percentile aggregations (the second needs the first's result
    joined back -- an irreducible two-pass dependency), each a partial-
    agg groupBy; the per-group (median, mad) table broadcasts back, the
    flag is map-only. Set ``relative_error`` > 0 to swap both medians
    for the mergeable GK sketch (the quartile_cuts/winsorize
    convention; exact percentile buffers O(|distinct|) per group).
    Zero-MAD groups (> half the values identical) flag every deviating
    row -- the documented Hampel-filter degeneracy; NULL values get
    NULL flags and never count toward either median.
    """
    if not 0 <= relative_error < 1:
        raise ValueError(
            "mad_outliers: relative_error must be in [0, 1) "
            f"(0 = exact percentile), got {relative_error}"
        )
    reserved = {"_mad_med", "_mad", "abs_dev", "is_outlier"} | {
        f"_g_{g}" for g in group
    }
    clash = sorted(reserved & set(df.columns))
    if clash:
        raise ValueError(f"mad_outliers: input already has column(s) {clash}")

    if relative_error > 0:
        acc = int(1.0 / relative_error)

        def med(c):
            return F.percentile_approx(c, F.lit(0.5), F.lit(acc))

    else:

        def med(c):
            return F.percentile(c, F.lit(0.5))

    v = F.col(value)
    gmed = df.groupBy(
        *[F.col(g).alias(f"_g_{g}") for g in group]
    ).agg(med(v).alias("_mad_med"))
    cond = F.lit(True)
    for g in group:
        cond = cond & F.col(g).eqNullSafe(F.col(f"_g_{g}"))
    # persist: with_med feeds the MAD aggregation AND the flagged
    # output -- without the barrier the source is scanned a third time
    # (the two percentile passes are the irreducible minimum)
    with_med = df.join(F.broadcast(gmed), cond).drop(
        *[f"_g_{g}" for g in group]
    ).persist()
    gmad = with_med.groupBy(
        *[F.col(g).alias(f"_g_{g}") for g in group]
    ).agg(med(F.abs(v - F.col("_mad_med"))).alias("_mad"))
    out = with_med.join(F.broadcast(gmad), cond).drop(
        *[f"_g_{g}" for g in group]
    )
    return out.select(
        *df.columns,
        F.round("_mad_med", 9).alias("group_median"),
        F.round("_mad", 9).alias("group_mad"),
        F.when(
            v.isNotNull(),
            (F.abs(v - F.col("_mad_med")) > factor * F.col("_mad")),
        ).alias("is_outlier"),
    )


def grouped_moments(
    df: DataFrame,
    value: str,
    group: list[str],
    round_digits: int = 6,
) -> DataFrame:
    """Per-group skewness and excess kurtosis from exact power sums --
    the distribution-shape profile (is this segment's value long-tailed
    or peaked?) computed the only way that scales: four DECIMAL partial
    sums per group (sum v, v^2, v^3, v^4), then the closed-form
    population moments on the group row. One partial-agg pass; 100 TB
    collapses to |groups| rows at the map-side combiner -- the same
    discipline as :func:`grouped_linreg`.

    Determinism: each power is computed IN DOUBLES with a fixed
    left-associated shape (v*v, (v*v)*v, ((v*v)*v)*v -- identical IEEE
    ops on any engine), then cast to DECIMAL(38,10) so the SUMs are
    exact and shuffle-order-independent; the final arithmetic runs in
    DOUBLE from those exact sums with a fixed expression shape. (Summing
    doubles directly would be order-dependent; casting v BEFORE powering
    would overflow DECIMAL multiplication precision.)

    skewness = m3 / m2^1.5 and kurtosis = m4 / m2^2 - 3 (population
    central moments; the bias-corrected sample estimators differ per
    engine, so the population form is the cross-engine-checkable one).
    Groups with < 2 points or zero variance get NULLs. NULL values drop.
    """
    v = F.col(value).cast("double")
    v2 = v * v
    v3 = v2 * v
    v4 = v3 * v
    dec = "decimal(38,10)"
    agg = (
        df.where(v.isNotNull())
        .groupBy(*group)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sum(v.cast(dec)).alias("_s1"),
            F.sum(v2.cast(dec)).alias("_s2"),
            F.sum(v3.cast(dec)).alias("_s3"),
            F.sum(v4.cast(dec)).alias("_s4"),
        )
    )
    n = F.col("n_points").cast("double")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    s3 = F.col("_s3").cast("double")
    s4 = F.col("_s4").cast("double")
    mean = s1 / n
    m2 = s2 / n - mean * mean
    m3 = s3 / n - 3 * mean * (s2 / n) + 2 * mean * mean * mean
    m4 = (
        s4 / n
        - 4 * mean * (s3 / n)
        + 6 * mean * mean * (s2 / n)
        - 3 * mean * mean * mean * mean
    )
    ok = (F.col("n_points") >= 2) & (m2 > 0)
    return agg.select(
        *group,
        "n_points",
        F.round(mean, round_digits).alias("mean"),
        F.round(F.when(ok, F.sqrt(m2)), round_digits).alias("stddev_pop"),
        F.round(F.when(ok, m3 / F.pow(m2, F.lit(1.5))), round_digits).alias(
            "skewness"
        ),
        F.round(F.when(ok, m4 / (m2 * m2) - 3), round_digits).alias(
            "kurtosis_excess"
        ),
    )


def _bucketed_prefix(
    per: DataFrame,
    sum_cols: list[str],
    n_buckets: int,
    relative_error: float = 0.0,
) -> DataFrame:
    """Exact INCLUSIVE cumulative sums of ``sum_cols`` over the
    distinct-value table ``per`` (column ``_v`` + long counters),
    ordered by _v, WITHOUT an unpartitioned window -- the global_rank
    two-phase decomposition shared by ks_two_sample and
    mann_whitney_u: (1) n_buckets-1 percentile cuts of _v broadcast
    back (exact, or GK when ``relative_error`` > 0); every row maps to
    a bucket by plain comparisons, equal values share a bucket, so
    bucket ranges respect the value order; (2) per-bucket totals
    prefix-sum into offsets (the only unbounded window, over that
    n_buckets-row table) and the within-bucket cumulative sums are
    bucket-partitioned. Offsets + local prefix = the exact global
    prefix on every row. Returns (_v, _cum_<col>...). ``per`` should
    be persisted by the caller (three consumers)."""
    from pyspark.sql import Window

    # ONE array-percentile aggregate, not n_buckets-1 scalar ones: each
    # exact percentile() instance buffers the full _v column in its own
    # aggregation buffer, so 31 separate calls held 31 copies of the
    # distinct-value table and dominated the operator's wall clock
    # (measured 3-4x on spearman_rho's two-column form); the array form
    # computes every cut from a single buffer with identical
    # per-percentage results (r11 optimization; the statistic is exact
    # regardless of cut placement -- cuts only pick bucket boundaries).
    pcts = [i / n_buckets for i in range(1, n_buckets)]
    if relative_error > 0:
        acc = int(1.0 / relative_error)
        arr = F.percentile_approx(
            F.col("_v"), F.array(*[F.lit(p) for p in pcts]), F.lit(acc)
        )
    else:
        arr = F.expr(f"percentile(_v, array({', '.join(map(str, pcts))}))")
    cuts = per.agg(arr.alias("_carr")).select(
        *[
            F.element_at(F.col("_carr"), i).alias(f"_c{i}")
            for i in range(1, n_buckets)
        ]
    )
    bucket = sum(
        (F.col("_v") > F.col(f"_c{i}")).cast("long")
        for i in range(1, n_buckets)
    )
    bp = (
        per.crossJoin(F.broadcast(cuts))
        .withColumn("_bk", bucket)
        .drop(*[f"_c{i}" for i in range(1, n_buckets)])
    )
    woff = Window.orderBy("_bk").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        bp.groupBy("_bk")
        .agg(*[F.sum(c).alias(f"_b{c}") for c in sum_cols])
        .select(
            "_bk",
            *[
                F.coalesce(F.sum(f"_b{c}").over(woff), F.lit(0)).alias(
                    f"_off{c}"
                )
                for c in sum_cols
            ],
        )
    )
    wloc = Window.partitionBy("_bk").orderBy("_v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return bp.join(F.broadcast(offs), "_bk").select(
        "_v",
        *[
            (F.col(f"_off{c}") + F.sum(c).over(wloc)).alias(f"_cum{c}")
            for c in sum_cols
        ],
    )


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    is_a_col,
    value_out: str = "ks_at_value",
    n_buckets: int = 32,
    relative_error: float = 0.0,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the rows where
    ``is_a_col`` is true (sample A) and the rest (sample B): the
    largest absolute ECDF gap sup_v |F_A(v) - F_B(v)| -- the standard
    distribution-shift test behind "did this corpus slice's length /
    score distribution move" questions, where mean-based drift checks
    miss shape changes.

    Exactness: per distinct value the two conditional counts are
    BIGINT; the ECDF gap compares as the INTEGER cross product
    |cumA*nB - cumB*nA| (DECIMAL(18,0) operands so 100 TB counts cannot
    overflow) -- no float division until the single final row, where
    ks = gap/(nA*nB) is one fixed-shape double. The argmax value is
    tie-broken to the SMALLEST value (a struct max over (gap, -value)),
    so the result is deterministic under any partitioning.

    Scale shape: ONE groupBy(value) partial agg (output bounded by the
    value DOMAIN, not the row count), then the ECDF cumulative sums run
    through the global_rank two-phase decomposition instead of one
    unpartitioned window -- on a continuous DOUBLE metric the distinct
    table is ~the row count and a global ORDER BY window would funnel
    it through ONE task. Phase 1: n_buckets-1 exact interpolated
    percentile cuts of the distinct values broadcast back; each value
    maps to a bucket by plain comparisons (equal values share a bucket,
    so bucket ranges respect the value order by construction). Phase 2:
    per-bucket (sumA, sumB) prefix-sum into offsets (the only
    unbounded-window runs over that n_buckets-row table), and the
    within-bucket cumulative sums are bucket-partitioned windows.
    Offsets + local prefix = the exact global prefix, so the result is
    bit-identical to the single-window form (property-pinned in
    tests/test_round10_properties.py). ``value_col`` must be numeric
    (the percentile cuts require it; KS is a numeric-distribution
    test). ``relative_error`` > 0 swaps the cuts to the mergeable GK
    sketch for near-continuous domains -- the STATISTIC stays exact
    either way (cuts only pick bucket boundaries; the global_rank
    argument). Single-row totals broadcast. NULL values drop.
    """
    from pyspark.sql import Window

    if n_buckets < 2:
        raise ValueError(
            f"ks_two_sample: n_buckets must be >= 2, got {n_buckets}"
        )
    v = F.col(value_col)
    per = (
        df.where(v.isNotNull())
        .groupBy(value_col)
        .agg(
            F.sum(F.when(is_a_col, 1).otherwise(0)).cast("long").alias("_ca"),
            F.sum(F.when(is_a_col, 0).otherwise(1)).cast("long").alias("_cb"),
        )
        .select(v.alias("_v"), "_ca", "_cb")
        # feeds cuts, totals, bucket pass -- one barrier, three readers
        .persist()
    )
    cum = _bucketed_prefix(
        per, ["_ca", "_cb"], n_buckets, relative_error
    ).select(
        "_v",
        F.col("_cum_ca").cast("decimal(18,0)").alias("_cuma"),
        F.col("_cum_cb").cast("decimal(18,0)").alias("_cumb"),
    )
    tot = per.agg(
        F.sum("_ca").cast("long").alias("n_a"),
        F.sum("_cb").cast("long").alias("n_b"),
    )
    gap = cum.crossJoin(F.broadcast(tot)).select(
        "n_a",
        "n_b",
        F.abs(
            F.col("_cuma") * F.col("n_b").cast("decimal(18,0)")
            - F.col("_cumb") * F.col("n_a").cast("decimal(18,0)")
        ).alias("_gap"),
        F.col("_v"),
    )
    best = gap.groupBy("n_a", "n_b").agg(
        F.max(F.struct(F.col("_gap"), (-F.col("_v")).alias("_nv"))).alias("_m")
    )
    return best.select(
        "n_a",
        "n_b",
        # one empty sample -> no ECDF to compare: NULL, not a
        # divide-by-zero (ANSI mode throws; hypothesis-found)
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.round(
                F.col("_m._gap").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                9,
            ),
        ).alias("ks_stat"),
        (-F.col("_m._nv")).alias(value_out),
    )


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    is_a_col,
    n_buckets: int = 32,
    relative_error: float = 0.0,
) -> DataFrame:
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) test between the
    rows where ``is_a_col`` is true (sample A) and the rest: the
    rank-based location-shift test that pairs with ks_two_sample's
    shape test -- robust to outliers and any monotone transform, the
    standard "did this slice's metric move" check when normality is
    off the table. Mann & Whitney 1947; tie handling per the standard
    midrank convention.

    Exactness: ranks never materialize per row. Per DISTINCT value the
    two conditional counts are BIGINT; the midrank of value v is
    cum_before(v) + (cnt(v)+1)/2, so 2*midrank = 2*cum_before + cnt + 1
    is INTEGER and the doubled rank-sum 2*R_A = sum ca_v * (2*midrank_v)
    accumulates exactly in DECIMAL. U = R_A - nA(nA+1)/2 stays in the
    doubled-integer domain until the single final row, where u_stat,
    the tie-corrected normal z (variance nA*nB/12 * ((n+1) -
    sum(t^3-t)/(n(n-1))), no continuity correction), and the rank-
    biserial effect size r = 2U/(nA*nB) - 1 become fixed-shape doubles.

    Scale shape: ONE groupBy(value) partial agg, cumulative counts via
    the shared global_rank bucket decomposition (_bucketed_prefix --
    no unpartitioned window; ``n_buckets``/``relative_error`` as in
    ks_two_sample), single-row broadcast totals. NULL values drop.
    Returns one row: (n_a, n_b, u_stat, z_score, rank_biserial) --
    z/r NULL when a sample is empty or the variance degenerates (all
    values tied)."""
    v = F.col(value_col)
    per = (
        df.where(v.isNotNull())
        .groupBy(value_col)
        .agg(
            F.sum(F.when(is_a_col, 1).otherwise(0)).cast("long").alias("_ca"),
            F.sum(F.when(is_a_col, 0).otherwise(1)).cast("long").alias("_cb"),
        )
        .select(v.alias("_v"), "_ca", "_cb")
        .persist()
    )
    cum = _bucketed_prefix(per, ["_ca", "_cb"], n_buckets, relative_error)
    joined = cum.join(per, "_v")
    cnt = (F.col("_ca") + F.col("_cb")).cast("decimal(18,0)")
    cum_all = (F.col("_cum_ca") + F.col("_cum_cb")).cast("decimal(18,0)")
    # 2*midrank = 2*(cum_all - cnt) + cnt + 1  (integer, exact)
    dbl_midrank = F.lit(2) * (cum_all - cnt) + cnt + F.lit(1)
    sums = joined.agg(
        F.sum(F.col("_ca").cast("decimal(18,0)") * dbl_midrank).alias("_2ra"),
        F.sum(cnt * cnt * cnt - cnt).alias("_ties"),
    )
    tot = per.agg(
        F.sum("_ca").cast("long").alias("n_a"),
        F.sum("_cb").cast("long").alias("n_b"),
    )
    na = F.col("n_a").cast("decimal(18,0)")
    nb = F.col("n_b").cast("decimal(18,0)")
    n = na + nb
    # doubled-U: 2U = 2R_A - nA(nA+1)   (exact DECIMAL)
    u2 = F.col("_2ra") - na * (na + F.lit(1))
    nad, nbd, nd = (
        F.col("n_a").cast("double"),
        F.col("n_b").cast("double"),
        (F.col("n_a") + F.col("n_b")).cast("double"),
    )
    var = (
        nad
        * nbd
        / 12.0
        * (
            (nd + 1.0)
            - F.col("_ties").cast("double") / (nd * (nd - 1.0))
        )
    )
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return (
        sums.crossJoin(F.broadcast(tot))
        .select(
            "n_a",
            "n_b",
            F.when(ok, (u2.cast("double") / 2.0)).alias("u_stat"),
            F.when(
                ok & (var > 0),
                F.round(
                    (u2.cast("double") / 2.0 - nad * nbd / 2.0)
                    / F.sqrt(var),
                    9,
                ),
            ).alias("z_score"),
            F.when(
                ok,
                F.round(u2.cast("double") / (nad * nbd) - 1.0, 9),
            ).alias("rank_biserial"),
        )
    )


def welch_t(
    df: DataFrame, value_col: str, is_a_col, round_digits: int = 9
) -> DataFrame:
    """Welch's unequal-variance t-test between the rows where
    ``is_a_col`` is true (sample A) and the rest (Welch 1947): the
    mean-difference companion to ks_two_sample (shape) and
    mann_whitney_u (location, rank-based) -- the parametric check a
    metrics review reaches for first. No pooled-variance assumption,
    so unequal slice sizes and spreads are fine.

    Exactness: one partial agg of six DECIMAL power sums (n, sum x,
    sum x^2 per side -- associative, engine- and partition-order-
    independent like grouped_moments); means, sample variances
    s^2 = (n*sumxx - sumx^2) / (n*(n-1)), the t statistic, and the
    Welch-Satterthwaite degrees of freedom evaluate as fixed-shape
    doubles on the single result row. Returns one row: (n_a, n_b,
    mean_a, mean_b, t_stat, df_welch) -- t/df NULL when either sample
    has < 2 rows or both variances are 0."""
    v = F.col(value_col)
    d = df.where(v.isNotNull())
    a = F.when(is_a_col, v)
    b = F.when(~is_a_col, v)
    m = d.agg(
        F.count(a).cast("long").alias("n_a"),
        F.count(b).cast("long").alias("n_b"),
        F.sum(a.cast(_DEC)).alias("_sa"),
        F.sum(b.cast(_DEC)).alias("_sb"),
        F.sum((a * a).cast(_DEC)).alias("_sa2"),
        F.sum((b * b).cast(_DEC)).alias("_sb2"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, sb = F.col("_sa").cast("double"), F.col("_sb").cast("double")
    sa2, sb2 = F.col("_sa2").cast("double"), F.col("_sb2").cast("double")
    mean_a, mean_b = sa / na, sb / nb
    var_a = (na * sa2 - sa * sa) / (na * (na - 1.0))
    var_b = (nb * sb2 - sb * sb) / (nb * (nb - 1.0))
    qa, qb = var_a / na, var_b / nb
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    nz = ok & ((qa + qb) > 0)
    return m.select(
        "n_a",
        "n_b",
        F.round(mean_a, round_digits).alias("mean_a"),
        F.round(mean_b, round_digits).alias("mean_b"),
        F.round(
            F.when(nz, (mean_a - mean_b) / F.sqrt(qa + qb)), round_digits
        ).alias("t_stat"),
        F.round(
            F.when(
                nz,
                (qa + qb)
                * (qa + qb)
                / (
                    qa * qa / (na - 1.0)
                    + qb * qb / (nb - 1.0)
                ),
            ),
            round_digits,
        ).alias("df_welch"),
    )


def spearman_rho(
    df: DataFrame,
    x: str,
    y: str,
    n_buckets: int = 32,
    relative_error: float = 0.0,
    round_digits: int = 9,
) -> DataFrame:
    """Spearman rank correlation of columns ``x`` and ``y`` (Spearman
    1904, with the standard midrank tie convention): Pearson r over
    the two rank transforms -- the monotone-association read that
    survives outliers and nonlinearity where grouped_pearson's raw-
    value r does not.

    Exactness: per-row ranks never materialize as floats. Each
    column's midranks come from its distinct-value counts (midrank =
    cum_before + (cnt+1)/2, so the DOUBLED midrank is INTEGER), the
    cumulative counts via the shared _bucketed_prefix decomposition --
    no unpartitioned window on either column. Rows join their doubled
    ranks back by value (two plain equi-joins), and Pearson evaluates
    over DECIMAL moment sums of those integers (rho is invariant to
    the x2 scaling); the closed form is one fixed-shape double on the
    single result row. NULL in either column drops the row (pairwise-
    complete). ``n_buckets``/``relative_error`` as in ks_two_sample.
    Returns one row: (n, spearman_rho) -- NULL rho when a rank
    variance is 0 (a constant column) or n == 0. Each column ranks in
    its own pass on its own type: a side-tagged union of the two would
    coerce both to a common type (merging distinct longs above 2^53 or
    decimals) and, measured at sf0.001, run more stages, not fewer."""
    d = (
        df.where(F.col(x).isNotNull() & F.col(y).isNotNull())
        .select(F.col(x).alias("_x"), F.col(y).alias("_y"))
        .persist()
    )

    def dbl_ranks(col: str) -> DataFrame:
        per = (
            d.groupBy(col)
            .agg(F.count(F.lit(1)).cast("long").alias("_c"))
            .select(F.col(col).alias("_v"), "_c")
            .persist()
        )
        cum = _bucketed_prefix(per, ["_c"], n_buckets, relative_error)
        return cum.join(per, "_v").select(
            F.col("_v").alias(col),
            (
                F.lit(2) * (F.col("_cum_c") - F.col("_c"))
                + F.col("_c")
                + F.lit(1)
            )
            .cast("decimal(18,0)")
            .alias(f"_r{col}"),
        )
    ranked = d.join(dbl_ranks("_x"), "_x").join(dbl_ranks("_y"), "_y")
    rx, ry = F.col("_r_x"), F.col("_r_y")
    m = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(rx).alias("_sx"),
        F.sum(ry).alias("_sy"),
        F.sum(rx * ry).alias("_sxy"),
        F.sum(rx * rx).alias("_sxx"),
        F.sum(ry * ry).alias("_syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
    varx = nd * sxx - sx * sx
    vary = nd * syy - sy * sy
    return m.select(
        "n",
        F.round(
            F.when(
                (varx > 0) & (vary > 0),
                (nd * sxy - sx * sy) / F.sqrt(varx * vary),
            ),
            round_digits,
        ).alias("spearman_rho"),
    )
