"""Match-quality evaluation against a gold standard.

Replaces the reference's driver-side evaluation machinery -- the
stringly-keyed left outer join (EntityResolution.scala:230-280), the
101-bin histogram accumulator (VectorAccumulatorParam.scala,
ScalableEntityResolution.scala:38-48,161-171) and the driver-loop
threshold sweep (ScalableEntityResolution.scala:172-259) -- with
declarative queries: a left join + grouped aggregate for the gold
split, and for the sweep a full outer join against the gold table feeding
ONE aggregation keyed by threshold. All scale-out: the only small result
is the final 101-row metrics table itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def evaluate_gold(sims: DataFrame, gold: DataFrame) -> DataFrame:
    """-> one row per is_dup class: (is_dup, n, avg_sim).

    Reference evaluateModel (EntityResolution.scala:230-280) returns
    (dup count, mean dup sim, mean non-dup sim); this is the same
    information as a 2-row DataFrame from ONE pass (the reference walks
    the uncached lineage three times). ``gold`` is (a_id, b_id);
    membership is a left join null-check -- semantically the semi/anti
    join split, fused so the similarity table is scanned once.
    """
    g = gold.select("a_id", "b_id", F.lit(1).alias("_gold"))
    return (
        sims.join(F.broadcast(g), ["a_id", "b_id"], "left")
        .groupBy(F.col("_gold").isNotNull().alias("is_dup"))
        .agg(F.count("*").alias("n"), F.avg("sim").alias("avg_sim"))
    )


def threshold_sweep(
    sims: DataFrame, gold: DataFrame, n_thresholds: int = 100
) -> DataFrame:
    """Precision/recall/F1 at thresholds i/n, i = 0..n -> DataFrame
    (threshold, tp, fp, fn, precision, recall, fmeasure), n+1 rows.

    Semantics (reference falsepos/falseneg/truepos, ScalableEntity-
    Resolution.scala:222-259): a PREDICTED duplicate at threshold t is a
    candidate pair with sim >= t; gold pairs missing from the candidates
    count with sim 0.0. ``sims`` holds each pair once (as every
    similarity join here emits it). Computed in one pass over each
    input and ONE aggregation keyed by threshold -- no cumulative
    window, no global gather, and no 101 filter-count jobs.
    """
    # A full outer join on the pair key tags every candidate gold or
    # non-gold and keeps the gold pairs the candidate join never
    # produced. The candidate side arrives hash-partitioned on (a_id,
    # b_id) from the similarity aggregation, so only gold is shuffled.
    # A missing gold pair counts with sim 0.0 (reference gs_value
    # default): it sits in bin 0, a predicted positive at threshold 0 as
    # well as a true one (counting it as a true positive alone makes tp
    # exceed pred_pos there -- negative fp, precision > 1). A NULL or
    # negative sim sits in the sentinel bin -1: still a candidate, never
    # a predicted positive.
    # A pair in bin k is a predicted positive at thresholds 0..k, so it
    # emits one row per threshold it passes, and a gold pair one row per
    # threshold, so that every threshold counts |gold|. The
    # partial-aggregated groupBy(t) then yields pred_pos, tp and |gold|
    # per threshold; the n+1 grid rows make every threshold appear even
    # when no pair reaches it.
    g = gold.select("a_id", "b_id", F.lit(True).alias("_gold"))
    s = sims.select("a_id", "b_id", "sim", F.lit(True).alias("_cand"))
    n = F.lit(n_thresholds).cast("long")
    zero = F.lit(0).cast("long")
    # greatest() skips NULL, so a NULL sim clamps to -1 like a negative
    bin_col = F.when(F.col("_cand").isNull(), zero).otherwise(
        F.least(F.greatest(F.floor(F.col("sim") * n_thresholds), F.lit(-1).cast("long")), n)
    )
    passed = F.when(F.col("_gold"), F.sequence(zero, n)).when(
        F.col("bin") >= 0, F.sequence(zero, F.col("bin"))
    )
    per_threshold = (
        s.join(g, ["a_id", "b_id"], "full")
        .select(bin_col.alias("bin"), "_gold")
        .select(F.explode(passed).alias("t"), (F.col("t") <= F.col("bin")).alias("_pred"), "_gold")
    )
    grid = sims.sparkSession.range(0, n_thresholds + 1, 1, 1).select(
        F.col("id").alias("t"), F.lit(False).alias("_pred"), F.lit(None).cast("boolean").alias("_gold")
    )
    binned = (
        per_threshold.unionByName(grid)
        .groupBy("t")
        .agg(
            F.count_if("_pred").alias("pred_pos"),
            F.count_if(F.col("_pred") & F.col("_gold")).alias("tp"),
            F.count("_gold").alias("n_dups"),
        )
    )
    return binned.select(
        (F.col("t") / n_thresholds).alias("threshold"),
        F.col("tp"),
        (F.col("pred_pos") - F.col("tp")).alias("fp"),
        (F.col("n_dups") - F.col("tp")).alias("fn"),
        F.when(F.col("pred_pos") > 0, F.col("tp") / F.col("pred_pos")).alias("precision"),
        # n_dups == 0 (empty gold standard) -> NULL recall, matching the
        # precision guard; the unguarded division raises under Spark 4's
        # default ANSI mode.
        F.when(F.col("n_dups") > 0, F.col("tp") / F.col("n_dups")).alias("recall"),
        F.when(
            (F.col("pred_pos") + F.col("n_dups")) > 0,
            2.0 * F.col("tp") / (F.col("pred_pos") + F.col("n_dups")),
        ).alias("fmeasure"),
    )


def idf_histogram(idf_df: DataFrame, n_bins: int = 50) -> DataFrame:
    """Relative-frequency histogram of IDF values (reference
    SimilarityApp.scala:38-58, minus the JFreeChart window): equi-width
    bins over [min, max], top edge folded into the last bin."""
    stats = idf_df.agg(
        F.min("idf").alias("lo"),
        F.max("idf").alias("hi"),
        F.count("*").alias("n"),
    )
    return (
        idf_df.crossJoin(F.broadcast(stats))
        .select(
            F.least(
                F.floor((F.col("idf") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / n_bins)),
                F.lit(n_bins - 1).cast("long"),
            ).alias("bin"),
            "n",
        )
        .groupBy("bin", "n")
        .agg(F.count("*").alias("cnt"))
        .select("bin", "cnt", (F.col("cnt") / F.col("n")).alias("rel_freq"))
    )


def blocking_quality(
    candidates: DataFrame,
    truth: DataFrame,
    n_items: int,
    round_digits: int = 9,
    truth_sample_rate: float = 1.0,
) -> DataFrame:
    """Blocking-scheme quality report: the two standard record-linkage
    metrics for a candidate-pair generator (LSH bands, prefix blocking,
    sorted neighborhoods) against a ground-truth pair set --

    * ``pairs_completeness`` (recall of blocking): the share of true
      pairs the blocker catches. A blocker that misses true matches
      caps the whole pipeline's recall, silently.
    * ``reduction_ratio``: 1 - |candidates| / C(n_items, 2), the share
      of the quadratic comparison space the blocker eliminated -- the
      entire reason blocking exists (the reference's inverted index
      reports exactly this: 4,397,038 -> 2,441,100 pairs,
      ScalableEntityResolutionTest.scala:86-87).

    Both inputs are unordered (a_id, b_id) pair tables with a_id < b_id
    (every blocker in this engine emits that orientation). The overlap
    is ONE equi-join on the composite pair key -- never a cross
    comparison; both sides are already pair-sized, so the metric costs
    less than the blocking it evaluates. Returns a single row:
    (n_candidates, n_truth, n_caught, pairs_completeness,
    reduction_ratio).

    ``truth_sample_rate`` < 1 is the 100 TB path for the truth side
    (building an exhaustive similarity-graph truth set at full scale
    costs more than the blocking under audit): the truth pairs are
    thinned by a deterministic salted md5 hash of the pair key
    (salt 'bqt:'), so the sample is reproducible across runs and
    partitionings and independent of how the truth pairs were
    generated. ``pairs_completeness`` then becomes an unbiased
    estimate (each truth pair kept with equal probability, caught
    status unaffected by sampling); ``n_truth``/``n_caught`` report
    the SAMPLED counts, and ``reduction_ratio`` is untouched (the
    candidate side is never sampled). Convergence of the estimate to
    the exact value is property-tested in tests/test_round10_ops.py.
    """
    if n_items < 2:
        raise ValueError(f"blocking_quality: n_items must be >= 2, got {n_items}")
    if not 0 < truth_sample_rate <= 1:
        raise ValueError(
            "blocking_quality: truth_sample_rate must be in (0, 1], got "
            f"{truth_sample_rate}"
        )
    c = candidates.select("a_id", "b_id").distinct()
    t = truth.select("a_id", "b_id").distinct()
    if truth_sample_rate < 1:
        from ..functions.hashing import MERSENNE31, string_hash31

        cut = int(truth_sample_rate * MERSENNE31)
        t = t.where(
            string_hash31(
                F.concat_ws("|", F.lit("bqt:"), "a_id", "b_id")
            )
            < F.lit(cut)
        )
    caught = t.join(c, ["a_id", "b_id"], "left_semi")
    total_pairs = n_items * (n_items - 1) // 2
    counts = (
        c.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
        .crossJoin(t.agg(F.count(F.lit(1)).cast("long").alias("n_truth")))
        .crossJoin(
            caught.agg(F.count(F.lit(1)).cast("long").alias("n_caught"))
        )
    )
    return counts.select(
        "n_candidates",
        "n_truth",
        "n_caught",
        F.when(
            F.col("n_truth") > 0,
            F.round(F.col("n_caught") / F.col("n_truth"), round_digits),
        ).alias("pairs_completeness"),
        F.round(
            1.0 - F.col("n_candidates") / F.lit(float(total_pairs)),
            round_digits,
        ).alias("reduction_ratio"),
    )
