"""Physical-plan assertions: the plans we'd want on a 1000-executor
cluster, not just plans that happen to produce correct rows.

Checks (via explain output): parquet column pruning and predicate
pushdown reach the scan; the IDF lookup is a broadcast hash join; the
sparse similarity join never degenerates into a nested-loop/cartesian;
and no Python row UDF (BatchEvalPython) appears anywhere -- Python is
allowed only as Arrow-batched mapInPandas in the multimodal operators.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from sparkbigdatatextanalysis_spark.operators import similarity as sim
from sparkbigdatatextanalysis_spark.operators import tfidf as tfidf_ops

SF = "/root/testdata/sf0.001"


def plan_str(df) -> str:
    """Formatted physical plan (includes scan ReadSchema / PushedFilters)."""
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return qe.explainString(jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


def test_scan_column_pruning(spark):
    df = entry_mod.q_scan_concat(spark, SF)
    plan = plan_str(df)
    # Only the projected columns may reach the parquet scan.
    assert "p_name" in plan
    assert "p_retailprice" not in plan
    assert "p_comment" not in plan


def test_scan_predicate_pushdown(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").where(F.col("doc_id") < 100)
    plan = plan_str(docs)
    assert "PushedFilters" in plan
    assert "LessThan(doc_id,100)" in plan.replace(" ", "").replace("doc_id,100", "doc_id,100")


def test_idf_lookup_is_broadcast_join(spark):
    tok = tfidf_ops.tokenized(
        spark.read.parquet(f"{SF}/documents.parquet").select(
            F.col("doc_id").alias("id"), "text"
        )
    )
    w = tfidf_ops.tfidf_weights(tok, tfidf_ops.idf_table(tok))
    assert "BroadcastHashJoin" in plan_str(w)


def test_sparse_similarity_join_never_nested_loop(spark):
    tok = tfidf_ops.tokenized(
        spark.read.parquet(f"{SF}/documents.parquet").select(
            F.col("doc_id").alias("id"), "text"
        )
    )
    idf = tfidf_ops.idf_table(tok)
    w = tfidf_ops.tfidf_weights(tok, idf)
    wa, wb = w.where(F.col("id") % 2 == 0), w.where(F.col("id") % 2 == 1)
    plan = plan_str(sim.cosine_similarity_join(wa, wb))
    # No unbroadcast cartesian anywhere (idf_table attaches the corpus
    # size through a window over its own aggregate, not a join).
    assert "CartesianProduct" not in plan
    # Candidate generation must be an equi-join (shuffle or broadcast hash).
    assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


@pytest.fixture(scope="module")
def all_plans(spark) -> dict[str, str]:
    """Formatted physical plan of every declared query, built once for
    the whole-surface checks below (building all of them is the bulk of
    this module's run time)."""
    return {name: plan_str(fn(spark, SF)) for name, fn in entry_mod.queries().items()}


def test_no_row_python_udf_anywhere(all_plans):
    """Every declared query plan must stay JVM-side except the multimodal
    Arrow/mapInPandas operators (and streaming helpers built for batch)."""
    # ann_topk_lsh / dedup_embedding_lsh: sign-LSH signatures are one
    # Arrow-batched int64 GEMM per batch -- the scalar codegen
    # alternative (one +-add chain per plane) exceeds the JVM 64 KB
    # method limit at adaptive plane counts and degrades the stage to
    # interpreted evaluation.
    allowed_python = {
        "media_decode",
        "media_frame_sample",
        # r8: the aHash signature and the resize stats ride the same
        # Arrow resize stage as the other multimodal operators (codecs
        # are Python by nature)
        "media_ahash_pairs",
        "media_resize_stats",
        "ann_topk_lsh",
        "dedup_embedding_lsh",
    }
    # dedup_embedding's exact blocked-GEMM path is deliberately
    # Arrow-grouped (one BLAS matmul per block pair beats any number of
    # interpreted JVM zip_with folds for dense all-pairs math);
    # events_anomaly is the batch twin of the streaming Welford monitor
    # -- the per-key scan is inherently sequential (each z-score depends
    # on the running state of all PRIOR rows), so the key group is the
    # parallelism unit by construction
    allowed_grouped = {"dedup_embedding", "events_anomaly"}
    for name, plan in all_plans.items():
        assert "BatchEvalPython" not in plan, f"row UDF in {name}"
        if name not in allowed_python:
            assert "ArrowEvalPython" not in plan, f"pandas UDF in {name}"
            assert "MapInPandas" not in plan, f"mapInPandas in {name}"
        if name not in allowed_grouped:
            assert "FlatMapGroupsInPandas" not in plan, f"applyInPandas in {name}"


def test_no_unbroadcast_cartesian_anywhere(all_plans):
    """No declared query may plan a CartesianProduct (an UNBROADCAST
    pair-level cross). BroadcastNestedLoopJoin is permitted: it appears
    as the 1-row scalar attach of several statistics queries and as the
    intentional broadcast-side cross of the dense/brute-force
    strategies, all of which stream the big side exactly once."""
    for name, plan in all_plans.items():
        assert "CartesianProduct" not in plan, f"cartesian in {name}"


def test_vocab_topk_is_take_ordered(spark):
    """The vocabulary head must plan as TakeOrdered (per-partition
    bounded heaps), never a global sort of the whole vocabulary."""
    plan = plan_str(entry_mod.q_vocab_top_tokens(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_latest_per_user_single_shuffle(spark):
    """CDC compaction: exactly one input-proportional exchange (the
    hash partition on user_id feeding the rank window)."""
    plan = plan_str(entry_mod.q_events_latest_per_user(spark, SF))
    # formatted mode lists each Exchange's args on its own line
    n_exchanges = plan.count("Arguments: hashpartitioning(")
    assert n_exchanges == 1, plan
    # rank-limit pushdown: rows beyond the per-key top-1 are dropped
    # map-side BEFORE the shuffle (Partial WindowGroupLimit)
    assert "WindowGroupLimit" in plan


def _is_dense_plan(sims) -> bool:
    """True when the analyzed plan of a cosine join is the dense form:
    the sparse join multiplies the token equi-join's ``w_a`` x ``w_b``
    columns, the dense form the flat table's per-doc columns.
    (A BroadcastNestedLoopJoin cannot tell them apart: the dense form's
    pair cross is one, and so is any scalar attach a caller adds.)"""
    return "w_a#" not in sims._jdf.queryExecution().analyzed().toString()


def test_dense_strategy_picked_only_for_small_vocab(spark):
    """The entry module's candidate join plans dense on the fixture's small
    vocabulary; cosine_similarity_join itself is always the sparse join."""
    assert 0 < entry_mod._vocab_n(spark, SF) <= sim.DENSE_UNROLL_MAX
    assert _is_dense_plan(entry_mod._sims(spark, SF))
    tok = tfidf_ops.tokenized(
        spark.read.parquet(f"{SF}/documents.parquet").select(
            F.col("doc_id").alias("id"), "text"
        )
    )
    w = tfidf_ops.tfidf_weights(tok, tfidf_ops.idf_table(tok))
    wa, wb = w.where(F.col("id") % 2 == 0), w.where(F.col("id") % 2 == 1)
    assert not _is_dense_plan(sim.cosine_similarity_join(wa, wb))


def test_tpch_q4_filter_pushed_and_preagg(spark):
    """Q4 shape: the quarter filter must reach the orders scan, and the
    EXISTS must be the pre-aggregated join (partial agg on lineitem),
    never a per-pair nested loop."""
    plan = plan_str(entry_mod.q_tpch_q4_like(spark, SF))
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "NestedLoopJoin" not in plan


def test_tpch_q18_broadcasts_survivor_set(spark):
    """Q18 shape: after the HAVING prune both dimension attachments must
    be broadcast joins -- the only full-table work is the fact agg."""
    plan = plan_str(entry_mod.q_tpch_q18_like(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_corpus_bigrams_no_join(spark):
    """Bigrams form in-row (zip_with over the token array): the plan may
    not contain any join (a positional self-join would shuffle the whole
    exploded token stream twice), and top-k must be TakeOrdered."""
    plan = plan_str(entry_mod.q_corpus_bigrams(spark, SF))
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_rolling_1h_single_shuffle_range_frame(spark):
    """The trailing-hour window: exactly one input-proportional exchange
    (hash on user_id) and a RANGE frame, not ROWS."""
    plan = plan_str(entry_mod.q_events_rolling_1h(spark, SF))
    assert plan.count("Arguments: hashpartitioning(") == 1, plan
    assert "RangeFrame" in plan


def test_table_profile_two_pass_split(spark):
    """Profiling is exactly TWO passes since r11: the plain
    counts/min/max aggregation and the multi-distinct aggregation run
    as separate scans joined on their single rows -- mixing them into
    one aggregate dragged every non-distinct buffer through the
    multi-distinct Expand (k+1 row copies; measured 2.6x slower than
    the two pieces apart at sf0.1). The Expand must appear exactly once
    (the distinct branch only), and nothing may add a third scan."""
    plan = plan_str(entry_mod.q_table_profile(spark, SF))
    # formatted mode prints one Location line per scan node
    assert plan.count("Location: InMemoryFileIndex") == 2, plan
    # one Expand NODE (formatted mode mentions each node twice: once in
    # the tree, once in the details section)
    assert plan.count("+- Expand") == 1, plan


def test_stratified_sample_map_only(spark):
    """Hash-bucket stratified sampling must stay map-only: no shuffle,
    no join -- it's a filter over a scan at any scale."""
    plan = plan_str(entry_mod.q_docs_stratified_sample(spark, SF))
    assert "hashpartitioning(" not in plan
    assert "Join" not in plan


def test_funnel_no_window_over_stream(spark):
    """The funnel must be the chained min-agg form: no window over the
    full event stream (per-user sort of 100 TB), only user-keyed joins
    of shrinking reach tables."""
    plan = plan_str(entry_mod.q_funnel_conversion(spark, SF))
    assert "Window" not in plan


def test_tpch_q2_pushdown_and_broadcasts(spark):
    """Q2 shape: the part-class filters must reach the part scan, every
    dim attach must broadcast, and the min-price correlation must be the
    decorrelated agg+join (no nested loop)."""
    plan = plan_str(entry_mod.q_tpch_q2_like(spark, SF))
    assert "EqualTo(p_type,STANDARD)" in plan
    assert "LessThan(p_size,15)" in plan
    assert plan.count("BroadcastHashJoin") >= 3
    assert "NestedLoopJoin" not in plan


def test_tpch_q7_broadcasts_filtered_dims(spark):
    """Q7 shape: nation-filtered customer and supplier sides broadcast
    (the IN filter pushes to the nation scan); the only big join is
    lineitem-orders."""
    plan = plan_str(entry_mod.q_tpch_q7_like(spark, SF))
    assert "In(n_name" in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_tpch_q16_broadcast_anti_join(spark):
    """Q16 shape: the supplier exclusion must be a broadcast ANTI join
    (never a shuffle of the fact for a tiny exclusion set)."""
    plan = plan_str(entry_mod.q_tpch_q16_like(spark, SF))
    assert "BroadcastHashJoin LeftAnti BuildRight" in plan
    assert "SortMergeJoin" not in plan


def test_merge_upsert_no_full_outer(spark):
    """MERGE must compile to the copy-on-write decomposition: no
    full-outer join (full outer cannot broadcast -- it would shuffle the
    100 TB target), changeset-sized broadcasts only."""
    plan = plan_str(entry_mod.q_merge_upsert_events(spark, SF))
    assert "FullOuter" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_gapfill_generates_grid_in_plan(spark):
    """Gap fill: the grid comes from an exploded sequence() (map-side row
    generation), never from a join against a materialized calendar."""
    plan = plan_str(entry_mod.q_events_gapfill(spark, SF))
    assert "explode(sequence(" in plan


def test_orders_corr_single_agg_no_window(spark):
    """Moment-sum Pearson: one partial-agg pass over the fact join; no
    window function (a corr-via-window would single-thread each group)."""
    plan = plan_str(entry_mod.q_orders_corr(spark, SF))
    assert "Window" not in plan
    assert "HashAggregate" in plan
    assert "BroadcastHashJoin" in plan


def test_embedding_centroids_partial_agg(spark):
    """Centroids: posexplode feeds ONE hash shuffle on (label, dim) with
    map-side partial sums -- the shape that collapses 100 TB of vectors
    at the combiner."""
    plan = plan_str(entry_mod.q_embedding_centroids(spark, SF))
    assert "posexplode(" in plan
    assert plan.count("Arguments: hashpartitioning(") == 1, plan


def test_heavy_hitters_one_shuffle_broadcast_total(spark):
    """Skew diagnostics: one hash shuffle (per-key counts); the global
    total attaches as a broadcast single row, not a second pass or a
    global window."""
    df = entry_mod.q_heavy_hitter_users(spark, SF)
    df.collect()  # finalize the adaptive plan
    plan = plan_str(df)
    # The totals branch shares the per-key count exchange: AQE's
    # ReuseExchange dedupes the two identical shuffles at runtime, so
    # the table is scanned and shuffled once.
    assert "ReusedExchange" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_text_normalize_map_only(spark):
    """Normalization is a narrow projection: no shuffle, no join."""
    plan = plan_str(entry_mod.q_text_normalize(spark, SF))
    assert "hashpartitioning(" not in plan
    assert "Join" not in plan


def test_grouping_sets_expand(spark):
    """GROUPING SETS expands map-side (Expand node) into exactly the
    requested 3 sets -- never a union of 3 re-scans."""
    plan = plan_str(entry_mod.q_orders_grouping_sets(spark, SF))
    assert "Expand" in plan
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_interarrival_one_shuffle(spark):
    """Inter-arrival histogram: one hash shuffle on the user key for the
    lag window; the minute bucketing and count aggregate partially
    map-side after it."""
    plan = plan_str(entry_mod.q_events_interarrival(spark, SF))
    assert plan.count("Arguments: hashpartitioning(") <= 2
    assert "Window" in plan


def test_status_breakdown_single_pass(spark):
    """Conditional aggregation: one scan, one aggregate -- no pivot
    pre-pass, no join, no Expand."""
    plan = plan_str(entry_mod.q_orders_status_breakdown(spark, SF))
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Join" not in plan
    assert "Expand" not in plan


def test_pii_scrub_map_only(spark):
    """Scrubbing is a narrow projection: no shuffle, no join."""
    plan = plan_str(entry_mod.q_docs_pii_scrub(spark, SF))
    assert "hashpartitioning(" not in plan
    assert "Join" not in plan
