"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[N].

Each query is timed end-to-end (its full lineage, cold) and executed with
the no-op sink so measurement covers distributed execution, not driver
collect. Prints ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": <sf>}
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Headline queries: the flagship similarity join plus one representative of
# each engine area (TF-IDF core, evaluation sweep, quadratic path, and the
# training-data-pipeline extensions when present).
HEADLINE = [
    "fast_cosine_join",
    "tfidf_vectors",
    "cross_similarity",
    "threshold_sweep",
    "common_token_pairs",
    # extension ops -- included when registered in queries()
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_topk_bruteforce",
    "ann_topk_lsh",
    "ann_topk_ivf",
    "text_quality",
    "doc_fingerprint",
    "media_decode",
    "events_windowed",
    "events_sessionize",
    "pricing_rollup",
    "top_parts_by_brand",
    "asof_join_events",
    "range_join_events",
    "sales_cube",
    "dedup_near_clusters",
    "tpch_q5_like",
    "vocab_top_tokens",
    "train_test_ngram_overlap",
    "docs_pack_sequences",
    "events_latest_per_user",
    "dedup_simhash_pairs",
    "dedup_embedding_lsh",
    "docs_unigram_logprob",
    "tpch_q18_like",
    "funnel_conversion",
    "corpus_bigrams",
    "events_rolling_1h",
    "table_profile",
    "merge_upsert_events",
    "events_gapfill",
    "embedding_centroids",
    # the JVM anomaly plan -- the 100 TB backfill shape; its Arrow twin
    # events_anomaly moved to WITNESS below (r4 verdict #3)
    "events_anomaly_sql",
    "scd2_history",
    "winsorize_values",
    # r4 additions: line-level dedup, BM25 retrieval, quality-aware
    # cluster representatives
    "docs_line_dedup",
    "docs_bm25_topk",
    "dedup_best_rep",
    # r5 additions: winnowing substring dedup, batch BM25, chunking,
    # int8 quantization round-trip
    "docs_substring_dedup",
    "docs_bm25_batch",
    "docs_chunk_windows",
    "embeddings_quantized",
    "dedup_semantic",
    "docs_domain_caps",
    # r6 additions: the span-subtraction (user-facing) half of
    # exact-substring dedup, join-free Bloom decontamination, and
    # count-min-sketch frequency estimates
    "docs_substring_clean",
    "docs_bloom_decontaminate",
    "tokens_cms_estimates",
    # r7 additions: the four newly driver-gated operators plus the
    # incremental semantic dedup contract
    "docs_prefix_blocking",
    "events_zorder_key",
    "orders_profile_drift",
    "skew_join_auto",
    "incremental_semantic_flags",
    "value_percentiles_approx",
    "pair_jaccard_estimates",
    "incremental_lines_batch",
    # r8 additions: the three formerly pytest-only operators promoted to
    # driver keys (perceptual aHash near-dup pairs, large-star/small-star
    # connected components, the native session_window twin)
    "media_ahash_pairs",
    "media_resize_stats",
    "dedup_near_clusters_star",
    "events_session_native",
    "embeddings_decontaminate",
    "incremental_ingest_verdict",
    "tpch_q6_like",
    "tpch_q10_like",
    "tpch_q14_like",
    "history_merge_replay",
    # r8 second wave: the iterative fixed-point PageRank, the bigram
    # Stupid-Backoff LM scorer, cohort retention, RFM segmentation, and
    # the widest/narrowest of the seven new TPC-H shapes
    "events_pagerank",
    "docs_bigram_logprob",
    "user_retention_cohorts",
    "orders_rfm_segments",
    "tpch_q1_like",
    "tpch_q8_like",
    "docs_global_rank",
    "events_monthly_uniques_sketch",
    "dedup_triangle_density",
    "purchase_attribution",
    "events_reconcile",
    # r9 additions: interval-union coverage, Markov transitions, k-core
    # peeling, grouped OLS trend, market-basket pairs, cumulative users,
    # TF-IDF keyterms, k-NN label vote, MAD outliers, unpivot
    "events_interval_union",
    "events_type_transitions",
    "dedup_kcore",
    "orders_price_trend",
    "basket_brand_pairs",
    "events_cumulative_users",
    "docs_keyterms",
    "embeddings_knn_label",
    "events_value_mad",
    "orders_unpivot",
    "docs_bpe_segments",
    # r9 second wave: fractional multi-touch attribution, funnel
    # latency percentiles, row-level CDC diff, repeat-purchase share,
    # directed containment pairs
    "attribution_linear",
    "funnel_latency",
    "events_snapshot_diff",
    "orders_repeat_share",
    "dedup_containment",
    "orders_abc_classes",
    "events_dau_wau",
    "session_paths",
    "orders_mom_growth",
    "dedup_cluster_sizes",
    "docs_shingle_novelty",
    "orders_mix_drift",
    "embeddings_profile",
    "events_hourly_profile",
    "events_value_band_join",
    # r10: the DAU/WAU HLL rolling-window swap and the production-shape
    # (no-broadcast) IVF k-NN labeler. streaming_verdict_day2 is
    # deliberately NOT timed: it is a correctness gate for the
    # streaming read-state->probe->append path whose compute body is
    # already the incremental_ingest_verdict / incremental_ingest_batch
    # entries -- timing it twice would double-count the same operator
    # plus throwaway tempdir IO.
    "events_dau_wau_sketch",
    "embeddings_knn_label_ivf",
    # r10 second wave: the TPC-H completion quartet, item-item CF,
    # shape moments, PMI collocations, blocking-quality audit, EWMA,
    # grouped band join, PSI drift, weekly streaks, Zipf fit
    "tpch_q9_like",
    "tpch_q12_like",
    "tpch_q20_like",
    "tpch_q21_like",
    "parts_copurchase_cosine",
    "events_value_moments",
    "docs_pmi_collocations",
    "dedup_blocking_quality",
    "events_ewma",
    "orders_near_duplicate_amounts",
    "orders_price_psi",
    "users_weekly_streaks",
    "docs_zipf_fit",
    # r10 third wave: association rules, temporal dimension lookup,
    # lexical diversity, burst detection, IVF inertia audit, vocab
    # coverage curve, PCA power iteration
    "orders_brand_rules",
    "events_scd2_lookup",
    "docs_lexical_diversity",
    "users_burst_rate",
    "embeddings_cluster_inertia",
    "docs_ngram_coverage",
    "embeddings_pca_power",
    "nation_revenue_share",
    "event_type_audience_overlap",
    "events_dow_deseasonalize",
    "customers_acctbal_gini",
    "events_peak_concurrency",
    "events_conversion_survival",
    "embeddings_remove_top_component",
    # r10 fifth wave: ACF, two-sample KS, graph assortativity,
    # inter-purchase cadence, chi-square independence, supplier HHI
    "events_daily_acf",
    "docs_length_ks",
    "dedup_assortativity",
    "orders_interpurchase_dist",
    "events_chisq_type_dow",
    "brand_supplier_hhi",
    # r10 sixth wave: MMR diversified top-k, CUSUM changepoint, token
    # entropy, 2-D skyline, session bounce rate
    "embeddings_mmr_topk",
    "events_cusum_changepoint",
    "docs_token_entropy",
    "customers_pareto_front",
    "sessions_bounce_rate",
    # r10 seventh wave: source redundancy map, BFS census, hubness,
    # referential-integrity audit, cohort LTV
    "sources_similarity_matrix",
    "dedup_bfs_depths",
    "embeddings_knn_hubness",
    "referential_integrity_audit",
    "cohort_ltv",
    # r10 eighth wave: decile QQ, medoid representatives, OLS forecast
    # backtest (docs_heaps_law was built and DROPPED: the synthetic
    # corpus has a closed ~30-word vocabulary, so the fit is degenerate
    # -- beta identically 0 -- and a vacuous gate is worse than none)
    "orders_price_qq",
    "dedup_medoid_reps",
    "nation_revenue_forecast_backtest",
    # r10 ninth wave: hashing-trick featurizer, WoW retention, Lorenz
    # deciles, within-session type association
    "docs_feature_hash",
    "users_wow_retention",
    "customers_lorenz_deciles",
    "session_type_pairs",
    # r10 tenth wave: Markov stationary distribution, triplet-margin
    # embedding audit, power-user curve
    "events_markov_stationary",
    "embeddings_triplet_margin",
    "users_power_curve",
    # r10 eleventh wave: the dedup tuning curves (threshold sweep,
    # LSH band-count precision/recall trade)
    "dedup_threshold_curve",
    "dedup_lsh_band_curve",
    # r11 coverage closure (r10 verdict "What's missing #2"): every
    # remaining queries() key is benched so a per-query plan regression
    # anywhere in the gated surface shows up in the artifact; the only
    # exceptions live in BENCH_EXCLUDED below with per-key rationale.
    # -- reference TF-IDF core (cheap, mostly behind the pipeline
    #    persist barriers the flagship warms)
    "scan_concat",
    "scan_gold_pairs",
    "str_strip_quotes",
    "tokenize",
    "tokenize_stopwords",
    "term_frequencies",
    "idf_dict",
    "l2_norm",
    "dot_product",
    "inverted_index",
    "filter_pair_lookup",
    "count_tokens",
    "top1_by_token_count",
    "union_corpus",
    "gold_join_eval",
    "idf_histogram",
    "minhash_signatures",
    # -- dedup / text family remainder
    "dedup_ngram_jaccard",
    "dedup_embedding",
    "text_lang_id",
    "token_counts",
    "text_repetition",
    "text_normalize",
    "tokens_except",
    "pair_edit_distance",
    "docs_token_budget",
    "docs_split_sample",
    "docs_stratified_sample",
    "docs_mixture_sample",
    "docs_shuffle_shards",
    "docs_weighted_sample",
    "docs_curation_rules",
    "docs_pii_scrub",
    "docs_hashed_embeddings",
    "curation_pipeline",
    "incremental_dedup_flags",
    "incremental_spans_batch",
    # -- relational / events remainder
    "media_frame_sample",
    "events_sliding_users",
    "value_percentiles",
    "customers_no_orders",
    "events_hourly_from_minutely",
    "events_value_zscore",
    "user_type_pivot",
    "orders_by_month",
    "orders_grouping_sets",
    "events_interarrival",
    "orders_status_breakdown",
    "events_json_props",
    "approx_distinct_users",
    "events_value_bins",
    "orders_corr",
    "heavy_hitter_users",
    "skew_join_events",
    "user_running_stats",
    # -- r11 wave: rank/parametric two-sample tests, candidate-graph
    #    structure audits
    "docs_length_mannwhitney",
    "events_value_welch",
    "dedup_local_clustering",
    "dedup_adamic_adar",
    "orders_benford",
    "customers_cramers_v",
    "events_seasonality_strength",
    "users_activity_entropy",
    "orders_theilsen_monthly",
    "orders_basket_poisson",
    "orders_spearman_price_items",
    "docs_perplexity_buckets",
    "embeddings_ann_recall_curve",
    # -- r11 wave 3: rank-based trend/changepoint, the pair-free
    #    anisotropy audit, temperature mixture weights
    "orders_mann_kendall",
    "events_pettitt_daily",
    "embeddings_anisotropy",
    "docs_mixture_temperature",
    "dedup_sorted_neighborhood",
    "user_brand_hits",
    "train_test_overlap_curve",
    "embeddings_silhouette",
    "orders_metric_corr_matrix",
    "docs_rule_firing_matrix",
    "dedup_bcubed_eval",
    "embeddings_quantization_error",
    "events_debounce",
    # -- TPC-H shapes not yet in the artifact
    "tpch_q2_like",
    "tpch_q3_like",
    "tpch_q4_like",
    "tpch_q7_like",
    "tpch_q13_like",
    "tpch_q15_like",
    "tpch_q16_like",
    "tpch_q17_like",
    "tpch_q19_like",
    "tpch_q22_like",
    # bench-only entries (not driver-gated queries): the bucketed-layout
    # and incremental scale paths plus the 100-query BM25 batch -- see
    # EXTRA below. Every incremental_* name times the daily run over
    # history tables built once, untimed, where the similarly-named
    # gated key builds its history inline so the
    # whole contract stays oracle-checkable; the names are DISTINCT from
    # the gated keys so no bench field shadows a queries() key with
    # different semantics (r6 advice -- incremental_spans_prebuilt was
    # recorded as incremental_spans_batch through r6).
    "join_unbucketed_shuffle",
    "join_bucketed_colocated",
    "incremental_dedup_batch",
    "incremental_spans_prebuilt",
    "incremental_semantic_batch",
    "incremental_ingest_batch",
    "bm25_batch_100q",
]

# Correctness-gated cross-algorithm witnesses that are NOT 100 TB plans
# and whose timing is contention-noise-dominated (the Arrow per-key
# anomaly scan swung 3.8-5.3 s across rounds with an untouched body,
# masking real regressions in the headline total). Timed and reported
# under "witness_queries", EXCLUDED from the headline metric; the fast
# JVM twin (events_anomaly_sql) stays in HEADLINE.
WITNESS = [
    "events_anomaly",
]

# Gated keys deliberately NOT timed, with per-key rationale (r10
# verdict: every queries() key must be benched or listed here; the
# coverage contract is pinned by tests/test_bench_coverage.py).
BENCH_EXCLUDED = {
    "streaming_verdict_day2": (
        "correctness gate for the streaming read-state->probe->append "
        "path; its compute body is already timed as "
        "incremental_ingest_verdict / incremental_ingest_batch -- "
        "timing it again would double-count the operator plus "
        "throwaway tempdir checkpoint IO"
    ),
    "streaming_sessions_flush": (
        "correctness gate for the applyInPandasWithState session state "
        "machine (batch-spanning state + flush close): wall time is "
        "tempdir write + 3-trigger stream replay + memory-sink IO, not "
        "a 100 TB plan; the compute body is timed as events_sessionize "
        "/ events_session_native"
    ),
    "streaming_anomaly_replay": (
        "correctness gate for the Welford-state streaming monitor "
        "(state surviving two batch boundaries): wall time is tempdir "
        "write + 3-trigger replay + memory-sink IO; the compute body "
        "is timed as events_anomaly (witness) / events_anomaly_sql"
    ),
    "streaming_funnel_replay": (
        "correctness gate for the stateful streaming funnel (reach "
        "state surviving two batch boundaries): wall time is tempdir "
        "write + 3-trigger replay + memory-sink IO; the compute body "
        "is timed as funnel_conversion"
    ),
    "cosine_similarity": (
        "two-doc scalar probe (ids 4/5): wall time is fixed session "
        "overhead, not plan cost; the corpus-wide twins "
        "cross_similarity / fast_cosine_join are timed"
    ),
    "doc_similarity": (
        "two-doc end-to-end probe (tokenize->tfidf->cosine on ids "
        "0/1): same fixed-overhead class; every constituent operator "
        "is timed corpus-wide elsewhere in the headline"
    ),
}


# ---------------------------------------------------------------------------
# Bench-only workloads: the two strongest 100 TB layout stories, which
# are write-surface shapes rather than oracle-checkable queries.
# ---------------------------------------------------------------------------

_SETUP_CACHE: dict = {}


def _other_java_procs() -> int:
    """Count java processes NOT descended from this bench (a concurrent
    Spark session or test suite JVM -- the contention source that made
    identical-code runs span 34-44 s). Walks the full ancestor chain
    (one /proc pid->ppid snapshot), so a gateway JVM launched through a
    non-exec wrapper or reparented mid-run is still recognized as OURS
    rather than reported as contention (r6 advice: the old single-level
    ppid check made an honest solo run look contended in that case).
    Best-effort /proc scan; 0 on an honest solo run."""
    import glob

    me = os.getpid()
    ppid_of: dict[int, int] = {}
    javas: list[int] = []
    for p in glob.glob("/proc/[0-9]*/stat"):
        try:
            pid = int(p.split("/")[2])
            with open(p) as f:
                stat = f.read()
            # comm is field 2, parenthesized and may contain spaces --
            # split on the LAST ')' like the old parser did
            comm = stat.split("(", 1)[1].rsplit(")", 1)[0]
            ppid_of[pid] = int(stat.rsplit(")", 1)[1].split()[1])
            if comm == "java":
                javas.append(pid)
        except (OSError, ValueError, IndexError):
            continue
    n = 0
    for pid in javas:
        cur, hops = pid, 0
        while cur > 1 and cur != me and hops < 64:
            cur = ppid_of.get(cur, 0)
            hops += 1
        if cur != me:
            n += 1
    return n


def _bucketed_tables(spark, sf_dir):
    """One-time layout build (untimed relative to the join pair: both
    bucketed tables are written before either join variant is timed):
    lineitem + orders bucketed 32 ways on the join key."""
    key = ("bucketed", sf_dir)
    if key not in _SETUP_CACHE:
        import shutil

        from sparkbigdatatextanalysis_spark.sources.bucketed import write_bucketed

        # A previous bench process may have left the managed locations
        # behind without this session's catalog knowing the tables --
        # saveAsTable then refuses even with mode=overwrite. Start clean.
        # Parse the warehouse URI properly: rmtree is only meaningful
        # for a local-filesystem warehouse (scheme file/empty); for
        # hdfs:// etc. a prefix-strip would target a bogus local path
        # and leave the real leftover in place (r4 advice).
        from urllib.parse import unquote, urlparse

        w = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
        warehouse = unquote(w.path) if w.scheme in ("", "file") else None
        for t in ("bench_lineitem_b", "bench_orders_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            if warehouse:
                shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_orderpriority"
        )
        write_bucketed(li, "bench_lineitem_b", ["l_orderkey"], n_buckets=32)
        write_bucketed(o, "bench_orders_b", ["o_orderkey"], n_buckets=32)
        _SETUP_CACHE[key] = True


def _fact_join(li, o):
    from pyspark.sql import functions as FF

    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            FF.count(FF.lit(1)).alias("n_items"),
            FF.round(
                FF.sum(
                    (FF.col("l_extendedprice") * (1 - FF.col("l_discount"))).cast(
                        "decimal(28,10)"
                    )
                ),
                4,
            )
            .cast("double")
            .alias("revenue"),
        )
    )


def bench_join_unbucketed(spark, sf_dir):
    """Fact-to-fact equi-join straight off parquet: BOTH sides shuffle
    on the key (the cost bucketing exists to delete)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    return _fact_join(li, o)


def bench_join_bucketed(spark, sf_dir):
    """Same join over the 32-bucket tables: the scans expose
    HashPartitioning(key, 32), so the join plans with ZERO exchanges on
    either side (asserted in tests/test_bucketed.py). The write-time
    shuffle is paid once per layout, not once per query."""
    _bucketed_tables(spark, sf_dir)
    from sparkbigdatatextanalysis_spark.sources.bucketed import read_table

    return _fact_join(
        read_table(spark, "bench_lineitem_b"), read_table(spark, "bench_orders_b")
    )


def _dedup_history(spark, sf_dir):
    """One-time accumulated-corpus state (hash + band tables over the
    even-doc_id half), persisted and materialized -- what a daily
    incremental run starts from."""
    from pyspark.sql import functions as FF

    from sparkbigdatatextanalysis_spark.operators import dedup as dd

    key = ("dedup_history", sf_dir)
    if key not in _SETUP_CACHE:
        # fan out like _spans_history: the in-row shingle+minhash build
        # is CPU-bound per row and the generated parquet is one input
        # split (r11 -- without it the history band build runs on one
        # core)
        par = spark.sparkContext.defaultParallelism
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(par)
        hist = docs.where(FF.col("doc_id") % 2 == 0)
        # the hash SET directly -- exact_dedup's min-id window computes
        # a keep flag this set never reads
        hh = (
            hist.select(FF.sha2(FF.col("text"), 256).alias("content_hash"))
            .distinct()
            .persist()
        )
        hb = (
            dd.lsh_band_keys_flat(
                dd.minhash_signatures_flat(dd.shingle_hashes(hist))
            )
            .select("band", "key")
            .persist()
        )
        hh.count()
        hb.count()
        _SETUP_CACHE[key] = (hh, hb)
    return _SETUP_CACHE[key]


def bench_incremental_dedup(spark, sf_dir):
    """Daily-batch dedup vs corpus history (operators/dedup.py::
    incremental_dedup): history = even doc_ids (hash + band tables
    prebuilt and persisted once -- the accumulated state a daily run
    starts from), batch = odd doc_ids. Timed path = the incremental
    batch only, the thing that runs every day."""
    from pyspark.sql import functions as FF

    from sparkbigdatatextanalysis_spark.functions.lineage import release
    from sparkbigdatatextanalysis_spark.operators import dedup as dd

    hh, hb = _dedup_history(spark, sf_dir)
    prev = _SETUP_CACHE.pop(("dedup_bands_prev", sf_dir), None)
    if prev is not None:
        release(prev)
    # fan out like bench_incremental_spans: the batch band build is the
    # timed CPU-bound stage and the parquet is one split (r11)
    par = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(par)
    batch = docs.where(FF.col("doc_id") % 2 == 1)
    res = dd.incremental_dedup(batch, hh, hb)
    _SETUP_CACHE[("dedup_bands_prev", sf_dir)] = res.bands
    return res.result


def _spans_history(spark, sf_dir):
    """One-time accumulated fingerprint-count state (winnowing
    fingerprints of the even-doc_id half), persisted and materialized --
    what a daily incremental substring-dedup run starts from."""
    from pyspark.sql import functions as FF

    from sparkbigdatatextanalysis_spark.operators import dedup as dd

    key = ("spans_history", sf_dir)
    if key not in _SETUP_CACHE:
        # fan out: the winnowing selection is CPU-bound per row and the
        # generated parquet is one file = one input split (the _scan
        # wide=True rationale); on a cluster the input's own splits
        # provide this
        par = spark.sparkContext.defaultParallelism
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(par)
        hist = docs.where(FF.col("doc_id") % 2 == 0)
        hc = (
            dd.winnow_fingerprints(hist)
            .groupBy("h")
            .agg(FF.count(FF.lit(1)).alias("cnt"))
            .persist()
        )
        hc.count()
        _SETUP_CACHE[key] = hc
    return _SETUP_CACHE[key]


def bench_incremental_spans(spark, sf_dir):
    """Daily-batch substring dedup vs corpus fingerprint history
    (operators/dedup.py::incremental_duplicate_spans): history = even
    doc_ids (count table prebuilt and persisted once), batch = odd
    doc_ids. Timed path = the incremental batch only."""
    from pyspark.sql import functions as FF

    from sparkbigdatatextanalysis_spark.operators import dedup as dd

    from sparkbigdatatextanalysis_spark.functions.lineage import release

    hc = _spans_history(spark, sf_dir)
    prev = _SETUP_CACHE.pop(("spans_fp_prev", sf_dir), None)
    if prev is not None:
        release(prev)
    par = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(par)
    batch = docs.where(FF.col("doc_id") % 2 == 1)
    res = dd.incremental_duplicate_spans(batch, hc)
    _SETUP_CACHE[("spans_fp_prev", sf_dir)] = res.fingerprints
    return res.spans


def _semantic_history(spark, sf_dir):
    """One-time accumulated semantic state: the even-vec_id half's KEPT
    representatives (the SemDeDup survivors -- what a daily loop
    actually commits), persisted and materialized, plus the pinned
    centroid model state shared with ann_topk_ivf / dedup_semantic."""
    from sparkbigdatatextanalysis_spark.operators import ann as ann_ops
    from sparkbigdatatextanalysis_spark.operators import dedup as dd

    key = ("semantic_history", sf_dir)
    if key not in _SETUP_CACHE:
        from pyspark.sql import functions as FF

        emb = entry_mod._emb(spark, sf_dir)
        cents = entry_mod._cached(
            spark, sf_dir, "ivf_cents", lambda: ann_ops.kmeans_centroids(emb)
        )
        hist = emb.where(FF.col("vec_id") % 2 == 0)
        r = dd.incremental_semantic_dedup(
            hist, None, entry_mod.EMBED_NEAR_DUP_THRESHOLD, cents
        )
        reps = r.delta_reps.persist()
        reps.count()
        _SETUP_CACHE[key] = (reps, cents)
    return _SETUP_CACHE[key]


def bench_incremental_semantic(spark, sf_dir):
    """Daily-batch semantic dedup vs committed representative state
    (operators/dedup.py::incremental_semantic_dedup): history = even
    vec_ids' kept reps (prebuilt and persisted once), batch = odd
    vec_ids, centroids = the pinned shared model state. Timed path =
    the daily batch only: map-only literal-centroid assignment + one
    cluster equi-join history probe + the batch self pair join."""
    from sparkbigdatatextanalysis_spark.operators import dedup as dd
    from pyspark.sql import functions as FF

    reps, cents = _semantic_history(spark, sf_dir)
    batch = entry_mod._emb(spark, sf_dir).where(FF.col("vec_id") % 2 == 1)
    return dd.incremental_semantic_dedup(
        batch, reps, entry_mod.EMBED_NEAR_DUP_THRESHOLD, cents
    ).result


def _lines_history(spark, sf_dir):
    """One-time accumulated line-count state (even-doc_id half),
    persisted and materialized -- what a daily incremental line-dedup
    run starts from."""
    from pyspark.sql import functions as FF

    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    key = ("lines_history", sf_dir)
    if key not in _SETUP_CACHE:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        hl = pl.line_counts(docs.where(FF.col("doc_id") % 2 == 0)).persist()
        hl.count()
        _SETUP_CACHE[key] = hl
    return _SETUP_CACHE[key]


def bench_incremental_ingest(spark, sf_dir):
    """The composed nightly-ingest verdict vs prebuilt corpus state
    (operators/pipeline.py::incremental_ingest_verdict): all four
    history tables (hashes+bands, fingerprint counts, line counts,
    semantic reps) prebuilt and persisted once; timed path = the daily
    batch through all four probes into one keep/drop verdict, with the
    batch bands persisted (``persist_intermediates=True``) -- the
    prebuilt-history twin of the gated incremental_ingest_verdict key
    (which builds history inline so the whole contract stays oracle-
    checkable)."""
    from pyspark.sql import functions as FF

    from sparkbigdatatextanalysis_spark.functions.lineage import release
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    hh, hb = _dedup_history(spark, sf_dir)
    hc = _spans_history(spark, sf_dir)
    hl = _lines_history(spark, sf_dir)
    reps, cents = _semantic_history(spark, sf_dir)
    for name in ("ingest_bands_prev", "ingest_fp_prev"):
        prev = _SETUP_CACHE.pop((name, sf_dir), None)
        if prev is not None:
            release(prev)
    par = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(par)
    batch = docs.where(FF.col("doc_id") % 2 == 1)
    batch_emb = entry_mod._emb(spark, sf_dir).where(FF.col("vec_id") % 2 == 1)
    res = pl.incremental_ingest_verdict(
        batch, hh, hb, hc, hl, batch_emb, reps, cents,
        entry_mod.EMBED_NEAR_DUP_THRESHOLD,
    )
    _SETUP_CACHE[("ingest_bands_prev", sf_dir)] = res.bands
    _SETUP_CACHE[("ingest_fp_prev", sf_dir)] = res.fingerprints
    return res.result


def bench_bm25_batch_100q(spark, sf_dir):
    """Batch BM25 at a realistic batch size (r5 verdict item 6): 100
    generated 2-3-term queries over the corpus vocabulary, scored in ONE
    job. The no-extra-corpus-pass claim is scan-count-pinned in
    tests/test_retrieval.py; this entry makes it QUANTITATIVE -- read it
    against docs_bm25_topk (1 query) and docs_bm25_batch (3 queries):
    the per-query marginal is (this - single) / 99. The 30-word shared
    vocabulary means the union-of-terms prune keeps essentially the
    whole corpus -- the worst case for the batch form, since nothing is
    saved by pruning and the fan-out carries all 100 queries."""
    import random

    from sparkbigdatatextanalysis_spark.operators import retrieval as rt

    rng = random.Random(13)
    vocab = [
        "join", "hash", "row", "batch", "scan", "customer", "column",
        "filter", "small", "slow", "merge", "order", "vector", "line",
        "table", "data", "agg", "value", "key", "stream", "window",
        "spark", "group", "part", "big", "sort", "query", "fast",
        "the", "dup",
    ]
    rows = [
        (f"q{qi:03d}", t)
        for qi in range(100)
        for t in rng.sample(vocab, rng.choice([2, 3]))
    ]
    qdf = spark.createDataFrame(rows, "query_id STRING, term STRING")
    return rt.bm25_batch_topk(entry_mod._tok(spark, sf_dir), qdf, k=20)


EXTRA = {
    "join_unbucketed_shuffle": bench_join_unbucketed,
    "join_bucketed_colocated": bench_join_bucketed,
    "incremental_dedup_batch": bench_incremental_dedup,
    "incremental_spans_prebuilt": bench_incremental_spans,
    "incremental_semantic_batch": bench_incremental_semantic,
    "incremental_ingest_batch": bench_incremental_ingest,
    "bm25_batch_100q": bench_bm25_batch_100q,
}


def main() -> None:
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Non-interactive harness: the console progress bar writes \r
        # frames to stderr several times a second; against a slow or
        # blocked pipe those writes stall the progress reporter and skew
        # per-query wall timings by seconds.
        .config("spark.ui.showConsoleProgress", "false")
        .appName("sparkbigdatatextanalysis-bench")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Untimed warmup: initialize the parquet reader, noop sink, shuffle
    # machinery and codegen compiler once so per-query timings measure the
    # queries, not first-use JVM setup (~5s on this box).
    spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(100).write.format(
        "noop"
    ).mode("overwrite").save()
    spark.range(1_000_000).groupBy((F.col("id") % 10).alias("k")).count().write.format(
        "noop"
    ).mode("overwrite").save()
    # Pre-spawn the Python worker pool (identity mapInPandas over every
    # core): forking 32 interpreters costs seconds under residual system
    # load and belongs to session setup, not to the first Python query.
    n_cores = int(CPUS)
    spark.range(n_cores * 4, numPartitions=n_cores).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    # Pre-build the bench-only layouts (bucketed tables, dedup history
    # state) so even the cold first-run timings measure the queries, not
    # the one-time layout writes they start from.
    _bucketed_tables(spark, SF_DIR)
    _dedup_history(spark, SF_DIR)
    _spans_history(spark, SF_DIR)
    _semantic_history(spark, SF_DIR)
    _lines_history(spark, SF_DIR)

    # Quiesce before timing: flush dirty pages left by whatever ran
    # before (test suites, data generation) and let writeback drain --
    # background I/O was measured to add seconds to Python-worker and
    # multi-stage queries. Cheap no-op on an idle system.
    os.sync()
    settle_sec = float(os.environ.get("SPARK_GRAFT_BENCH_SETTLE", "8"))
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    time.sleep(settle_sec)
    # Adaptive settle (r9 verdict item 5): when the bench is launched
    # right after a test battery, the 1-min loadavg decays with a ~60 s
    # time constant and the captured timings carry contention noise the
    # next round's reader must footnote away. Wait until the machine is
    # actually quiet (loadavg < threshold) before timing, bounded so a
    # genuinely busy host still produces an artifact. No-op on an idle
    # machine.
    settle_load = float(os.environ.get("SPARK_GRAFT_BENCH_SETTLE_LOAD", "2.0"))
    settle_max = float(os.environ.get("SPARK_GRAFT_BENCH_SETTLE_MAX", "240"))
    waited = 0.0
    while os.getloadavg()[0] >= settle_load and waited < settle_max:
        time.sleep(5.0)
        waited += 5.0
    # Settle metadata (recorded on the final JSON line so a reader can
    # verify the run was solo and quiesced): load average at timing
    # start/end and the count of java processes NOT spawned by this
    # bench -- identical-code runs spanned 34-44 s purely on machine
    # state in r3-r5, so a bench line is only comparable to another
    # with similar settle fields.
    settle_meta: dict = {
        "settle_sec": settle_sec,
        "adaptive_settle_waited_sec": waited,
        "repeats": repeats,
        "loadavg_start": [round(v, 2) for v in os.getloadavg()],
        "other_java_procs": _other_java_procs(),
    }

    # Each query runs REPEATS times and reports the per-query minimum:
    # wall-clock on a shared box is one-sided noise (page cache misses,
    # concurrent writeback, CPU contention only ever ADD time), so min is
    # the consistent estimator of the plan's true cost and makes
    # round-over-round comparison meaningful. What min-of-N measures is
    # the steady state the pipeline already runs in: the entry module
    # persists its pipeline-point tables once (reference D23 cache
    # points -- tokenized docs, candidate pairs, dense flat vectors), so
    # repeat 2+ of a query whose lineage sits behind a persist barrier
    # measures "query over warm pipeline caches" -- which is exactly how
    # the query runs in the pipeline, but NOT a cold-start number. The
    # first-run (cold, incl. cache build) timings are reported alongside
    # as "queries_cold" so both views stay visible. (repeats was read
    # ONCE above, before the settle block records it -- the metadata
    # must describe the run that actually happened.)
    qs = dict(entry_mod.queries())
    qs.update(EXTRA)
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    witness: dict[str, float] = {}
    cold: dict[str, float] = {}

    def _run(name: str, into: dict[str, float]) -> None:
        fn = qs.get(name)
        if fn is None:
            return
        times: list[float] = []
        for i in range(repeats):
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            if i == 0:
                cold[name] = round(dt, 3)
            times.append(dt)
        times.sort()
        into[name] = round(times[0], 3)
        # per-query MEDIAN beside the min (r10 verdict "What's wrong
        # #2"): artifact-to-artifact captures of identical code spread
        # +-15%, so a reader needs a second, noise-robust estimator per
        # query -- min says "best the plan can do", median says "what a
        # typical run costs"; a real plan regression moves BOTH, capture
        # noise moves mostly the median.
        medians[name] = round(times[len(times) // 2], 3)

    for name in HEADLINE:
        _run(name, timings)
    for name in WITNESS:
        _run(name, witness)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    # The driver captures only a bounded TAIL of stdout (~2 KiB) and
    # parses the last complete JSON line, so line order is load-bearing:
    # cold timings first, then the full per-query line, then a COMPACT
    # summary line LAST (no per-query dict -- r7's per-query line
    # outgrew the tail window and head-truncated, losing the headline
    # total; the summary line stays a few hundred bytes at any entry
    # count, so the last complete line is always parseable).
    print(json.dumps({"queries_cold": cold, "sf": sf_val}))
    sys.stdout.flush()
    settle_meta["loadavg_end"] = [round(v, 2) for v in os.getloadavg()]
    total = round(sum(timings.values()), 3)
    total_median = round(sum(medians.values()), 3)
    # Dispersion summary: per-query median/min ratios aggregated so a
    # reader can tell capture noise (ratios uniformly inflated) from a
    # localized plan regression (one query's min moved). Compact by
    # design -- the summary line must stay inside the driver's bounded
    # tail capture.
    ratios = sorted(
        medians[q] / timings[q]
        for q in timings
        if timings[q] > 0.05  # sub-50ms entries: ratio is pure jitter
    )
    dispersion = (
        {
            "n": len(ratios),
            "median_over_min_p50": round(ratios[len(ratios) // 2], 3),
            "median_over_min_p90": round(ratios[int(len(ratios) * 0.9)], 3),
            "median_over_min_max": round(ratios[-1], 3),
        }
        if ratios
        else {}
    )
    print(json.dumps({"queries_median": medians, "sf": sf_val}))
    sys.stdout.flush()
    # Durable per-query record (r11 verdict item 2): the driver keeps
    # only a ~2 KiB stdout tail, so the full per-query dict above
    # head-truncates at 264 entries and PERF's per_query/scaling came
    # back empty in r11. Write the complete per-query data as a sidecar
    # file beside this script -- one per core count so the driver's
    # low-core scaling run does not overwrite the main run -- plus a
    # "latest run" alias; the summary line names the sidecar so any
    # tail reader knows where the full data lives.
    sidecar = {
        "metric": "bench_queries_sidecar",
        "value": total,
        "unit": "sec",
        "value_median": total_median,
        "cpus": int(CPUS),
        "sf": sf_val,
        "queries": timings,
        "queries_median": medians,
        "queries_cold": cold,
        "witness_queries": witness,
        "settle": settle_meta,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    sidecar_name = f"bench_queries_c{int(CPUS)}.json"
    for fname in (sidecar_name, "bench_queries.json"):
        try:
            with open(os.path.join(here, fname), "w") as f:
                json.dump(sidecar, f)
        except OSError:
            pass  # read-only checkout: stdout lines remain the record
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "witness_queries": witness,
                "settle": settle_meta,
                "sf": sf_val,
            }
        )
    )
    sys.stdout.flush()
    print(
        json.dumps(
            {
                "metric": "headline_summary",
                "value": total,
                "unit": "sec",
                "value_median": total_median,
                "n_entries": len(timings),
                "dispersion": dispersion,
                "witness": witness,
                "settle": settle_meta,
                "per_query_sidecar": sidecar_name,
                "sf": sf_val,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
