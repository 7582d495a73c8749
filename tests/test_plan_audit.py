"""Shuffle-inventory regression net (plans/audit.py): SCALE.md's
per-operator shuffle claims, machine-checked. Budgets are ceilings on
DATA-PROPORTIONAL exchanges — a regression that adds a shuffle, drops a
broadcast to a shuffle join, reintroduces a cartesian, or pushes work
into row-level Python fails here instead of surviving until someone
reads a plan by hand. (AQE may REMOVE exchanges at runtime; it never
adds them, so ceilings are stable.)"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from sparkbigdatatextanalysis_spark.plans import audit_plan

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _fresh_cache_state(spark):
    """Budgets are pinned against CACHE-FREE plans: Spark's cacheManager
    substitutes InMemoryTableScan into any rebuilt plan that matches a
    previously persisted one, collapsing whole join subtrees and making
    exchange counts depend on which tests ran earlier in the session.
    Clearing both the SQL cache and the entry module's pipeline-point
    cache before each audit makes the counts deterministic; later
    consumers simply re-persist lazily. The vocabulary cache goes too:
    on a cold one, building a TF-IDF query collects over the persisted
    token table, so the planner sees its materialized size; on a warm
    one it plans from estimates and picks other joins."""
    import __spark_entry__ as em

    spark.catalog.clearCache()
    em._DF_CACHE.clear()
    em._VOCAB_IDF.clear()
    yield

# query -> (max shuffle exchanges, min broadcast exchanges)
# Shuffle budgets are the MEASURED plan-time exchange counts at the
# time of pinning (ceilings, since AQE only removes exchanges at
# runtime). They include (a) the local-mode scan fan-out repartition
# (_scan wide=True), moot on a cluster's natural splits, and
# (b) small-side exchanges feeding broadcasts (changeset/stats aggs) —
# data-proportional to the SMALL input, counted all the same so a
# regression can't hide in them.
BUDGETS = {
    # map-only projections: NO data-proportional exchange at all
    "docs_split_sample": (0, 0),
    "text_normalize": (0, 0),
    "docs_pii_scrub": (0, 0),
    # broadcast-only joins: big side never shuffles
    "customers_no_orders": (0, 1),
    "skew_join_events": (0, 1),
    # one-shuffle aggregations / windows (plus fan-out where text-bound)
    # +1: the wide scan fan-out exchange (r11 -- sha2 hashing is the
    # heavy per-row compute the fan-out exists for)
    "dedup_exact": (2, 0),
    # +fan-out exchange (r11 wide scan; no-op on cluster splits)
    "pricing_rollup": (2, 0),
    "events_latest_per_user": (1, 0),
    "text_quality": (1, 0),
    # +1: the r11 wide scan fan-out (md5 per shingle is the heavy
    # per-row compute); executed count is 2 (fan-out + final agg)
    "dedup_simhash": (2, 0),
    "events_sessionize": (1, 0),
    "user_running_stats": (1, 0),
    "scd2_history": (1, 0),
    "sales_cube": (1, 0),
    "orders_grouping_sets": (1, 0),
    "orders_status_breakdown": (1, 0),
    "value_percentiles": (1, 0),
    "embedding_centroids": (1, 0),
    # as-of: union + carry-forward window, ONE key shuffle, join-free
    "asof_join_events": (1, 0),
    # equi-key join with range condition: one fact shuffle, dim broadcast
    "range_join_events": (1, 1),
    # groupBy stats + broadcast join back (NOT a global window)
    "events_value_zscore": (1, 1),
    "winsorize_values": (1, 1),
    "orders_corr": (1, 1),
    "tpch_q18_like": (1, 2),
    "minhash_signatures": (2, 0),
    "events_interarrival": (2, 0),
    "events_hourly_from_minutely": (2, 0),
    "events_gapfill": (2, 1),
    "tpch_q4_like": (2, 1),
    # shared-scan count + broadcast totals (ReuseExchange eligible)
    "heavy_hitter_users": (3, 1),
    # two-phase grouped top-k: agg + local-rank + global-rank exchanges,
    # dim rides a broadcast
    "top_parts_by_brand": (3, 1),
    "vocab_top_tokens": (3, 0),
    # copy-on-write MERGE: the 100 TB TARGET is scanned, never
    # shuffled; the counted exchanges are all changeset-sized
    # (distinct/agg feeds of the three broadcasts)
    "merge_upsert_events": (5, 3),
    # LSH candidate pipeline: fan-out + signature agg + band self-join
    # cache-flattened: the pre-persist hash repartition on (band, key)
    # counts once per self-join side; EXECUTED plan has FEWER
    # exchanges than before (the join itself is now exchange-free)
    "dedup_minhash_lsh": (7, 1),
    # TF-IDF weights: fan-out + tf (distributed by id) + the one df/N
    # agg and its single-partition window; the IDF joins broadcast.
    # (6, 2) -> (5, 1): idf_table counts N in its df aggregation, so the
    # doc-count agg and its broadcast are gone.
    "tfidf_vectors": (5, 1),
    # n_steps user-keyed joins with monotonically shrinking inputs
    "funnel_conversion": (9, 3),
    # --- second batch (measured cache-free; pipelines that normally
    # share persist barriers show their FULL lineage here, so these
    # ceilings are the worst case, not the warm-pipeline cost) ---
    "text_lang_id": (0, 0),
    "token_counts": (0, 0),
    "text_repetition": (0, 0),
    "docs_stratified_sample": (0, 0),
    "pair_edit_distance": (0, 2),
    "events_windowed": (1, 0),
    "events_sliding_users": (1, 0),
    "events_json_props": (1, 0),
    "orders_by_month": (1, 0),
    "events_rolling_1h": (1, 0),
    "docs_pack_sequences": (1, 0),
    # star-schema shapes: ONE fact shuffle, every dim broadcast
    "tpch_q3_like": (1, 2),
    "tpch_q5_like": (1, 5),
    "tpch_q7_like": (1, 5),
    "tpch_q16_like": (2, 2),
    # q2's decorrelated min-subquery flips between (2,5) and (4,4)
    # depending on session history -- pin the envelope of both states
    "tpch_q2_like": (4, 4),
    # cache-flattened: the cached presence aggregation (wide repartition
    # + groupBy = 2-3 exchanges) counts once per consumer (EXCEPT branch
    # + broadcast count branch); EXECUTED count is 2 shuffles once at
    # cache build, then cache reads + 1 broadcast
    "tokens_except": (5, 1),
    "user_type_pivot": (2, 0),
    "corpus_bigrams": (2, 0),
    "doc_fingerprint": (3, 0),
    # idf_dict / l2_norm / idf_histogram / doc_similarity /
    # cosine_similarity: measured at sf0.001 when idf_table began
    # counting N inside its df aggregation (one doc-count agg fewer per
    # idf lineage; (4, 7, 10, 7, 31) before)
    "idf_dict": (3, 0),
    "gold_join_eval": (6, 0),
    "l2_norm": (5, 0),
    # the sims lineage + the gold join + ONE groupBy(threshold) over
    # the in-row threshold fan-out: the grid join, bin agg, gold count
    # and both windows are gone. 5 in any audit order once the fixture
    # also clears the vocabulary cache (a warm one gave 8 right after
    # fast_cosine_join)
    "threshold_sweep": (5, 0),
    "docs_unigram_logprob": (7, 0),
    "idf_histogram": (6, 0),
    "dedup_ngram_jaccard": (11, 0),
    "train_test_ngram_overlap": (12, 0),
    # --- third batch: the full 94-key surface. The big ceilings are
    # whole multi-stage pipelines flattened cache-free (both TF-IDF
    # sides, Lloyd rounds); their warm-pipeline cost sits behind the
    # persist barriers the cleared-cache audit deliberately bypasses.
    # The TF-IDF/similarity family is BI-STABLE: its stats-probe
    # strategy switch and in-build persist barriers make the plan
    # depend on session history even after a cache clear, so those
    # entries carry a ceiling wide enough for the flattened state and
    # NO broadcast floor (floors stay meaningful on the stable
    # star-join/MERGE/zscore entries above) ---
    "scan_concat": (0, 0),
    "scan_gold_pairs": (0, 0),
    "str_strip_quotes": (0, 0),
    "tokenize": (0, 0),
    "tokenize_stopwords": (1, 0),
    "inverted_index": (1, 0),
    "top1_by_token_count": (1, 0),
    "media_decode": (1, 0),
    "media_frame_sample": (1, 0),
    "events_anomaly": (1, 0),
    "term_frequencies": (2, 0),
    "count_tokens": (2, 0),
    "union_corpus": (2, 0),
    "approx_distinct_users": (2, 0),
    # split distinct/plain aggregation passes (r11): +1 exchange and
    # +1 broadcast for the second single-row agg; the mixed-Expand
    # plan it replaced was 2.6x slower
    "table_profile": (5, 1),
    # 3 in any audit order with the vocabulary cache cleared (a warm
    # one gave 5 right after threshold_sweep)
    "fast_cosine_join": (3, 0),
    # +2: the wide scan fan-out exchange, counted once per self-join
    # side of the persisted chunk table (cache-flattened)
    "dedup_simhash_pairs": (5, 1),
    "dedup_embedding": (3, 2),
    "ann_topk_bruteforce": (4, 2),
    "filter_pair_lookup": (6, 0),
    "dedup_embedding_lsh": (5, 3),
    # r4: the cluster table is an eagerly-localCheckpointed pipeline
    # point (deep CC-loop lineage cost ~1.3s of Catalyst re-analysis
    # per consuming query), so the per-key audit sees a flat LogicalRDD
    # scan; the underlying LSH+CC chain is pinned separately in
    # test_dedup_cluster_chain_budget
    "dedup_near_clusters": (0, 0),
    "doc_similarity": (4, 0),
    "curation_pipeline": (1, 0),  # r4: consumes the checkpointed cluster point
    "ann_topk_lsh": (8, 5),
    "dot_product": (15, 0),
    "cross_similarity": (15, 0),
    # --- r4 additions: the five promoted operators + the JVM anomaly
    # twin. All map-only-or-one-shuffle shapes except the hashed
    # embeddings (explode + two partial aggs + zero-vector re-join) and
    # mixture (count agg + two tiny stat feeds of its broadcasts) ---
    "events_anomaly_sql": (1, 0),
    "docs_mixture_sample": (3, 2),
    "docs_shuffle_shards": (1, 0),
    "events_value_bins": (1, 1),
    "docs_curation_rules": (1, 0),
    # cache-flattened: the unpersisted per-dim aggregation subtree counts
    # once per consumer (norm pass + component probe); EXECUTED count is
    # ~5 (the 320k-row agg runs twice -- measured cheaper than the
    # interpreted array assembly it replaced, 15.2s -> 1.7s at sf0.1)
    "docs_hashed_embeddings": (7, 2),
    # line dedup: count agg + doc reassembly agg; the dup-line join
    # side broadcasts at this scale but is NOT pinned (at 100 TB the
    # boilerplate set may exceed the broadcast threshold and AQE
    # decides), so no floor
    # +fan-out exchange(s) (r11 wide scan; no-op on cluster splits)
    "docs_line_dedup": (4, 1),
    # token-budget downsampling: one per-shard hash-order sort window
    "docs_token_budget": (1, 0),
    # BM25: ONE aggregate gives N, avgdl and every query term's df
    # (its SinglePartition exchange feeds the one broadcast row), and
    # tf is counted in-row over the docs sharing a query term, so the
    # explode, the tf/df/score aggregations and their exchanges are
    # gone (8 -> 3, broadcasts 2 -> 1). The other 2 are the cached
    # _tok subtree's local-mode scan fan-out, printed once per
    # consumer (stats and scoring). The TakeOrdered cut is already one
    # partition, so the k-row rank window adds no exchange.
    "docs_bm25_topk": (3, 1),
    # r5 batch form: the corpus explodes once for all queries, pruned
    # to the union of their terms; the exchanges are the _tok fan-out
    # per consumer, the tiny query-table distincts feeding its
    # broadcasts, the tf/df/stats/per-(query, doc) score aggs, and
    # grouped_topk's two bounded rank windows. The single-query form
    # no longer shares this shape (one stats aggregate, tf in-row).
    "docs_bm25_batch": (13, 5),
    # checkpointed cluster point + the argmax groupBy and rep join
    "dedup_best_rep": (2, 2),
    # r5 gated promotions: chunking is in-row map-only over the _tok
    # fan-out; quantization is a pure map-only projection (codegen'd)
    "docs_chunk_windows": (1, 0),
    "embeddings_quantized": (0, 0),
    # r5 per-domain cap: grouped_topk's two bounded rank exchanges
    # (local prune + global rank); map-only hashing
    "docs_domain_caps": (2, 0),
    # r5 SemDeDup: literal-centroid assignment + v/norm come out of ONE
    # projection (post-review: the assignment re-join cost 2 corpus
    # exchanges, 9 -> 5); remaining exchanges are the within-cluster
    # pair join sides, the dropped-set distinct and the keep outer
    # join. Broadcasts are AQE's call (dropped set is data-dependent):
    # no floor
    "dedup_semantic": (5, 0),
    # r5 winnowing substring dedup: scan fan-out + fingerprint count
    # agg + dup semi-join + per-doc span groupBy; hashing/selection/
    # merge are all in-row. The dup-hash side broadcasts at this scale
    # but is NOT floor-pinned (boilerplate-heavy corpora can exceed
    # the threshold; AQE decides)
    "docs_substring_dedup": (4, 0),
    # r4: the Lloyd/assignment argmax is now an in-row literal reduction
    # (centroids collected driver-side and embedded in the plan), so the
    # 3x |corpus|-x-k window exchanges of the r3 plan are gone and the
    # ceiling drops 27 -> 7 (remaining: rerank joins + final rank
    # window). NB kmeans refinement executes EAGERLY at build time and
    # is therefore invisible to this downstream-plan audit -- its
    # assignment/means stages are pinned separately in
    # test_ivf_internal_stage_budgets below.
    # 7 -> 4: the assignment carries (v, norm) and the broadcast probe
    # table carries the query vectors, so the candidates are scored
    # straight out of the cluster join. Gone: the join back to the
    # corpus and the second query-vector lookup, each of which read
    # its own fanned-out scan (3 exchanges, 3 broadcasts at this
    # scale). The ceiling is the measured count so the re-join cannot
    # return.
    # 4 -> 6, broadcasts 2 -> 4: the centroids are read as data, ONE
    # broadcast row of the k-row table (a SinglePartition exchange
    # into an IdentityBroadcast), instead of a collected plan literal.
    # The cached index subtree prints once per consumer (the query
    # rows and the candidate side), so that exchange and broadcast
    # print twice; nothing added runs over the corpus.
    "ann_topk_ivf": (6, 4),
    "common_token_pairs": (31, 0),
    "cosine_similarity": (25, 0),
    # --- r6 additions: the ExactSubstr subtraction half + the two
    # incremental daily-ingest contracts, gated with the history half
    # built INLINE (so the audit sees both halves' pipelines flattened
    # cache-free; the production daily run probes prebuilt bucketed
    # history and is timed separately by bench.py). History-probe /
    # dup-set joins broadcast at this scale but take NO floor: at
    # 100 TB the history side must NOT broadcast (it is the bucketed
    # side) and dup sets are data-dependent -- AQE decides ---
    "docs_substring_clean": (4, 0),
    # +fan-out exchange(s) (r11 wide scan; no-op on cluster splits)
    "incremental_dedup_flags": (14, 0),
    "incremental_spans_batch": (6, 0),
    # r6 Bloom decontamination: the probe side is JOIN-FREE by
    # construction (bitmap embedded as a plan literal); the exchanges
    # are the shingle window, the (id, sh) distinct and the per-doc
    # counting agg -- zero broadcasts because there is nothing to join
    "docs_bloom_decontaminate": (3, 0),
    # r6 CMS: the sketch BUILD runs eagerly at query construction
    # (collected model state, like the IVF centroids); the audited plan
    # is the _tok fan-out + the token count agg, with the estimate a
    # join-free per-row min over the literal counter rows
    "tokens_cms_estimates": (2, 0),
    # --- r7 additions ---
    # prefix blocking: one map-only key projection + the block-key
    # self-join; at this scale one side broadcasts (0 shuffles seen)
    # but at 100 TB neither side may -- allow the two join exchanges,
    # floor nothing
    "docs_prefix_blocking": (2, 0),
    # z-order key: ONE single-row min/max agg exchange; the stats join
    # is explicitly broadcast-pinned (a 1-row table), so it takes a
    # floor -- the interleave itself is map-only
    "events_zorder_key": (1, 1),
    # profile drift: two exact-count-distinct profile aggs (Expand,
    # partial+final each) + the two sides of the tiny full-outer join
    # split distinct/plain aggregation passes x2 profiles (r11)
    "orders_profile_drift": (10, 2),
    # hybrid auto-salted join: the heavy-hitters measurement agg + the
    # hot/cold semi/anti splits of both inputs + the two joins, all
    # flattened cache-free. The hot-key set is explicitly
    # broadcast-pinned and feeds all four splits -> floor 4; the
    # build-side broadcasts beyond that are AQE's size call
    "skew_join_auto": (12, 4),
    # incremental semantic: both halves' literal-centroid assignments
    # are map-only; exchanges are the history-probe cluster join, the
    # batch self pair join sides, the two dropped-set distincts and the
    # two keep outer joins. Broadcasts are data-dependent (AQE): no floor
    "incremental_semantic_flags": (8, 0),
    # approx percentiles: the GK summary agg (partial+final) + the rank
    # counting agg; the estimates table is explicitly broadcast back
    # (rows = #event types) -> floor 1
    "value_percentiles_approx": (3, 1),
    # incremental line dedup: batch line-count agg + the history-probe
    # equi-join + the per-doc reassembly agg; history/dup sides
    # broadcast at this scale but take no floor (at 100 TB the bucketed
    # history must NOT broadcast -- AQE decides)
    # +fan-out exchange(s) (r11 wide scan; no-op on cluster splits)
    "incremental_lines_batch": (6, 0),
    # MinHash estimator accuracy: cache-free flattening re-expands the
    # shingle pipeline once per consumer (candidate pairs + signature
    # est join + intersection sides + set sizes -- the common_token_
    # pairs precedent); at runtime the _mh_pairs and pair_jaccard_sh
    # pipeline points are persisted so the real exchange count is a
    # fraction of this ceiling. Broadcasts are AQE's call: no floor
    "pair_jaccard_estimates": (40, 0),
    # --- r8 additions ---
    # resize stats: two chained Arrow map stages (resize, decode) + the
    # scan fan-out repartition; no join at all
    "media_resize_stats": (1, 0),
    # aHash pairs: the Arrow resize/hash stages are map-only; exchanges
    # are the chunked signature distinct + the bucket join sides, one
    # side broadcast at this scale (AQE's call: no floor)
    "media_ahash_pairs": (3, 0),
    # star CC: audited plan is the eager localCheckpoint read (the
    # per-round star exchanges run inside the loop, pinned by the
    # chain-budget test like the label twin)
    "dedup_near_clusters_star": (0, 0),
    # the native session operator: ONE shuffle on user_id, like the
    # expression twin
    "events_session_native": (1, 0),
    # decontamination: both literal-centroid assignments map-only;
    # exchanges are the hits agg + keep outer join sides; the protected
    # probe side is explicitly broadcast-pinned -> floor 1
    "embeddings_decontaminate": (5, 1),
    # the composed ingest verdict: cache-free flattening re-expands the
    # batch pipelines once per consumer (the pair_jaccard_estimates
    # precedent); the gated entry runs unpersisted for zero residue and
    # the production twin (bench incremental_ingest_batch) persists,
    # so the real count is a fraction of this ceiling. Broadcasts are
    # AQE's call: no floor
    "incremental_ingest_verdict": (42, 0),
    # Q6: one single-row global agg exchange, zero joins
    "tpch_q6_like": (1, 0),
    # Q10: the revenue agg exchange; customer dim explicitly broadcast
    "tpch_q10_like": (1, 1),
    # Q14: one single-row agg exchange over the broadcast part join
    "tpch_q14_like": (1, 1),
    # keyed merge: the two line-count aggs + the group-sum view; the
    # r10 per-(batch_id,key) guard derives its broadcast side from
    # history itself (one more small-side agg exchange than the old
    # whole-batch manifest -- the price of partial-commit healing)
    # +fan-out exchange(s) (r11 wide scan; no-op on cluster splits)
    "history_merge_replay": (8, 1),
    # Q1: one 6-row agg exchange, zero joins
    # +fan-out exchange (r11 wide scan; no-op on cluster splits)
    "tpch_q1_like": (2, 0),
    # Q8: the lineitem-orders orderkey join is the only real shuffle
    # (2 exchanges) + the per-year agg; every dim explicitly broadcasts
    "tpch_q8_like": (3, 4),
    # Q13: custkey outer join (2) -- the per-customer agg reuses its
    # partitioning -- + the tiny distribution agg
    "tpch_q13_like": (4, 0),
    # Q15: supplier-revenue agg + the scalar max over the persisted rev;
    # max scalar and supplier dim explicitly broadcast
    "tpch_q15_like": (3, 2),
    # Q17: per-part stats agg + the final single-row agg; part dim and
    # stats both explicitly broadcast
    "tpch_q17_like": (2, 2),
    # Q19: one single-row agg exchange over the broadcast part join
    "tpch_q19_like": (1, 1),
    # Q22: scalar avg agg + custkey anti join (2) + segment agg; the
    # avg threshold explicitly broadcasts
    "tpch_q22_like": (5, 1),
    # retention: first-activity agg + distinct-active set + the user
    # join + the tiny (week, offset) agg; cohort sizes broadcast
    "user_retention_cohorts": (5, 1),
    # Stupid Backoff: executed count is 4 (unigram, attested-bigram,
    # total, per-doc aggs); the auditor re-counts the persisted unigram
    # subtree under its three consumers and the tok cache under two
    # (the unigram_logprob precedent); LM tables broadcast back
    "docs_bigram_logprob": (11, 3),
    # weighted sampling: map-only key + grouped_topk's two bounded
    # window exchanges
    "docs_weighted_sample": (2, 0),
    # PageRank: audited plan is the final round's eager localCheckpoint
    # read (per-round join+agg exchanges run inside the loop, lineage-
    # truncated -- the star-CC precedent)
    "events_pagerank": (0, 0),
    # global rank: cuts scalar + bucket counts + the per-bucket window;
    # the persisted bucketed subtree re-counts under both consumers;
    # the only single-partition window runs over n_buckets rows. Cuts
    # and offsets broadcast
    "docs_global_rank": (5, 3),
    # sketch rollup: daily-sketch agg + union-merge agg + exact-distinct
    # agg + the month join
    "events_monthly_uniques_sketch": (4, 1),
    # triangles: audited plan reads the eager deg/oriented checkpoints;
    # wedge + closing joins + exploded per-node agg + the output join
    "dedup_triangle_density": (6, 0),
    # attribution: ONE union-window shuffle on user_id (the asof shape);
    # the tolerance bound is map-side
    "purchase_attribution": (1, 0),
    # reconcile: one partial-aggregated scan per side; the compare join
    # moves only per-bucket summary rows
    "events_reconcile": (2, 0),
    # RFM: scalar max date + per-customer agg + the percentile scalar;
    # the auditor re-counts the persisted per-customer subtree under
    # both consumers (executed count is 3); max and cuts broadcast
    "orders_rfm_segments": (5, 2),
    # --- round 9 ---
    # islands: both windows + final agg share ONE user_id exchange
    "events_interval_union": (1, 0),
    # lag window exchange + pair agg; the un-persisted pairs subtree
    # re-counts under the totals consumer; row totals broadcast
    "events_type_transitions": (5, 1),
    # k-core: audited plan reads the final round's eager localCheckpoint
    # (per-round degree agg + keep joins are lineage-truncated); final
    # degree agg + the all-nodes left join
    "dedup_kcore": (2, 0),
    # OLS: one partial-agg moments pass, closed form on the agg row
    "orders_price_trend": (1, 0),
    # baskets: brand dim broadcasts into the scan, one basket groupBy,
    # one pair agg; the group-total scalar broadcasts
    # +fan-out exchange (r11 wide scan; no-op on cluster splits)
    "basket_brand_pairs": (6, 3),
    # first-seen agg + daily agg + the |days| running window (the
    # documented single-partition window over days, never rows)
    "events_cumulative_users": (3, 0),
    # keyterms: the shared TF-IDF weights lineage (tok fan-out, tf agg,
    # idf agg + broadcast back) + the per-doc rank window.
    # (7, 2) -> (5, 1): the doc-count agg and its broadcast are gone
    "docs_keyterms": (5, 1),
    # knn: broadcast queries x streamed corpus (no corpus shuffle);
    # rank window, vote agg, total agg + the final joins
    "embeddings_knn_label": (8, 4),
    # MAD: two percentile group aggs + two broadcast joins back
    "events_value_mad": (3, 3),
    # unpivot: one status agg, stack is map-only
    "orders_unpivot": (1, 0),
    # BPE gate: learning runs at construction (bpe_learn_local, one
    # corpus pass + driver loop); the audited plan is the map-only
    # in-row segmentation fold over the cached tok table (1 = the tok
    # cache's scan fan-out)
    "docs_bpe_segments": (1, 0),
    # linear attribution: purchase/click scans + user-key interval
    # join + per-purchase count WINDOW riding the purchase_id exchange
    # (r10: replaced the forced O(|purchases|) broadcast-back) + the
    # click agg
    "attribution_linear": (2, 1),
    # funnel latency: the 3-step reach chain's monotonically shrinking
    # user-keyed joins flattened cache-free (the funnel_conversion
    # precedent) + the per-user pivot agg + the pair percentile agg
    "funnel_latency": (15, 6),
    # CDC diff: full-outer on the uniform event key (one shuffle per
    # side) + the day/change rollup
    "events_snapshot_diff": (3, 0),
    # repeat share: first-order min agg + custkey join + month agg
    "orders_repeat_share": (2, 1),
    # containment: the shingle fan-out + intersection equi-join +
    # per-doc size agg, the ngram_jaccard shape (persisted shingle
    # subtree re-counts under its consumers)
    "dedup_containment": (8, 2),
    # ABC: the global_rank decomposition flattened cache-free (its
    # persisted bucketed subtree re-counts under every consumer: rev
    # agg + cuts + counts + per-bucket windows) + the class scalar
    "orders_abc_classes": (17, 7),
    # DAU/WAU: user-day distinct + DAU agg + the x7 in-row fan-out's
    # distinct + WAU agg + the day join
    "events_dau_wau": (5, 1),
    # paths: session-assignment window (user key) + path agg; the
    # top-20 cut is a TakeOrdered + the |20|-row rank window
    "session_paths": (2, 0),
    # MoM: one month agg; the lag window runs over the |months| table
    "orders_mom_growth": (2, 0),
    # sizes: two partial aggs over the eagerly-checkpointed cluster
    # pipeline point (dedup_near_clusters precedent: flat LogicalRDD)
    "dedup_cluster_sizes": (2, 0),
    # novelty: shingle fan-out + df agg + per-doc agg; the persisted
    # shingle subtree re-counts under both consumers
    "docs_shingle_novelty": (7, 2),
    # mix drift: month x priority agg + month totals + global mix
    # (broadcast) -- small-side feeds counted per the house rule
    "orders_mix_drift": (7, 3),
    # embedding profile: one partial-agg pass (fan-out + agg)
    "embeddings_profile": (3, 0),
    # hourly profile: (type x 24) agg + broadcast per-type totals
    "events_hourly_profile": (3, 1),
    # band join: ONE bucket-key equi-join (broadcast at gate scale,
    # shuffle-hash past it), x2 in-row emit -- NEVER a cartesian (the
    # naive theta form is one); ceiling covers the shuffle-join state
    "events_value_band_join": (2, 0),
    # DAU/WAU sketch twin: the exact key's shape + the per-day HLL agg
    # and the 7-day union-merge agg (fan-out is over |days| sketch
    # rows, never user rows)
    "events_dau_wau_sketch": (7, 2),
    # knn IVF: map-only in-row centroid ranking on BOTH sides, one
    # plain cluster-key equi-join (deliberately NOT broadcast -- query
    # cardinality is unbounded in production), rank window, shared
    # vote aggs + final joins. 8 -> 12, broadcasts 4 -> 8: each side
    # crosses the one broadcast centroid row (a SinglePartition
    # exchange of the k-row aggregate into an IdentityBroadcast), and
    # the neighbor table prints twice (votes and totals): 2 x 2 more
    # of each. Nothing added runs over the corpus.
    "embeddings_knn_label_ivf": (12, 8),
    # streaming verdict gate: the micro-batch runs EAGERLY at query
    # construction (ann_topk_ivf precedent); the audited plan is the
    # flags-sink parquet read-back
    "streaming_verdict_day2": (0, 0),
    # MWU: value-domain agg + the shared bucketed-prefix decomposition
    # + the midrank join/aggs; like docs_length_ks the persisted `per`
    # subtree counts once per consumer (executed exchanges ~8, several
    # over n_buckets/1-row tables)
    "docs_length_mannwhitney": (13, 5),
    # Welch: ONE partial agg of six DECIMAL power sums
    "events_value_welch": (1, 0),
    # clustering: pair-gen agg + degree agg + wedge/closing equi-joins
    # + per-node explode agg + the degree join-back (checkpointed
    # subtrees keep the audited count at the executed shape)
    "dedup_local_clustering": (6, 0),
    # adamic-adar: same triangle subtree; per-edge explode agg + the
    # degree attach + canonical-edge join-back
    # r11 in-row shingling changed the lazy-plan estimates so the
    # triple-enumeration joins audit as SMJ (+sorts) with extra
    # broadcasts; EXECUTED runtime is flat (AQE re-plans from real
    # checkpoint sizes) -- ceiling pins the lazy envelope
    "dedup_adamic_adar": (9, 0),
    # benford: ONE bounded 9-row digit agg + totals re-agg (broadcast)
    "orders_benford": (3, 1),
    # cramers V: the X197 chi-square machinery (cell agg + 3 bounded
    # marginal re-aggs, each broadcast back) + the closed-form row
    "customers_cramers_v": (9, 3),
    # seasonality: daily agg + totals + per-DOW re-agg (both bounded,
    # broadcast back)
    "events_seasonality_strength": (5, 1),
    # activity entropy: cell agg + per-user in-row DECIMAL fold
    "users_activity_entropy": (2, 0),
    # theil-sen: monthly DECIMAL agg (bounded |months|) + broadcast
    # pair self-join + the tiny median agg
    "orders_theilsen_monthly": (3, 1),
    # basket poisson: per-order count agg + bounded k agg + totals
    "orders_basket_poisson": (5, 1),
    # spearman: TWO bucketed-prefix rank decompositions (each per's
    # persisted subtree counts per consumer, the docs_length_ks
    # flattening x2) + the rank join-backs + one moment agg; executed
    # exchanges ~12. The side-tagged one-pass form (44, 30) ran 42
    # stages against these 40 at sf0.001 and coerced both columns to
    # one type; it was reverted, not re-pinned.
    "orders_spearman_price_items": (34, 20),
    # perplexity deciles: the cached unigram-LM subtree (counted per
    # consumer) + cuts agg (broadcast) + bounded bucket agg
    "docs_perplexity_buckets": (16, 5),
    # ANN recall curve: brute-force truth + THREE IVF probe levels in
    # one plan; the persisted truth/assignment subtrees flatten per
    # consumer (each probe level a bounded per-query window over its
    # probed clusters). Measured 38/15 since the IVF corpus re-join
    # went (47/24 before): per probe level 3 exchanges and 3 broadcasts
    # fewer, as in ann_topk_ivf -- the query vectors ride the one
    # broadcast probe table and nothing re-reads the corpus.
    # 38 -> 44, broadcasts 15 -> 21: per probe level, the centroid
    # row's SinglePartition exchange and broadcast print once per
    # consumer of the cached index (query rows, candidates): 3 x 2
    # more of each. The three levels execute one cached index.
    "embeddings_ann_recall_curve": (44, 21),
    # Mann-Kendall: monthly agg feeds the pair self-join (bounded side
    # broadcast) + the tie groupBy; executed count 6 (two consumers of
    # the unpersisted monthly agg)
    "orders_mann_kendall": (6, 2),
    # Pettitt: daily agg -> broadcast pair join -> A_t agg -> the
    # bounded cumulative window (|days| rows)
    "events_pettitt_daily": (3, 1),
    # anisotropy: NO pair join by construction (|S|^2 - T identity):
    # normalize map + posexplode/64-dim agg + the two 1-row aggs
    "embeddings_anisotropy": (5, 1),
    # temperature mixture: cached tok pipeline audited cache-free per
    # consumer; executed shape is one doc-tok equi-join + one bounded
    # source agg + per-alpha denominator broadcast
    "docs_mixture_temperature": (11, 7),
    # streaming anomaly gate: stream ran EAGERLY at build; the audited
    # surface is the memory-sink scan + one map-only projection
    "streaming_anomaly_replay": (0, 0),
    # SNM: the persisted two-phase rank audited cache-free per consumer
    # (fan + right side); executed shape is the rank's bucket shuffle +
    # the rank+gap equi-join
    "dedup_sorted_neighborhood": (18, 7),
    # HITS: ferried rounds ran EAGERLY at build (the Markov/PCA shape);
    # the audited surface is the final round (hub groupBy + edge join +
    # two bounded aggs) over the persisted edge table + the degree join
    # +fan-out exchange (r11 wide scan; no-op on cluster splits)
    # 3 -> 4: the hash repartition on u in front of the edge cache
    # prints in this cache-free plan; it is what lets every ferried
    # round's groupBy(u) and join on u reuse the cached partitioning.
    # Executed at sf0.001: 29 jobs warm / 39 cold with it, 37 / 46
    # without it.
    "user_brand_hits": (4, 3),
    # overlap curve: 3 shingle builds x (distinct train/test + semi-join
    # + two aggs), persisted te audited per consumer; executed shape is
    # one hash-join family per curve point
    "train_test_overlap_curve": (48, 6),
    # streaming funnel gate: stream ran EAGERLY at build; audited
    # surface is the memory-sink scan + map-only projection
    "streaming_funnel_replay": (0, 0),
    # simplified silhouette: map-only literal-centroid scoring + one
    # bounded groupBy (the inertia shape; the 2nd exchange is the
    # local-mode scan fan-out)
    "embeddings_silhouette": (2, 0),
    # corr matrix: ONE partial agg of all 14 power sums; the persisted
    # 1-row m is audited once per pair consumer (6x)
    "orders_metric_corr_matrix": (12, 6),
    # rule matrix: map-only flags + doc_id equi-join + bounded groupBy
    "docs_rule_firing_matrix": (2, 1),
    # B-cubed: nested near-clusters assignment (persisted, audited per
    # consumer) + three partial-agg groupBys + two equi-joins
    "dedup_bcubed_eval": (8, 5),
    # quantization audit: two documented brute-force passes (float topk
    # + quant topk, the hubness baseline shape) + pair equi-joins over
    # the persisted quant table. 20 -> 24 with the shared all-vectors
    # float baseline (_bf_topk_all): `scored` has two consumers (the
    # per-rank stats and the overlap semi-join), so the cached
    # baseline's subtree (rank window + 3 scan fan-outs) prints twice,
    # and the semi-join's runtime bloom-filter subquery adds 2 more.
    # 15 of the 24 are local-mode scan fan-outs; the data-proportional
    # hash/single exchanges are 9, and the baseline executes once per
    # session.
    # 24 -> 13, broadcasts 11 -> 6: the overlap is counted in the same
    # aggregation through a left join against the quantized top-k (one
    # row per pair, no fan-out), so `scored` is read once. Gone: the
    # second print of the cached baseline subtree, the semi-join and
    # its bloom-filter subquery, and the per-rank overlap aggregate
    # with its broadcast join. The left join's two hash exchanges over
    # the |queries| x k pair tables are new; AQE may broadcast either.
    "embeddings_quantization_error": (13, 6),
    # debounce: ONE (user,type) exchange shared by lag window, burst
    # cumsum and the burst agg
    "events_debounce": (1, 0),
    # r11 streaming sessionize gate: the stream ran EAGERLY at build
    # (applyInPandasWithState inside the streaming query); the audited
    # surface is the memory-sink scan + the session_idx recovery
    # window (one user_id exchange)
    "streaming_sessions_flush": (1, 0),
    # q9: one lineitem-orders shuffle; part/supplier/nation broadcast
    "tpch_q9_like": (1, 4),
    # q12: one orderkey shuffle join; the priority split is in-row
    "tpch_q12_like": (1, 1),
    # q20: part-filtered qty agg + the supplier semi-join chain
    "tpch_q20_like": (3, 2),
    # q21: per-(order,supplier) agg -> per-order agg -> join back ->
    # sole-max agg -> per-supplier count, all on shrinking keys
    "tpch_q21_like": (5, 2),
    # CF cosine: the in-row pair generator's set agg + pair agg + two
    # broadcast item-count sides
    # +fan-out exchange (r11 wide scan; no-op on cluster splits)
    "parts_copurchase_cosine": (11, 3),
    # moments: ONE partial-agg pass (four DECIMAL power sums)
    "events_value_moments": (1, 0),
    # PMI: unigram agg + in-row bigram agg + two broadcast unigram
    # joins + the two scalar totals
    "docs_pmi_collocations": (11, 4),
    # blocking quality: the persisted shingle/signature subtrees
    # re-count under every consumer (LSH bands + jaccard truth +
    # 3 scalar counts); executed plan is far smaller (cache-flattened
    # ceiling, the dedup-chain precedent)
    # +fan-out exchange(s) (r11 wide scan; no-op on cluster splits)
    "dedup_blocking_quality": (41, 10),
    # EWMA: ONE user-keyed window (8 in-frame lags)
    "events_ewma": (1, 0),
    # grouped band join: bucket key includes the customer equi-key;
    # broadcast at gate scale, shuffle-hash past it
    "orders_near_duplicate_amounts": (0, 1),
    # PSI: early percentile agg (broadcast) + per-period bin aggs +
    # the two scalar totals
    "orders_price_psi": (6, 4),
    # streaks: user-week distinct + the island window/aggs
    "users_weekly_streaks": (2, 0),
    # zipf: vocab agg + TakeOrdered head; the OLS is one agg over 100
    # rows
    "docs_zipf_fit": (2, 0),
    # brand rules: the order-brand distinct subtree feeds three
    # consumers (pair mining + brand counts + order total) un-persisted
    # -- counted per consumer; directions fan out in-row
    # +fan-out exchange (r11 wide scan; no-op on cluster splits)
    "orders_brand_rules": (14, 9),
    # SCD2 lookup: the version build's user-key window SHARES the
    # interval join's user partitioning; versions broadcast
    "events_scd2_lookup": (1, 1),
    # lexical diversity: in-row folds over the cached token table (the
    # 1 is the tok cache's scan fan-out)
    "docs_lexical_diversity": (1, 0),
    # burst: ONE user-keyed RANGE window + the per-user agg riding it
    "users_burst_rate": (1, 0),
    # inertia: map-only literal-centroid argmax + one cluster agg
    "embeddings_cluster_inertia": (2, 0),
    # coverage: vocab agg + TakeOrdered head + 1000-row cumsum window +
    # broadcast scalar total
    "docs_ngram_coverage": (4, 1),
    # PCA power: final iteration's posexplode fan-out + per-dim agg +
    # broadcast norm scalar (earlier iterations ran eagerly at build,
    # kmeans precedent)
    "embeddings_pca_power": (5, 1),
    # share-of-region: nation DECIMAL agg + |nations| re-agg; all
    # dimension joins broadcast
    "nation_revenue_share": (3, 7),
    # audience overlap: distinct grid feeds the user-key self-join and
    # both broadcast size sides un-persisted (counted per consumer)
    "event_type_audience_overlap": (7, 3),
    # deseasonalize: day agg + the dow/global re-aggs over |days| rows
    # (both broadcast back)
    "events_dow_deseasonalize": (5, 2),
    # gini: the two-phase global_rank decomposition (cuts + per-bucket
    # windows) + one DECIMAL weighted-sum agg
    "customers_acctbal_gini": (6, 3),
    # sweep line: in-row +-1 delta fan-out, ONE day-partitioned running
    # sum shared with the per-day max
    "events_peak_concurrency": (1, 0),
    # KM survival: first-view/first-purchase aggs + the per-user join,
    # then |duration-days|-sized windows; the un-persisted v0 subtree
    # feeds two consumers (counted per consumer)
    "events_conversion_survival": (9, 5),
    # top-component removal: map-only against the literal direction
    # (the 1 is the scan fan-out; iterations ran eagerly at build)
    "embeddings_remove_top_component": (1, 0),
    # ACF: daily agg + global-moment agg + the lag-join/per-lag aggs
    # over the bounded |days| table (broadcast by boundedness)
    "events_daily_acf": (5, 2),
    # KS: value-domain agg, then the global_rank bucket decomposition
    # for the ECDF (cuts agg + per-bucket offsets + bucket-partitioned
    # cumsum windows) + totals + struct-max agg. The persisted `per`
    # subtree feeds THREE consumers (cuts/buckets/totals) so the
    # flattened count trebles it; executed exchanges ~7, of which the
    # offsets window + cuts agg run over n_buckets/1-row tables
    "docs_length_ks": (12, 4),
    # assortativity: pair-gen agg + degree agg + two PLAIN degree-attach
    # equi-joins (O(|V|) table, deliberately not broadcast) + moment agg
    "dedup_assortativity": (5, 1),
    # interpurchase: customer-keyed lag window + segment equi-join +
    # bucket agg + the broadcast segment-total re-agg
    "orders_interpurchase_dist": (5, 3),
    # chi-square: cell agg + three marginal re-aggs over the bounded
    # cell table (each broadcast back) + final agg
    "events_chisq_type_dow": (9, 3),
    # HHI: (brand,supplier) agg + brand re-agg; the brand re-join
    # reuses the groupBy partitioning (no forced broadcast)
    "brand_supplier_hhi": (4, 2),
    # MMR: the greedy ran EAGERLY at build (bounded pool, kmeans
    # ferrying); the gated surface is the map-side re-derive of the 5
    # picks' relevance (the 1 is the scan fan-out)
    "embeddings_mmr_topk": (1, 0),
    # CUSUM: daily agg + ordered cumsum/row_number windows over the
    # bounded |days| table + broadcast totals + struct-max agg
    "events_cusum_changepoint": (4, 1),
    # entropy: explode agg + per-doc total re-agg; the total join
    # reuses the doc partitioning (the 1 is the tok cache fan-out)
    "docs_token_entropy": (5, 1),
    # skyline: per-customer agg + per-x collapse + bounded prefix-max
    # window + the (x,y) join-back
    "customers_pareto_front": (4, 1),
    # bounce: the sessionize windows share one user exchange; day agg
    "sessions_bounce_rate": (2, 0),
    # source centroids: the PERSISTED centroid table feeds 3 consumers
    # (norms + both join sides) and the auditor counts the cached
    # TF-IDF lineage per consumer -- executed count is ~8 (weights agg
    # + centroid agg + token join + pair agg + norm joins).
    # (37, 18) -> (33, 14): each flattened idf lineage lost its
    # doc-count agg and broadcast (N is counted in the df aggregation)
    "sources_similarity_matrix": (33, 14),
    # BFS: hops ran EAGERLY at build (localCheckpoint per hop, the
    # CC/k-core discipline); the gated surface aggregates the
    # checkpointed reached table + the anti-join remainder
    "dedup_bfs_depths": (2, 1),
    # hubness: the X7 brute-force topk window + in-degree agg + the
    # zero-fill left join
    "embeddings_knn_hubness": (7, 2),
    # referential audit: five one-row leg aggregates, each one
    # distinct + one left join (plain equi -- AQE broadcasts small
    # parents)
    "referential_integrity_audit": (10, 5),
    # cohort LTV: first-order agg + cell agg (reuses the custkey
    # exchange) + bounded cohort-window cumsum + broadcast cohort size
    "cohort_ltv": (6, 2),
    # QQ: two exact-percentile aggs (broadcast single rows) + the
    # in-row decile zip
    "orders_price_qq": (2, 1),
    # medoid: the cluster-KEYED shingle self-join (cross-cluster
    # candidates pruned inside the join) + size attaches + member sum
    # + struct-max; the persisted shingle+cluster table audits per
    # consumer -- executed count is ~7
    "dedup_medoid_reps": (17, 5),
    # forecast backtest: cell agg + per-nation moment agg + the actual
    # join riding the nation partitioning; nation dim broadcast
    "nation_revenue_forecast_backtest": (4, 4),
    # feature hash: one explode + one partial agg (the 1 extra is the
    # tok cache's scan fan-out)
    "docs_feature_hash": (2, 0),
    # WoW retention: distinct grid + the (user, week-1) self-join +
    # three bounded weekly re-aggs and their joins
    "users_wow_retention": (8, 3),
    # Lorenz: the PERSISTED per-customer revenue + 10-row decile
    # tables still audit per consumer through the global_rank
    # decomposition -- executed count is ~8
    "customers_lorenz_deciles": (26, 9),
    # session pairs: the PERSISTED sessionized grid feeds the miner
    # and both lift sides -- counted per consumer; executed ~5
    "session_type_pairs": (16, 4),
    # Markov stationary: earlier rounds ran eagerly (ferrying); the
    # gated surface is one bounded groupBy + the zero-fill state join
    "events_markov_stationary": (4, 2),
    # triplet margin: broadcast all-pairs (X7 shape) + per-vector agg
    # + per-label agg
    "embeddings_triplet_margin": (4, 1),
    # power curve: per-user agg + bucket agg + broadcast total
    "users_power_curve": (5, 1),
    # threshold curve: the PERSISTED pair table feeds pair and doc
    # counts -- counted per consumer; executed ~5
    "dedup_threshold_curve": (27, 6),
    # LSH band curve: the cached signature table re-keys for 4 band
    # counts (one equi-join each) and the cached truth feeds label +
    # denominator -- counted per consumer; executed ~11
    "dedup_lsh_band_curve": (53, 11),
}


def test_budget_covers_every_query():
    """The net's full-surface claim is itself pinned: a new queries()
    key without a budget entry (or a stale entry for a removed key)
    fails here instead of silently decaying the coverage."""
    assert set(BUDGETS) == set(entry_mod.queries().keys())


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_shuffle_budget(spark, name):
    max_shuffle, min_broadcast = BUDGETS[name]
    a = audit_plan(entry_mod.queries()[name](spark, SF))
    assert a.shuffle_exchanges <= max_shuffle, (name, a)
    assert a.broadcast_exchanges >= min_broadcast, (name, a)
    assert a.cartesian_products == 0, (name, a)
    assert a.row_python_stages == 0, (name, a)


def test_map_only_queries_have_codegen(spark):
    """The scan-speed projections must actually compile (at least one
    whole-stage-codegen span), not fall back to interpreted eval."""
    for name in ("docs_split_sample", "text_normalize", "docs_pii_scrub"):
        a = audit_plan(entry_mod.queries()[name](spark, SF))
        assert a.codegen_spans >= 1, (name, a)


def test_audit_counts_python_stages(spark):
    """Sanity of the auditor itself: the deliberately-Arrow query is
    seen as such (guards against the audit regexes rotting)."""
    a = audit_plan(entry_mod.queries()["events_anomaly"](spark, SF))
    assert a.arrow_python_stages >= 1
    assert a.row_python_stages == 0


def test_ivf_internal_stage_budgets(spark):
    """The Lloyd refinement runs EAGERLY inside kmeans_centroids (its
    numbers are embedded as literals in the next pass's plan), so the
    ann_topk_ivf budget above never sees it. Pin the internal stages
    directly -- this is exactly where the r3 scale-killer lived:

    * assignment (_assign_from_lit over literal centroids, the
      assignment dedup and pipeline run) must be map-only: ZERO
      shuffle exchanges, no corpus movement;
    * one Lloyd pass's mean aggregation (_lloyd_means) is ONE
      partial-agg shuffle of (cluster, dim) rows.
    """
    from sparkbigdatatextanalysis_spark.operators import ann

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    nv = ann._norm_vecs(emb, "vec_id", "embedding")
    lit = ann._cents_lit(ann._collect_cents(ann.kmeans_centroids(emb), "test"))
    a = audit_plan(ann._assign_from_lit(nv, lit))
    assert a.shuffle_exchanges == 0, a
    assert a.cartesian_products == 0 and a.row_python_stages == 0, a

    cur = ann._collect_cents(ann._init_centroids(nv, ann.N_CENTROIDS), "test")
    assign = nv.selectExpr(
        f"{ann._best_centroid('v', 'norm', ann._cents_lit(cur))} AS c_id", "v"
    )
    m = audit_plan(ann._lloyd_means(assign))
    assert m.shuffle_exchanges <= 1, m
    assert m.cartesian_products == 0 and m.row_python_stages == 0, m


def test_dedup_cluster_chain_budget(spark):
    """The entry's cluster pipeline point is eagerly localCheckpointed
    (deep lineage = per-query Catalyst re-analysis cost), so the three
    keys consuming it audit as flat LogicalRDD scans. Pin the UNDERLYING
    MinHash-LSH + connected-components chain here so a regression into
    extra exchanges cannot hide behind the checkpoint -- the same
    treatment as the eager IVF refinement.

    Determinism (the r5 flake, root-caused twice): two confs are pinned
    for the audit (generous fixed broadcast threshold so KB-scale sides
    broadcast under EITHER statistic; exchange-reuse off so every
    broadcast prints at its own site) -- AND the chain is built fresh at
    shingle n=4. The n matters: Spark's CacheManager substitutes any
    CANONICALLY-EQUAL cached plan fragment into new plans
    ("Asked to cache already cached data"), so a chain built at the
    default n=3 silently picks up whatever n=3 fragments other tests
    have cached THIS session (_mh_pairs, pair_jaccard's shingle table,
    bands persists), and the audited shape then depends on suite
    history and eviction state -- the residual flake r6's conf pin
    alone did not close (one recurrence in ~5 full-suite runs). No
    OTHER test caches an n=4 fragment; the one remaining variance is
    SELF-substitution (a prior dedup_clusters call in the same session
    leaves its final labels/sym caches behind, and a canonically-equal
    later call reuses them), measured as 11 exchanges first-call vs 9
    with fragments resident, broadcasts 3 either way. The bound covers
    the observed {9..11} range with one exchange of headroom while
    still failing loudly on the structural regressions this pin exists
    for (the r3 crossJoin-window shape added dozens of exchanges, and
    cartesians/row-Python fail at any count)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as em
    from sparkbigdatatextanalysis_spark.operators import components as cc
    from sparkbigdatatextanalysis_spark.operators import dedup as dd

    docs = em._docs(spark, SF)
    bands = dd.lsh_band_keys_flat(
        dd.minhash_signatures_flat(dd.shingle_hashes(docs, n=4))
    )
    pa = bands.select("band", "key", F.col("id").alias("a_id"))
    pb = bands.select("band", "key", F.col("id").alias("b_id"))
    pairs = (
        pa.join(pb, ["band", "key"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    reuse = spark.conf.get("spark.sql.exchange.reuse", "true")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 << 20))
        spark.conf.set("spark.sql.exchange.reuse", "false")
        a = audit_plan(cc.dedup_clusters(pairs, docs))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.conf.set("spark.sql.exchange.reuse", reuse)
    assert a.shuffle_exchanges <= 12, a
    assert a.broadcast_exchanges >= 3, a
    assert a.cartesian_products == 0 and a.row_python_stages == 0, a
