package graft

import org.scalatest.funsuite.AnyFunSuite

/** Shuffle-budget regression net: every query's physical plan may use
  * AT MOST its recorded number of ShuffleExchanges (fewer is fine — an
  * optimization shouldn't fail the net). A silent extra shuffle is the
  * classic scale regression: invisible at sf0.001, a new bottleneck at
  * 100 TB. Regenerate budgets with `runMain graft.ShufBudget` after an
  * intentional plan change.
  */
class ShuffleBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private val budget = Map(
    "q10_distinct_counts" -> 2, "q11_rollup_suppliers" -> 1,
    "q12_scalar_functions" -> 0, "q13_events_hourly" -> 2,
    "q14_props_extract" -> 1, "q15_status_pivot" -> 1,
    "q16_sessionize" -> 1, "q17_doc_wordcount" -> 2,
    "q18_inverted_index" -> 1, "q19_text_stats" -> 0,
    "q1_pricing_summary" -> 1, "q20_lang_id" -> 0,
    "q21_fingerprint" -> 1, "q22_exact_dedup" -> 1,
    // q23/q24/q54/q58: the localCheckpoint in the sig/shingle pipeline
    // truncates the visible plan, so these budgets only cover the
    // post-checkpoint stages (the checkpointed sub-plan's shuffles run
    // once at materialization — exactly the point of the checkpoint)
    // q24 (r15): shinglesWithCount replaced the count() window, so the
    // ckpt'd shingle sub-plan lost its doc_id Exchange+Sort; the pair
    // agg's final exchange (partially-aggregated PAIR rows — orders of
    // magnitude under the shingle relation it used to ride free on)
    // becomes visible. Net shuffle BYTES are strictly down.
    "q23_minhash_lsh" -> 1, "q24_ngram_jaccard" -> 1,
    "q25_simhash" -> 2, "q26_cosine_topk" -> 1,
    "q27_ann_bucketed" -> 1, "q28_media_decode" -> 0,
    "q29_asof_join" -> 1, "q2_forecast_revenue" -> 1,
    "q30_range_join" -> 1, "q31_cube_lineitem" -> 1,
    "q32_sketches" -> 4, "q33_embedding_neardup" -> 1,
    "q34_percentiles" -> 2, "q35_window_frames" -> 1,
    "q36_date_arith" -> 0, "q37_tfidf" -> 5,
    "q38_fuzzy_part_names" -> 0, "q39_topk_aggregate" -> 1,
    "q3_shipping_priority" -> 1, "q40_full_outer_calendar" -> 2,
    "q41_array_functions" -> 0, "q42_mrapp_wordcount" -> 1,
    "q43_mrapp_indexer" -> 1, "q44_correlated_subquery" -> 1,
    "q45_json_parse" -> 1, "q46_grouping_sets" -> 1,
    "q47_interval_overlap" -> 1, "q48_ann_ivf" -> 6,
    "q49_winnowing" -> 1, "q4_supplier_by_region" -> 1,
    "q50_session_windows" -> 1, "q51_train_test_split" -> 1,
    "q52_clean_funnel" -> 2, "q53_length_buckets" -> 1,
    "q54_dedup_clusters" -> 3, "q55_source_quota_mix" -> 1,
    "q56_decontamination" -> 4, "q57_repetition_stats" -> 3,
    "q58_simhash_neardup" -> 0, "q59_semantic_dedup" -> 5,
    "q5_big_spenders" -> 0, "q60_corpus_build" -> 5,
    "q61_quality_quantile_filter" -> 1, "q62_boilerplate_ngrams" -> 2,
    "q63_sole_late_supplier" -> 3, "q64_metric_correlation" -> 2,
    "q65_interevent_gaps" -> 2, "q66_event_transitions" -> 3,
    "q67_stratified_sample" -> 0, "q68_pack_sequences" -> 1,
    // q69 (r15): same window→generator switch as q24 — the pair agg's
    // (small) exchange surfaces, the 8-gram relation's Exchange+Sort
    // in the ckpt is gone
    "q69_fuzzy_decontamination" -> 1, "q70_vocab_coverage" -> 1,
    "q71_pq_codes" -> 2, "q72_pq_adc_search" -> 3,
    "q73_embedding_outliers" -> 3, "q74_heavy_hitters" -> 2,
    // q75: the round-6 de-globalization trades the vocab-sized
    // single-task window for a 2-exchange one-row corpus-total
    // aggregate crossJoin(broadcast) — one more (tiny) exchange, no
    // single-task sort
    "q75_unigram_logprob" -> 4,
    // q76: two Lloyd rounds = 2× (per-(vec,cent) sum + per-vec argmin)
    // + centroid recompute + final per-cluster agg; dims itself is
    // checkpoint-truncated
    "q76_kmeans" -> 5,
    // q77: exact-verify semi join + per-doc distinct count; the bloom
    // build is a scalar subquery (not counted), the prefilter scan-side
    "q77_bloom_decontamination" -> 2,
    // q78: seven independent one-row aggregates (6 × 2-exchange distinct
    // + 1 streaming count/min/max) — 13 tiny exchanges by design, each
    // over a single pruned column, instead of one Expand that re-sorts
    // the whole table ×7
    "q78_profile" -> 13,
    // q79: df count keyed by fp + join back + per-doc reassembly; the
    // chunk relation is checkpoint-truncated
    "q79_chunk_dedup_rebuild" -> 3,
    // q80: postings self-join on the shingle + pair agg + totals join
    "q80_source_overlap" -> 3,
    // q81: one scan into TakeOrderedAndProject — no exchange at all
    "q81_weighted_sample" -> 0,
    "q6_customers_without_big_orders" -> 0,
    "q7_top_orders_per_customer" -> 1, "q8_top100_lineitems" -> 0,
    "q9_setops" -> 2,
    // q82: pure narrow map — no exchange at all
    "q82_pii_scrub" -> 0,
    // q83: post-checkpoint stages only (base + banded sigs are
    // checkpointed): exact-probe agg, band-probe agg, final assembly
    "q83_incremental_dedup" -> 3,
    // q84: one agg exchange; the stack() Generate adds none
    "q84_unpivot_metrics" -> 1,
    // q85: one hash exchange for the (epoch, shard) window
    "q85_epoch_shuffle" -> 1,
    // q86: user_id window exchange + (context, label) agg exchange
    "q86_event_context_examples" -> 2,
    // q87: all three dims broadcast — only the (nation, year) agg
    // exchanges
    "q87_profit_by_nation" -> 1,
    // q88: one counter-row agg; the orders probe join broadcasts at
    // this SF (co-keyed shuffle join at scale would add 2)
    "q88_dq_audit" -> 1,
    // q89: per-user min-week agg + cohort join + distinct-count expand
    "q89_retention_cohorts" -> 3,
    // q90: single partial-agg exchange on (type, day)
    "q90_argmax_events" -> 1,
    // q91: bigram agg + w1 window + the 2-exchange one-row vocab agg
    "q91_bigram_lm" -> 4,
    // q92: post-checkpoint stages only (shingle postings checkpointed,
    // q24's shape); r15 window→generator switch surfaces the pair
    // agg's exchange (see q24's note)
    "q92_containment" -> 1,
    // q93: pure scan-side Generate — no exchange at all
    "q93_doc_chunks" -> 0,
    // q94: doc_id window for latest-wins + (source, version) agg
    "q94_cdc_upsert" -> 2,
    // q95: sparse (type, day) agg + spine distinct + fill window
    "q95_gap_fill" -> 3,
    // q96: bucket agg + the tiny bucket-table window + the bucket
    // windows on the fact side (thresholds broadcast back)
    "q96_skyline" -> 3,
    // q97: (doc, word) agg + doc_id totals join (partial-agg both)
    "q97_word_entropy" -> 2,
    // q98: two percentile rounds (medians broadcast back) + final agg
    "q98_mad_outliers" -> 3,
    // q99: (flag, day) agg + the flag-partitioned lag window
    "q99_ewma" -> 2,
    // q100: post-checkpoint stages (edges/deg/oriented checkpointed):
    // wedge self-join on s + closing join + the 1-row summary aggs
    "q100_triangles" -> 6,
    // q101: post-checkpoint: 3 power iterations (mass agg keyed by dst
    // + deg ride-along) + the top-20 order; vertex count broadcast
    "q101_pagerank" -> 8,
    // q102: ONE user_id exchange — hash(user_id) already clusters the
    // (user_id, tier) window and the island agg
    "q102_tier_islands" -> 1,
    // q103: (day, user) distinct + max-day agg + distinct-count expand
    "q103_rolling_dau" -> 4,
    // q104: the 1-row min/max agg + the 20-bucket agg
    "q104_histogram" -> 2,
    // q105: user_id window exchange + per-day agg
    "q105_attribution" -> 2,
    // q106: sketch path (day agg + window union) + exact yardstick
    // path (distinct + distinct-count expand) + the join of the two
    "q106_rolling_hll" -> 6,
    // q107: post-checkpoint: corpus/target word aggs + word-keyed
    // score join + per-doc agg + source join (1-row totals broadcast)
    "q107_dsir" -> 5,
    // q108: canary-hit agg + the final left-join agg (canaries
    // broadcast into the containment scan)
    "q108_canary_scan" -> 2,
    // q109: exactly the two key co-partitions AsofJoinExec requires
    "q109_asof_native" -> 2,
    // q110: three cascading (agg + user-keyed join) funnel stages
    "q110_ordered_funnel" -> 7,
    // q111: post-checkpoint: prefix-postings self-join + candidate
    // distinct + the two verify joins fold into checkpoint-adjacent
    // stages at this SF; the ONE exchange is the r16 round-robin
    // repartition of the candidate (x, y) ID relation — a few bytes
    // per pair, deliberately added so the exact re-rank fans across
    // tasks instead of running on one AQE-coalesced partition (the
    // document payloads never ride it)
    "q111_prefix_simjoin" -> 1,
    // q112: post-checkpoint: vocab agg + the 2-exchange 1-row totals +
    // per-(source, word) agg + grid join + final per-source agg
    "q112_kl_drift" -> 7,
    // q113: one lang-partitioned rank window
    "q113_stratified_k" -> 1,
    // q114: (type, user) distinct + per-type sketch agg + the exact
    // user-keyed self-join pair agg + est/exact join (sketch pair
    // stage itself is 5 KB-rows crossed)
    "q114_sketch_overlap" -> 5,
    // q115: q26's bounded shape — query set broadcast, one top-k window
    "q115_hard_negatives" -> 1,
    // q116: one pair agg; the ranking window runs over ≤676 pair rows
    "q116_bpe_pairs" -> 1,
    // q117: per-(week, bin) agg + the tiny week/bin/total rollups and
    // grid joins — every post-scan relation is weeks×10 rows
    "q117_psi_drift" -> 6,
    // q118: the two 8-bit band equi-joins + pair distinct; hashes are
    // 4 bytes/row, payloads never shuffle
    "q118_phash_neardup" -> 1,
    // q119: post-checkpoint: centroid agg + score partial agg + the
    // distinct-score agg + per-label rank window/final agg
    "q119_auc_eval" -> 4,
    // q120: the GT top-k window + the IVF assign/probe ranking (now
    // fully in-plan — no checkpoint, exchange reuse dedupes the shared
    // centroid-join subtree) + re-rank/hit agg/spine join; every
    // data-sized exchange is the per-vec ranking, the rest move
    // 10-anchor-bounded relations (probe batch broadcasts)
    "q120_ann_recall" -> 8,
    // q121: post-checkpoint (cand + gt checkpointed): per-config count,
    // hit semi-join + count, and the 4-row spine/ntrue assembly
    "q121_lsh_tuning" -> 6,
    // q122: one hash partition on l_suppkey feeds the single shared
    // WindowExec pass for all six ranking functions
    "q122_rank_functions" -> 1,
    // q123: change-detect window + the as-of merge scan co-partition on
    // user_id; final tier agg
    "q123_scd2_lookup" -> 3,
    // q124: three status-keyed partial aggs (two halves + direct); the
    // merge/compare joins reuse the status partitioning
    "q124_state_merge" -> 3,
    // q125: post-checkpoint (each BFS layer checkpointed): the final
    // per-depth agg; per-layer joins live behind the checkpoints
    "q125_bfs_reach" -> 1,
    // q126: one map-side-combinable moment-sum pass; the closed form is
    // a projection on 3 rows
    "q126_ols_by_group" -> 1,
    // q127: per-(vec,label) dot-product agg, then the 7-row threshold
    // grid agg; centroid rides the broadcast
    "q127_threshold_eval" -> 3,
    // q128: the histRank two-phase rank (histogram agg + 1000-row cum
    // window + bucket-partitioned rank) + per-bin agg — small hash
    // exchanges replacing the old single-partition NTILE sort
    "q128_woe_binning" -> 5,
    // q129: post-checkpoint incidence: pair self-join co-partitioned on
    // user_id + pair agg + marginal/N aggs
    "q129_pmi_pairs" -> 5,
    // q130: per-user conversion rollup, then the 5-row cohort agg
    "q130_ab_ztest" -> 2,
    // q131: post-checkpoint deltas: bucket-net agg + its tiny global
    // window, and the hour-partitioned sweep window
    "q131_concurrency" -> 3,
    // q132: post-checkpoint postings: dl/totals aggs, term-filtered
    // tf/df aggs, the dl join, and the top-15 rank
    "q132_bm25" -> 7,
    // q133: the supplier side broadcasts into the cell equi-join; one
    // exchange for the per-supplier agg
    "q133_spatial_join" -> 1,
    // q134: pairs are array-local; the single shuffle is the pair-count
    // agg feeding the global top-25
    "q134_skipgram_pairs" -> 1,
    // q135: fold×lang agg, lang totals agg, and the final broadcast-join
    // exchange
    "q135_fold_audit" -> 3,
    // q136: post-checkpoint grid: profile agg + residual-envelope agg
    "q136_seasonal_profile" -> 2,
    // q137: one user_id exchange feeds all three trailing RANGE frames
    "q137_trailing_features" -> 1,
    // q138: one priority-keyed moment agg; the encode is a broadcast
    // join
    "q138_target_encoding" -> 1,
    // q144: chunks are array-local; per-doc agg (+ distinct-fp expand)
    "q144_overlap_chunks" -> 2,
    // q150: vocab agg + the 64-row bucket rollup
    "q150_feature_hashing" -> 2,
    // q139: term-filtered postings agg (+ distinct-term expand); the
    // top-20 rank is a TakeOrdered, not an exchange
    "q139_boolean_retrieval" -> 2,
    // q140: key-frequency agg + the tiny ranked-keys window/final agg
    "q140_skew_audit" -> 2,
    // q141: cutoff bounds agg + per-user conditional agg (+ its
    // distinct-days expand)
    "q141_churn_labels" -> 3,
    // q149: post-checkpoint: qid top-5 window + vote/accuracy aggs
    // (probe batch broadcasts into the cell join; ranking behind the
    // pruned checkpoint)
    "q149_knn_eval" -> 2,
    // q142: post-checkpoint (each superstep checkpointed): the final
    // component histogram
    "q142_cc_labelprop" -> 1,
    // q143: per-user path rollup + the tiny path-count agg (top-15 is
    // a TakeOrdered)
    "q143_path_mining" -> 2,
    // q145: histRank's histogram/cum/bucket-rank exchanges + the
    // 32-bucket rollup (no global sort)
    "q145_range_splits" -> 4,
    // q146: post-checkpoint items: basket-keyed pair join + pair agg +
    // basket-count agg
    "q146_basket_pairs" -> 3,
    // q147: custkey join + (nation, week) agg; the lag window rides
    // the rollup's partitioning
    "q147_wow_growth" -> 2,
    // q148: signup rollup, the user_id join, conversion rollup, the
    // quantile rewrite's exchanges, and the signup-count agg
    "q148_conversion_lag" -> 5,
    // q151: one (user, type)-partitioned lag window + the 5-row type
    // rollup
    "q151_burst_dedup" -> 2,
    // q152: one flag-partitioned sort serves both windows and the
    // final rollup
    "q152_weighted_median" -> 1,
    // q153: running-state window, spine distinct, the as-of
    // co-partition pair, and the snapshot rollup
    "q153_weekly_snapshots" -> 4,
    // q154: cell counts + row totals (the broadcast join adds one
    // exchange)
    "q154_langid_confusion" -> 2,
    // q155: before/after one-row aggs (each with a distinct-users
    // expand)
    "q155_erasure_audit" -> 4,
    // q156: source counts, totals, deficit agg, and the tiny
    // remainder-rank window
    "q156_quota_apportion" -> 4,
    // q157: post-checkpoint contingency table: row/col/grand marginal
    // aggs + the per-type rollup
    "q157_chi_square" -> 4,
    // q158: source counts, totals, and the tiny ranked-cumulative
    // window
    "q158_source_concentration" -> 3,
    // q159: cutoff agg, per-user rollup (+ distinct-days expand), and
    // the 3-row moment agg
    "q159_feature_screen" -> 4,
    // q160: digit counts + the one-row total agg
    "q160_benford_audit" -> 2,
    // q161: daily rollup; peak window + final agg ride the flag
    // partitioning
    "q161_max_drawdown" -> 2,
    // q162: fingerprint sizes, the size histogram, and the doc total
    "q162_dup_profile" -> 3,
    // q163: (user, minute) counts + the per-user burst rollup
    "q163_burst_arrivals" -> 2,
    // q164: post-checkpoint daily rollup: the two lag-join moment aggs
    "q164_autocorrelation" -> 2,
    // q165: per-part avg agg + the co-keyed join-back/brand agg
    "q165_small_qty_revenue" -> 2,
    "q166_large_volume_orders" -> 1,
    "q167_dormant_customers" -> 2,
    // q168: daily rollup, the per-type stats agg, and the cusum window
    "q168_cusum_shift" -> 3,
    // q169: the source-partitioned decile sort + final agg (ref join
    // broadcasts)
    "q169_quantile_shift" -> 2,
    // q170: 3 peel rounds x (degree agg + 2 node-keyed joins) + the
    // 4 round-size aggregates; e1-e3 are checkpoint-truncated, this is
    // the LAST round + sizes. Node-keyed joins stay shuffles by design:
    // the survivor set is node-sized at scale, never broadcastable.
    "q170_kcore" -> 12,
    // q171: two TakeOrdered candidate caps + ≤50-row rank windows +
    // the full-outer fusion join + bm25's postings aggs
    "q171_rrf_hybrid" -> 7,
    // q172: per-query position window + perq agg (checkpoint-truncated
    // rk; probe/query sides broadcast — the cell join shuffles nothing)
    "q172_ndcg_eval" -> 2,
    // q173: per-(label,dim) centroid agg + array repack + per-vec
    // margin agg + bin agg (centroid table broadcast; scoring narrow)
    "q173_calibration_bins" -> 4,
    // q174: (lang,word) counts + the vocab-bounded ranking window/agg
    "q174_zipf_slope" -> 2,
    "q175_disjunctive_pricing" -> 1,
    "q176_returned_items" -> 1,
    "q177_local_supplier_volume" -> 1,
    // q178: pure narrow map — zero shuffles at any scale
    "q178_span_corruption" -> 0,
    "q179_temperature_mix" -> 1,
    // q187/q188: narrow decode map / sample-bounded Lloyd chain — the
    // training shuffles hide behind ivfCentroids' localCheckpoints
    "q187_image_decode" -> 0,
    "q188_ivf_train" -> 0,
    // q189: anchor-vote agg keyed (doc_id, anchor) + the per-doc hit
    // rollup; the slot-completeness check is a bit_or bitmask folded
    // into the first aggregate (a COUNT DISTINCT here would be a third
    // exchange)
    "q189_phrase_search" -> 2,
    // q190: hot-gram df count (1 exchange on gram) + post-checkpoint
    // gram-keyed cross-doc join (2 sides — the cap's anti-join itself
    // is broadcast, no exchange); the (pair, diag) window's
    // partitioning is reused by both downstream aggs
    "q190_shared_spans" -> 3,
    // q191: 16-group replicate agg + the two one-row aggregates
    // (point estimate, sorted-means pack)
    "q191_bootstrap_ci" -> 3,
    // q192: post-checkpoint cell-keyed held×train join (2 sides) +
    // the per-held evidence agg (the assignment pipeline's shuffles
    // hide behind the localCheckpoint, q59's shape)
    "q192_semantic_decontamination" -> 3,
    // q193: the doc_id assign join (2 sides) + the cluster_id
    // survivorship window (edges/CC shuffles hide behind q54's
    // checkpointed pair pipeline and the CC contraction rounds)
    "q193_canonical_selection" -> 3,
    // q194: q72's ADC chain (per-(vec,j) argmin agg + per-(qid,vec)
    // sum + rank) + the GT top-k window + hit agg/spine join — the
    // corpus-sized exchanges are the PQ assignment and scoring aggs,
    // the rest move 10-anchor-bounded relations
    "q194_adc_recall" -> 8,
    // q195: post-checkpoint per-type percentile-rank exchange (the
    // ScaleSafePercentiles __pctl_ windows, event_type-partitioned) +
    // the final clip aggregate; the cutoffs broadcast back
    "q195_winsorize" -> 2,
    // q196: post-checkpoint day-grain relations only — the pair-join
    // sides + the tie/n_days/s aggs and their 5-row assembly joins
    // (everything bounded by |event types| × |days|)
    "q196_trend_test" -> 4,
    // q197: user rollup + distinct-day expand + the 3-row feature
    // moment agg + the two bounded-window exchanges (|features| rows)
    "q197_fdr_screen" -> 5,
    // q198: post-checkpoint per-src rank window + top-3 agg + the
    // mutual top1×top1 equi-join and two margin joins (top-1/top-3
    // relations are one-row-per-vector, never pair-sized)
    "q198_bitext_mining" -> 6,
    // q199: the two visible top-10 survivor exchanges — all four
    // propagation rounds hide behind the a2/h2 checkpoints (each is
    // one edge-keyed join + keyed agg, q101's shape)
    "q199_hits" -> 2,
    // q200: post-checkpoint fp-keyed dup agg (+ its join back) and
    // the |sources|-row rollup — one corpus pass total
    "q200_corpus_health" -> 2,
    // q201: every GD superstep ends in a localCheckpoint'd 1-row
    // aggregate, so the visible plan is the final checkpoint scan —
    // the per-step shuffle is the 4-double gradient all-reduce
    "q201_logreg_quality" -> 0,
    // q202: word-count agg behind the checkpoint; then the ≤64-cell
    // sketch agg, the top-15 probe join, and the per-word min agg
    "q202_cms_heavy_hitters" -> 3,
    // q203: day rollup behind the checkpoint; the 2-exchange one-row
    // mean crossJoin + the lag equi-join/agg over the ≤365-day series
    "q203_daily_acf" -> 3,
    // q204: covariance build behind the checkpoint (its d²-cell agg is
    // the one data-sized shuffle, run once); visible: the power
    // iteration, one aggregate over the coalesce(1)'d d² cells in a
    // single task, and the 64-row sort on that one partition — nothing
    // left to exchange
    "q204_pca_power" -> 0,
    // q205: propagation rounds checkpoint per superstep; visible: the
    // ≤|labels| community-size agg feeding sort+limit
    "q205_label_prop" -> 1,
    // q206: post-checkpoint sym: degree agg, its two edge-tagging
    // joins, and the one-row integer-sums all-reduce
    "q206_assortativity" -> 4,
    // q207: per-source count + the |sources|-row scalar-math pass
    "q207_dp_counts" -> 2,
    // q208: sample-sum and exact-total aggregates over the
    // checkpointed (pi, u) scan — two 1-row all-reduces
    "q208_ht_estimate" -> 2,
    // q209: post-checkpoint pack: the broadcast-anchor scoring pass's
    // per-anchor rank exchange + the final order
    "q209_abtt_rerank" -> 2,
    // q210: one scoring pass over the checkpointed features: per-lang
    // rollup + the bounded final order
    "q210_model_apply" -> 2,
    // q211: post-checkpoint: Q.globalExactPercentiles' (sub-bucket
    // agg + cum window + (bin,sub) rank window on the calendar²-
    // bounded pairs) + the 2-exchange one-row day count
    "q211_theil_sen" -> 4,
    // q212: the two ≤10-anchor rank windows' exchanges (gt + ann);
    // cells/candidates broadcast, the curve spine is literal
    "q212_recall_curve" -> 2,
    // q213: post-checkpoint |labels|-bounded stages: centroid-pair
    // agg + the worst-ratio window + the 1-row DB mean
    "q213_davies_bouldin" -> 3,
    // q214: ONE media_id exchange — hash(media_id) serves both the
    // per-video lag window and the per-video rollup
    "q214_shot_boundaries" -> 1,
    // q215: media_id exchange for the island window/rollup + the
    // (media_id, isl) run agg before the per-medium max
    "q215_audio_activity" -> 2,
    // q216: round-3's visible stages (earlier rounds checkpoint):
    // pair agg + its sort-limit-1 + the post-merge token/vocab
    // distinct aggs + the 1-row output assembly
    "q216_bpe_train" -> 6,
    // q217: ONE shard exchange serves the running-total window and the
    // per-shard rollup
    "q217_sequence_packing" -> 1,
    // q218: pure scan-side map — inject, regexp-count, redact, md5;
    // zero exchanges
    "q218_pii_scrub" -> 0,
    // q219: gram df agg + the gram-keyed cross-doc join side + the
    // matched-position distinct + the per-doc island window (rollups
    // reuse the window's doc_id partitioning)
    "q219_span_removal" -> 4,
    // q220: the per-source token agg; the one-row totals cross is a
    // broadcast (no exchange)
    "q220_mixture_temperature" -> 1,
    // q221: the per-vec assignment window + the 16-cell rollup
    // (centroid join broadcasts, totals cross is a broadcast)
    "q221_ivf_balance" -> 2,
    // q222: prefix-fp agg; the size rollup rides AQE-coalesced on the
    // same hash, totals cross broadcasts
    "q222_prefix_cache" -> 1,
    // q223: closed-form scan-side map — zero exchanges
    "q223_rag_chunking" -> 0,
    // q224: the doc_id full-outer join (both version sides) + the
    // 4-group status rollup
    "q224_corpus_diff" -> 3,
    // q225: one anchor-keyed rank window per side (pos/neg) + the
    // 10-row qid join of the two sides
    "q225_contrastive_triplets" -> 4,
    // q226: ONE media_id exchange serves the lag window AND the rollup
    "q226_gif_shot_boundaries" -> 1,
    // q227: one partial-agg exchange to |source×lang| rows (argmax/
    // argmin via max/min(struct) — no window over group members)
    "q227_preference_pairs" -> 1,
    // q228: pure narrow map over the embeddings scan — zero exchanges
    "q228_int8_quant_audit" -> 0,
    // q229: one global partial-agg to a single wide row; the per-LF
    // rows are a zero-shuffle stack() rotation
    "q229_weak_label_report" -> 1,
    // q230: one partial-agg exchange for the group moments (broadcast
    // back into the scan — the candidate pool never shuffles)
    "q230_group_advantages" -> 1,
    // q231: the shard cumsum exchange + the (block, shard) rollup;
    // the 4-way block sweep is a narrow explode
    "q231_packing_sweep" -> 2,
    // q232: pure narrow payload rewrite — zero exchanges
    "q232_fim_examples" -> 0,
    // q233: post-checkpoint (sig table is ckpt'd): the band bucket
    // self-join exchange pair + the ≤4-row matrix rollup
    "q233_split_leakage" -> 3,
    // q234: ONE user_id exchange serves the session lag window, the
    // session cumsum, and the per-conversation agg
    "q234_chat_render" -> 1,
    // q235: one partial-agg exchange to |problems| rows; the product
    // chains are scalar arithmetic on (n, c)
    "q235_pass_at_k" -> 1,
    // q236: narrow explode + per-row splice — zero exchanges
    "q236_needle_suite" -> 0,
    // q180: post-checkpoint histogram agg + 1000-row cum window + the
    // Q.globalExactPercentiles survivor-refine exchange (all three over
    // ≤1000-bucket relations; the users-sized scan shuffles once)
    "q180_global_percentiles" -> 3,
    // q181: per-user span agg + the duration-bounded byT agg/windows +
    // the 2-exchange one-row user total
    "q181_kaplan_meier" -> 5,
    // q182: post-checkpoint fingerprints: bit-set distinct, the
    // bit-position probe join, per-doc hit agg, per-source rollup
    "q182_bloom_probe" -> 4,
    // q185: post-checkpoint sym: degree agg + wedge self-join on the
    // center + pair agg (top-20 is a TakeOrdered)
    "q185_adamic_adar" -> 3,
    // q186: one moment-sum pass; the closed form projects one row
    "q186_welch_ttest" -> 1,
    // q183: both sides shuffle on (suppkey, salt) — the pinned
    // shuffle-hash path salting exists for — + the nation rollup
    "q183_salted_join" -> 3,
    // q184: post-checkpoint bigrams: c12/c1 aggs, their w1 join, the
    // (w1, w2) scoring join, and the per-doc agg
    "q184_perplexity_filter" -> 5,
    // q237: post-checkpoint thresholded pair stream: the two rollups
    // (pairs, exploded docs with a distinct) + the 5-row spine joins
    "q237_dedup_threshold_sweep" -> 5,
    // q238: gt window + (qid,d) prefix window + hit agg + spine join —
    // the q120 shape with the width explode riding the same exchanges
    "q238_matryoshka_recall" -> 5,
    // q239: every relation past the ckpt'd |sources| rows is bounded;
    // the rollup joins broadcast (tiny-side stats from the checkpoint)
    "q239_unimax_allocation" -> 0,
    // q240: champion agg collapses the corpus; the ckpt'd games/tally
    // relations keep the 3 MM iterations off the scan (one tally join)
    "q240_bradley_terry" -> 1,
    // q241: ONE global partial agg to a single wide row (q229's shape);
    // the stack rotation adds no exchange
    "q241_lf_agreement" -> 1,
    // q242: post-ckpt (problem, answer) counts roll up per problem in
    // one exchange (the vote-count agg executes inside the ckpt)
    "q242_self_consistency" -> 1,
    // q243: ONE (source, lang) exchange serves the rank window AND the
    // weighted-moment agg (same keys — exchange reuse)
    "q243_best_of_n" -> 1,
    // q244: pure narrow map — the native gram_clip kernel computes the
    // clipped counts row-locally; no gram row, no join, no exchange
    "q244_bleu" -> 0,
    // q245: the ranked (cap-window) relation ckpts since r14 — it
    // feeds both the kept pairs and the culled-pairs count — so the
    // band self-join and doc_a window exchanges sit behind the
    // barrier; the one visible exchange is the candidate groupBy's;
    // text joins broadcast (tiny candidate side), TakeOrdered closes
    "q245_edit_neardup" -> 1,
    // q246: every superstep's pair-agg shuffle runs AT the per-step
    // ckpt barriers; the visible plan is the union of 8 checkpointed
    // 1-row merge frames — nothing left to exchange
    "q246_bpe_train" -> 0,
    // q247: corpus gram-explode partial-agg + the per-lang rollup; the
    // vocab side arrives broadcast (word TYPES, never shuffled)
    "q247_bpe_fertility" -> 2,
    // q248: one 9-group agg over the unioned checkpointed vocab stages
    // + the closing 9-row sort — the corpus is never rescanned
    "q248_bpe_compression" -> 2,
    // q249: post-ckpt bigram c12/c1 aggs + the (w1,w2) scoring join +
    // the |sources| rollup; everything after is scalar
    "q249_doremi_mixture" -> 4,
    // q250: votes and per-doc category counts are row-local (q229's
    // wide-row discipline) — one source-keyed partial agg + the
    // closing |sources|-row sort
    "q250_fleiss_kappa" -> 2,
    // q251: pure narrow map — the native gram_clip kernel (char mode)
    // computes the clipped counts row-locally; zero exchanges
    "q251_chrf" -> 0,
    // q252: the token/vocab decile sums are GLOBAL 1-row partial aggs
    // (no keyed exchange) and the 10-point curve is checkpointed
    // before the fit — the visible plan is the 10-row stack + the
    // broadcast 1-row fit cross, nothing left to exchange
    "q252_heaps_fit" -> 0,
    // q253: post-ckpt corpus gram distinct + candidate gram agg; the
    // membership join broadcasts the distinct gram set at this SF
    // (equi-keyed shuffle join at scale)
    "q253_novelty_audit" -> 2,
    // q254: (source, word) vocabulary agg + the (source, r) spectrum
    // rollup + the closing |sources|·5-row sort; the stack is
    // shuffle-free off the wide row
    "q254_good_turing" -> 3,
    // q255: post-ckpt fp distinct + set sizes + the fp-co-keyed
    // overlap join + pair rollup + the closing pair-grid sort; the
    // spine cross is broadcast over the |sources|-row size lists
    "q255_source_overlap" -> 5,
    // q256: the train chain and held vocab run AT ckpt barriers; the
    // visible plan is the per-lang rollup + closing sort (the typed
    // token table arrives broadcast)
    "q256_bpe_oov_audit" -> 2,
    // q257: pure narrow map — every window lives in its own row's
    // token array
    "q257_mattr" -> 0,
    // q258: post-ckpt 1-row weight total + the bounded
    // largest-remainder window exchange + the closing sort; the
    // corpus collapsed in the one partial agg inside the ckpt
    "q258_neyman_allocation" -> 4,
    // q259: post-ckpt c12 agg feeds three vocab-bounded stat aggs
    // (history, continuation, 1-row total) + the co-keyed (w1,w2)
    // scoring join's per-doc rollup — the bigram stream itself runs
    // AT the bigramLm ckpt
    "q259_kneser_ney" -> 4,
    // q260: the 8 MMR supersteps run AT their ckpt barriers over the
    // bounded candidate/pair relations; the visible plan is the
    // closing 40-row sort
    "q260_mmr_rerank" -> 1,
    // q261: ONE quasi-identifier partial agg runs at the ckpt; visible
    // plan is the wide-row conditional agg (1-row) + the 4-row stack
    // sort with the totals broadcast
    "q261_k_anonymity" -> 2,
    // q262: broadcast val set keeps the pair build narrow; the qid
    // rank/lead/frame windows share ONE qid exchange, then the
    // per-train rollup + the exact-decimal per-train agg
    "q262_knn_shapley" -> 3,
    // q263: pure narrow map (gram_clip word mode, the q244 shape) —
    // the fimRewritten internals run at its ckpt
    "q263_rouge" -> 0,
    // q264: pure narrow map — both checkpoint-weight frames arrive as
    // 1-row broadcasts over the ckpt'd feature relation
    "q264_data_maps" -> 0,
    // q265: post-ckpt 1-row straddle agg + the 2-key split rollup +
    // the closing 2-row sort; the corpus collapsed in the one
    // fingerprint agg inside the ckpt
    "q265_group_split" -> 3,
    // q266: q101's exact shuffle shape — 1-row seed count + one
    // dst-keyed exchange per power iteration + TakeOrdered
    "q266_ppr" -> 8,
    // q267: ONE global conditional-sum agg off the per-doc boolean
    // narrow map; the 6-row stack + sort is row-local off that row
    "q267_gopher_rules" -> 1,
    // q268: q262's three (qid windows share one exchange, per-train
    // rollup, ntr 1-row agg) plus the nva 1-row agg
    "q268_shapley_topr" -> 4,
    // q269: corpus/scored ckpt internals + two qid rank windows off
    // the ckpt'd scored relation, the (qid,vec_id) full-outer fusion
    // join, the fused rank window, the hits rollup, the 3-row final
    // agg + sort — every post-scan relation is ≤50×8 rows by the caps
    "q269_hybrid_mrr" -> 11,
    // q270: q54's assignment (3) + q262's sweep (3) + the doc-keyed
    // value join + the per-cluster agg + the ≤3-row class agg/sort
    "q270_cluster_value" -> 9,
    // q271: the ckpt'd scored scan's agg + the 1-row threshold
    // all-reduce + the 6-cell confident-joint agg; the spine join is
    // a 6-row broadcast
    "q271_label_noise" -> 3,
    // q272: the three GD supersteps live inside logregSteps' ckpts;
    // this plan is the 1-row total agg + the ≤3-row class rollup +
    // its sort — the scoring itself is a pure narrow map
    "q272_forgetting" -> 3,
    // q273: the doc_id-keyed words×cells join + the (cell, word)
    // partial agg feed one exchange pair inside the ckpt; f_w agg, A
    // 1-row agg, and the per-cell rank window + final sort ride the
    // vocab×16-bounded relation
    "q273_cell_topics" -> 5,
    // q274: the shared big relation's ckpt internals + c12/c1 count
    // aggs and their (w1[,w2])-keyed scoring joins against the ≤8·64·5
    // candidate bigrams, the per-candidate 5-term agg, the per-canary
    // rank/count window, and the repl/v 1-row builds — every
    // post-big relation is vocab- or candidate-bounded
    "q274_canary_exposure" -> 4,
    // q275: the scored ckpt's bin agg + the 1-row Brier/total
    // all-reduce + the ECE fold over the ≤10-row bin relation + the
    // spine sort — the scan itself is a pure narrow map
    "q275_calibration" -> 4,
    // q276: the doc_id-keyed cells×source join + the (source, cell)
    // partial agg inside the ckpt; per-source totals, the spine/grid
    // joins, the cell-keyed pair join, the pair agg, and the ≤|sources|²
    // sort all ride the |sources|×16-bounded histogram relation
    "q276_semantic_drift" -> 8,
    // q277: the ckpt'd ws relation's internals + the (source, n,
    // gram)-keyed count agg + the (source, n) rollup/sort over the
    // Heaps-bounded type relation
    "q277_distinct_ngrams" -> 3,
    // q278: q54's assignment lives behind its ckpt; this plan is the
    // cluster-size agg + the per-source agg (the weight joins ride
    // broadcast/AQE off the ckpt'd bounded relations)
    "q278_dedup_weights" -> 2,
    // q279: q278's two aggs (2) + q262's sweep shape (ranked window +
    // suffix frame + per-tid rollup over the broadcast pair build) +
    // the doc_id-keyed value join + the per-source value agg + the
    // |sources|-row report sort; q54's assignment and the q249 chain
    // sit behind their ckpts
    "q279_curation_closeout" -> 9,
    "q280_semantic_decontam" -> 1,
    "q281_minhash_calibration" -> 4,
    // q282: the doc⋈vec id join (2) + the two |sources| rollups
    "q282_embedding_integrity" -> 4,
    // q283: the (cent_id) occupancy agg + the 16-row spine join;
    // everything after runs on 16 rows
    "q283_ivf_skew" -> 2,
    // q284: the (decile, shingle) distinct + the shingle-keyed
    // first-seen agg + the 10-row decile rollup; max-id broadcast
    "q284_novelty_curve" -> 3,
    // q285: the (source, half, dim) partial agg off the posexplode
    // scan + the |sources|x64 pair/product rollups + the per-half
    // counts and their |sources| join; max-id broadcast
    "q285_embedding_drift" -> 5)

  // Sink lifecycle plans (SinkPlans registry) under the same net.
  // Budgets recorded from the r9 plans; regenerate by reading the
  // failure message after an intentional change.
  private val sinkBudget = Map(
    // hybridSearch: searchBm25's three (tf groupBy, df agg, doclens
    // co-key) + the sem-arm TakeOrdered's single exchange; all other
    // joins broadcast (one-row query vector, ≤arms candidate lists)
    "Retrieval.hybridSearch" -> 4,
    // warm form over the prepared handle: same composition with
    // doclens/totals/centroids read from cache — caching changes the
    // scan nodes, not the exchange count
    "Retrieval.hybridSearch.prepared" -> 4,
    // the three index-backed EVAL paths: every shuffle operates on a
    // bounded relation (per-query candidate lists, ≤|queries|·fetch
    // rows) or is a postings-side hash join keyed by the partition
    // column / vec_id — the corpus is never re-shuffled whole.
    // hybridMrr: searchBm25Batch's postings chain + two arms' ranked
    // windows + the fusion/eval tail, all candidate-bounded
    "Retrieval.hybridMrrFromIndexes" -> 11,
    "Retrieval.ndcgFromIndexes" -> 3,
    "Retrieval.semanticDecontamFromIndexes" -> 1,
    // hot-cell split reassignment: one cell's partition-pruned read,
    // ≤256-row sub-quantizer sample, 2-row broadcast assignment —
    // zero exchanges (the O(hot cell) claim in plan form)
    "VectorIndex.split.reassign" -> 0,
    // cluster index: edge discovery's visible plan is the one pair agg
    // past the checkpointed batch-shingle relation (the postings join
    // keys by (source, shingle) — the storage bucketing key); report =
    // the three additive rollups + the |sources| co-partition, with the
    // 1-row totals tail broadcast
    // append.edges (r15): the window→generator switch in shinglesWithN
    // surfaces the pair agg's exchange (see q24's note)
    "ClusterIndex.append.edges" -> 2,
    "ClusterIndex.report" -> 4,
    "ClusterIndex.compact.shingles" -> 1,
    "TextIndex.build.postings" -> 2,
    "TextIndex.build.doclens" -> 0,
    "TextIndex.build.stats" -> 1,
    "SpanIndex.build.grams" -> 1,
    "SpanIndex.build.dfs" -> 1,
    "SpanIndex.build.docs" -> 1,
    "DedupIndex.build.fingerprints" -> 0,
    "DedupIndex.build.bands" -> 1,
    "ContamIndex.build.postings" -> 1,
    "ContamIndex.build.docs" -> 2,
    "VectorIndex.build.assign" -> 1,
    "TextIndex.searchBm25" -> 3,
    "TextIndex.searchPhrase" -> 2,
    "SpanIndex.probe" -> 5,
    "DedupIndex.classify" -> 3,
    "ContamIndex.probe" -> 3,
    "VectorIndex.search" -> 1,
    "VectorIndex.searchAdc" -> 1,
    "VectorIndex.cellBalance" -> 3,
    "TextIndex.compact.postings" -> 1,
    "SpanIndex.compact.grams" -> 2,
    "DedupIndex.compact.fingerprints" -> 1,
    "ContamIndex.compact.postings" -> 1,
    "VectorIndex.compact.postings" -> 1,
    "VectorIndex.compactRetrain.assign" -> 1,
    // LmIndex: build = post-ckpt count agg (+ the range re-cluster for
    // bigrams); score/probeNext = the count-merge aggs (bigrams, c1,
    // words + its 1-row total) plus the batch-side (w1[,w2])
    // co-partitions the sort-merge count joins pick at this SF — at
    // scale the vocab-bounded count relations broadcast instead and
    // the batch side stays partition-local
    "LmIndex.build.bigrams" -> 2,
    "LmIndex.build.words" -> 1,
    "LmIndex.score" -> 6,
    // scoreKn: post-ckpt(c12) history/continuation/1-row-total aggs +
    // the batch-side co-partition for the (w1[,w2]) count joins;
    // at scale the vocab-bounded stats broadcast (LmIndex.score note)
    "LmIndex.scoreKn" -> 4,
    "LmIndex.probeNext" -> 6,
    "LmIndex.compact.bigrams" -> 2)

  test("no sink plan exceeds its shuffle budget") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val idxRoot = SinkPlansFixture.idxRoot
    val over = try {
      graft.sinks.SinkPlans.plans(spark, dir, idxRoot)
        .flatMap { case (name, mk) =>
          val n = mk().queryExecution.executedPlan.collect {
            case e: org.apache.spark.sql.execution.exchange
              .ShuffleExchangeExec => e
          }.size
          val b = sinkBudget.getOrElse(name, 0)
          if (n > b) Some(s"$name: $n > $b") else None
        }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(over.isEmpty,
      s"over budget (new shuffle?): ${over.mkString(", ")}")
  }

  test("every sink plan has a recorded budget") {
    assert(graft.sinks.SinkPlans
      .plans(spark, dir, SinkPlansFixture.idxRoot)
      .map(_._1).toSet == sinkBudget.keySet)
  }

  test("no query exceeds its shuffle budget") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val over = try {
      // parMap: plan construction is driver-latency-bound (see
      // TestSpark.parMap); the adaptive toggle is constant for the sweep
      TestSpark.parMap(
          SparkEntry.queries.toSeq.sortBy(_._1)) { case (name, fn) =>
        val n = fn(spark, dir).queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange
            .ShuffleExchangeExec => e
        }.size
        val b = budget.getOrElse(name, 0)
        if (n > b) Some(s"$name: $n > $b") else None
      }.flatten
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(over.isEmpty, s"over budget (new shuffle?): ${over.mkString(", ")}")
  }

  test("every query has a recorded budget") {
    assert(SparkEntry.queries.keySet == budget.keySet)
  }
}
