package graft

/** Pinned per-entry shuffle-exchange counts for [[PlanAuditSpec]]'s budget
  * lint — harvested from the prepared plans (AQE off, sf0.001) and treated
  * as a CEILING: an entry growing past its pin fails the suite. Re-pin
  * deliberately, with the rationale in the commit, never by reflex.
  * Notable pins: `sim_recall_gate` (26) runs all eight ANN constructions
  * plus the brute-force truth and the hit join — a declared verification
  * surface;
  * `pipeline_clean_corpus` (7) is the full multi-stage dedup funnel.
  */
object PlanAuditBudgets {
  val shuffles: Map[String, Int] = Map(
    "dedup_components" -> 0,
    // gram agg + the hinted shuffle-hash join back (the dup-key set is
    // corpus-proportional — deliberately NOT broadcast), the per-doc
    // islands window, and the final sort; all frames are gram- or
    // doc-sized, nothing is resident
    "text_substring_dedup" -> 4,
    // the char pass's 4 stages plus the id-stream derivation the token
    // pass rides on: the per-doc flatten agg (doc_id-keyed combinable
    // collect), the (doc_id, isl) span agg and per-doc rollup (separate
    // keys, both combinable) — every exchanged frame is gram-, stream-,
    // or doc-sized
    "text_substring_dedup_tokens" -> 7,
    // the id-stream flatten agg, the groupByKey(shard) packer exchange
    // (metadata rows only: (doc_id, tok_start, ilen)), the doc_id rejoin
    // of the packed items onto the streams, the (shard, bin_id) fill
    // window, the presentation sort — items/bins are corpus-metadata
    // scale, only the flatten agg and rejoin move the id arrays
    "pipeline_pack_tokens_bestfit" -> 6,
    // first-occurrence agg on the line key, the shuffle join back (dup
    // lines are corpus-proportional — deliberately NOT broadcast), the
    // per-doc reassembly agg, the presentation sort; every frame is
    // line- or doc-sized, map-side partial min absorbs hot-line skew
    "text_line_dedup" -> 4,
    // the final whole-corpus assignment (assignOne: argmax agg + join
    // back) feeds BOTH the cluster-count agg and the output join, so the
    // returned plan carries assignment agg/join ×2 (training rounds run
    // eagerly in materializeCodebook, not here) plus the presentation
    // sort; every exchanged frame is corpus- or codebook-sized
    "pipeline_cluster_mix" -> 5,
    // inverted-index build (distinct + df agg) reshuffles the corpus
    // shingle table on `s`, the prefix rank/candidate/intersection joins
    // rekey the PROBE-bounded tables (fragment side is tiny and
    // broadcast-eligible, but the corpus shingle index legs rekey on
    // (s) then (doc_id, s)), and the final sort adds the range exchange
    "dedup_containment" -> 8,
    "dedup_embedding_cosine" -> 2,
    "dedup_exact" -> 2,
    // append's returned plan is the wave-2 re-probe — same shape as the
    // wave-1 probe in dedup_incremental_batch (sig groupBy, bands, join,
    // verdict groupBy), hence the same pin
    "dedup_incremental_append" -> 4,
    // same returned plan (pruned wave-2 re-probe); the bucket-wise append
    // happens in foreachBatch before the returned frame is built
    "dedup_incremental_append_inplace" -> 4,
    "dedup_incremental_batch" -> 4,
    // identical probe shape; the point-lookup scan changes IO, not shuffles
    "dedup_incremental_batch_pruned" -> 4,
    "dedup_incremental_index" -> 1,
    "dedup_jaccard" -> 3,
    "dedup_jaccard_lsh_gated" -> 3,
    "dedup_minhash_lsh" -> 2,
    "dedup_minhash_sig" -> 2,
    "dedup_simhash" -> 2,
    "dedup_simhash_pairs" -> 2,
    "dedup_simhash_wide" -> 2,
    // token window pass (all four window fns share one doc_id exchange),
    // chunk agg reuses the partitioning, doc-text join, fp count-distinct
    // agg pair, presentation sort
    "dedup_cdc_chunks" -> 6,
    "dedup_substring_spans" -> 3,
    "mm_frame_features" -> 1,
    "mm_wav_features" -> 1,
    "mm_metadata" -> 1,
    "mm_ppm_pixels" -> 1,
    "mm_resize" -> 1,
    "pipeline_chunk_documents" -> 1,
    "pipeline_clean_corpus" -> 7,
    // the two changed-partition full-outer joins (one per diff) each
    // rekey both commit-sized sides on the MV key, plus the final sort;
    // every exchanged frame is commit-sized by the manifest-diff contract
    "pipeline_mv_cdf" -> 5,
    "pipeline_decontaminate" -> 3,
    // +1 vs the exact twin: the bloom-sketch scalar subquery's aggregate
    "pipeline_decontaminate_bloom" -> 4,
    // hash distinct + per-type rank window + sketch agg + two exact
    // countDistinct pairs + the sketch-sized merge re-rank + output sort:
    // the exact columns are the verification yardstick the entry ships
    // next to the sketch (the x_sketch_stats convention)
    "x_kmv_distinct" -> 10,
    // only three corpus-sized (all map-side-combined) exchanges: the
    // bucket histogram, the per-group count, and the exact-quantile
    // yardstick's value-distinct agg — the rest are bucket-/group-scale
    // (cum windows, est/exact argmins, n_buckets, presentation sort)
    "x_qsketch_quantiles" -> 10,
    // the batch plan minus the streamed histogram's two exchanges (the
    // sketch arrives as a localCheckpoint of the memory-sink end state)
    "stream_qsketch_quantiles" -> 8,
    // two full retrieval legs in one plan: the lexical side's postings/
    // df aggs + (query, doc) partial agg + rank window, the vector side's
    // rank window and the k·|queries|-scale fuse join — each leg keeps
    // exactly its standalone production shape; the rank-bounded output
    // is ordered without an exchange (RankedOrder)
    "text_hybrid_rrf" -> 10,
    // the indexed twin: pruned-postings (query, doc) agg + lex rank
    // window, the IVF probe's assignment/rank exchanges and the fuse
    // join — both corpus-scan legs replaced by index point lookups, so
    // every exchange is query- or bucket-proportional; the corpus totals
    // are a literal row, not an aggregate
    "text_hybrid_rrf_indexed" -> 7,
    // positional explode → broadcast term join, then the (q, doc, start)
    // vote agg, the per-doc occurrence agg and rank window — one
    // corpus-sized combinable exchange, the rest candidate-scale
    "text_phrase_search" -> 4,
    // the pruned-index twin: same alignment aggs/window, but the
    // exploded input is the phrase terms' bucketed position lists —
    // every exchange candidate-scale, the corpus never scanned
    "text_phrase_index" -> 4,
    // set-similarity join: the distinct-set agg, the df agg, the per-clip
    // prefix window, the candidate distinct and the intersection agg —
    // all set-/candidate-scale after the one frame-hash distinct
    "mm_clip_neardup" -> 5,
    // the rank-wave window's source exchange (shared by target and both
    // changeset legs), the changeset union's exchange, the key-keyed
    // full-outer join pair, and the presentation sort
    "x_merge_into" -> 5,
    // the returned verdict frame (stream already ran in foreground): two
    // exact countDistinct pairs, the sketch-sized merge agg, output sort
    "stream_kmv_distinct" -> 6,
    "pipeline_filter_funnel" -> 1,
    // canonical-keeper window (canon key), the salted phase-1 window
    // (domain×16 salts), the bounded phase-2 window (≤ Salts·Cap rows
    // per domain), the cap-flag join-back, presentation sort — the
    // two-phase cap deliberately SPENDS one extra exchange to keep the
    // head domain's population out of any single window partition
    "pipeline_url_dedup" -> 5,
    // one (epoch, shard) window exchange (rank + token sum share it) +
    // the presentation sort — the minimal shard-writer plan
    "pipeline_epoch_shuffle" -> 2,
    // the composed frontier: the broadcast rank leg carries the
    // pipeline_domain_rank iteration exchanges (domain-bounded frames,
    // pinned 11 standalone); the frontier's own legs are the host join,
    // the canon-keyed crawled-set join + keeper window, the salted
    // two-phase cap pair, the admitted join-back, the presentation sort —
    // every exchanged frame is link-, canon-, or domain-sized
    "pipeline_crawl_frontier" -> 16,
    // candidate derivation (host join) + the DOMAIN-bounded rule
    // pipeline (distinct domains, line window, ua join, has-bot agg,
    // picked join — every frame ≤ |domains|·|lines|), the per-candidate
    // argmax agg + join-back, the presentation sort
    "pipeline_robots_filter" -> 11,
    // the bucket rank window, the two batch-max aggs (bucket-keyed +
    // naive-keyed; both combinable groupBys, never a fat window), the
    // presentation sort
    "pipeline_length_buckets" -> 4,
    // THE POINT of the entry: the lineitem⋈orders join contributes ZERO
    // exchanges (both sides bucketed on the key at write time —
    // BucketedJoinSpec pins the join subtree); the budget is only the
    // aggregate's priority-key exchange + the presentation sort
    "x_bucketed_join" -> 2,
    // pruned lookup: the join is exchange-free AND the agg reuses the
    // bucket partitioning (o_orderkey ⊂ group keys) — only the
    // presentation sort exchanges
    "x_bucket_pruned_scan" -> 1,
    // the returned plan is scan-project over the cached feature frame
    // plus the presentation sort; the 4 training epochs run EAGERLY in
    // train() (one 33-sum agg each, weights-sized collect — the Lloyd
    // precedent), so they never appear in the entry's plan
    "pipeline_quality_classifier" -> 1,
    // two bucket-count aggs (raw + target), the 1024-row score build,
    // the per-doc agg, the one-row max, the presentation sort
    "pipeline_importance_sample" -> 6,
    "pipeline_pack_sequences" -> 2,
    "pipeline_split" -> 1,
    "pipeline_stratified_sample" -> 2,
    // group-count agg materializes in BOTH broadcast subtrees (rates join
    // + the scalar min over it), plus the min agg and the presentation
    // sort — all metadata-scale exchanges over ≤ |groups| rows
    "pipeline_temperature_sample" -> 4,
    "pipeline_weighted_sample" -> 1,
    "q1_parse" -> 1,
    "q2_global_bounds" -> 1,
    "q3_cluster_bounds" -> 2,
    "q4_knn_topk" -> 1,
    "q5_cluster_reuse" -> 2,
    "q6_info_loss" -> 3,
    "q7_generalize" -> 3,
    "q8_enrich" -> 1,
    "q9_fads_region_sharded" -> 1,
    "q9_fads_replay" -> 1,
    "q9_fads_replay_refmode" -> 1,
    "q9_fads_replay_refmode_raw" -> 1,
    "q9_fads_sharded" -> 1,
    "q9_inv_kanon" -> 1,
    "q9_inv_refmode" -> 1,
    "q9_inv_region" -> 4,
    "q9_inv_refmode_raw" -> 1,
    "q9_inv_replay" -> 1,
    // +3 for the capacity-aware gate: the per-shard distinct-PID agg pair
    // + its one-row broadcast onto the summary (metadata-scale rows)
    "q9_inv_sharded" -> 7,
    // the rank-bounded top-k entries below order their ≤ Q·k output rows
    // without an exchange (RankedOrder), one fewer than an orderBy
    "sim_bruteforce_topk" -> 1,
    "sim_bruteforce_agg_topk" -> 1,
    "sim_filtered_topk" -> 1,
    "sim_hard_negatives" -> 1,
    // the MMR rounds run over localCheckpoint-ed pool tables
    "sim_mmr_topk" -> 0,
    "sim_sq8_topk" -> 1,
    // the float/SQ8 persisted-IVF probes: query-batch-sized exchanges
    // after the list scan
    "sim_incremental_ivf" -> 2,
    "sim_incremental_ivf_append" -> 2,
    "sim_incremental_ivf_compact" -> 2,
    "sim_incremental_ivf_sq8" -> 2,
    "sim_incremental_ivf_sq8_append" -> 2,
    // 3 since the in-plan probe runs IvfIndex.topK, whose Float layout
    // broadcasts the Q·NProbe probe rows into the list join instead of
    // shuffling both sides of it
    "sim_ivf_topk" -> 3,
    // flat IVF's 3 plus the centroid→L1-cell assignment agg (codebook-
    // sized rows; the query-side L1/fine rank windows ride the same
    // Q-partitioned exchanges the flat probe already pays); 4 since the
    // probe broadcast above
    "sim_ivf2_topk" -> 4,
    "sim_ivf_trained_topk" -> 3, // flat IVF's shape over trained centroids
    // IVF-PQ composes three indexes (coarse lists, per-subspace codes,
    // candidate ADC) plus an exact re-rank join — each stage shuffles once
    "sim_ivfpq_topk" -> 8,
    // persisted-PQ probe: the ADC sum is a (q_id, vec_id)-keyed aggregate
    // over the exploded (m, code) rows (one shuffle the SQ8 integer-dot
    // probe doesn't pay), plus the ark window and exact re-rank join —
    // all query-batch-sized after the list scan
    "sim_incremental_ivf_pq" -> 3,
    // residual layout: same probe shape (assignment agg/join, ADC agg,
    // re-rank window); the coarse-term join is a broadcast against the
    // bounded codebook — no extra exchange
    "sim_incremental_ivf_pq_res" -> 3,
    // OPQ probe = the residual probe shape (rotation is a projection,
    // not an exchange): same 3 stages — probe-set rank, ADC agg, exact
    // re-rank rank
    "sim_incremental_ivf_opq" -> 3,
    "sim_incremental_ivf_pq_res_append" -> 3,
    "sim_incremental_ivf_pq_append" -> 3,
    // the probe's 4 plus the hist brute-force truth (its top-k window +
    // hit join + two scalar aggregates) — a declared verification surface
    "sim_ivfpq_idx_recall_gate" -> 8,
    "sim_label_centroids" -> 2,
    "sim_lsh_topk" -> 1,
    "sim_pq_topk" -> 3,
    // runs all SIX ANN constructions incl. IVF-PQ; +3 in r11 for the
    // multi-table LSH member (explode-keyed candidate join + dedup)
    // 38 since the SQ8 method joined the panel (7 constructions + truth)
    // 39 since the SQ8-stored-IVF construction joined (8 constructions)
    // 30 since each construction's rank-bounded top-k is ordered without
    // a range exchange (RankedOrder)
    // 26 since the ivf and ivf_trained constructions broadcast their
    // probe rows into the list join (2 each, as in sim_ivf_topk)
    "sim_recall_gate" -> 26,
    // ×10 gate: brute-force truth + one IVF construction over the derived
    // corpus (windows for both top-ks, assignment, probe set, hit join) —
    // a declared verification surface, constant methods regardless of sf
    // 12 since r13: the SQ8-stored construction joined (quantized ADC
    // window, exact re-rank join, its hit join)
    // 16 since r14: the PQ-coded construction joined (sub-code argmin
    // window, ADC aggregate, cut window, its hit join) — all three list
    // layouts now recall-gate at ×10
    // 14 since the float construction runs IvfIndex.topK: its probe rows
    // are broadcast into the list join instead of shuffling both sides
    "sim_recall_gate_x10" -> 14,
    "sim_lsh_multi_topk" -> 2, // bucket join, candidate dedup
    // ceiling pinned at the AQE-off static count; the assignment agg runs
    // inside the cached `assigned` relation, which the count does not enter
    "sim_semdedup" -> 3,
    "sql_shared_big_spenders" -> 2,
    "sql_shared_correlated_subquery" -> 2,
    "sql_shared_discount_revenue" -> 2,
    "sql_shared_grouping_sets" -> 2,
    "sql_shared_intersect" -> 2,
    "sql_shared_left_join" -> 2,
    // verdict tail over the streamed sketch (memory-sink scan): token
    // count agg, candidate-min agg, presentation sort
    "stream_cms_heavy" -> 4,
    "stream_dedup_first" -> 2,
    "stream_fads_region_sharded" -> 0,
    "stream_incremental_dedup" -> 3,
    // the codebook's one-row collect_list agg (broadcast as one array) and
    // the presentation sort; the list rows are a broadcast static side
    "stream_incremental_ivf" -> 2,
    "stream_incremental_ivf_sq8" -> 2,
    "stream_interval_join" -> 1,
    "stream_partitioned_sink" -> 2,
    "stream_session_counts" -> 2,
    "stream_sliding_counts" -> 2,
    "stream_static_enrich" -> 2,
    "stream_window_counts" -> 2,
    // stateless doc-routing core: payload agg + presentation sort (the
    // pruned stats join the broadcast query terms; the corpus totals are
    // a literal row, not an aggregate)
    "stream_bm25_route" -> 2,
    "taxi_fads_replay" -> 1,
    // BM25 full-scan baseline: tf agg, df agg, meta agg, (q,doc) score
    // agg, per-query top-k window, + the broadcast qstats subtree's own
    // agg — the verification anchor; the production path is the index
    // probe at 2
    "text_bm25_topk" -> 6,
    // build readback: per-bucket aggs over postings (distinct-term double
    // agg) and stats, summary join
    "text_bm25_index" -> 4,
    // pruned probe: score agg, top-k window — postings arrive
    // pre-bucketed, no build-side shuffles; the corpus totals are a
    // literal row and the bounded output is ordered without an exchange
    "text_bm25_index_topk" -> 2,
    // returned plan = the same pruned probe over the augmented index
    // (the bucket-wise upsert runs before the returned frame is built)
    "text_bm25_append" -> 2,
    // two-phase exact pruning is 3 more exchanges than the plain probe
    // by design: the θ window + per-query agg (phase 1), the
    // (query, blk) upper-bound agg, and the survivors semi join — the
    // spend that removes pruned blocks' rows from the scoring shuffle
    "text_bm25_blockmax" -> 6,
    // the returned plan is the same block-max probe (the bucket-wise
    // merge ran in the upsert sink before this frame was built)
    "text_bm25_blockmax_append" -> 6,
    // the block-max probe's 6 + the admission accounting the skewed gate
    // carries in-plan: candidate distinct + per-query count, survivor
    // count, and the acct join onto the top-k — all queries×blocks-scale
    // rows AFTER the bound aggs, spent to make the prune rate hash-checked
    "text_bm25_blockmax_skewed" -> 10,
    // the composed 5-stage prepare DAG: md5-dedup window, eval-gram
    // distinct + contamination join + candidate distinct + anti join,
    // shard agg, and the per-stage count aggregates the long-format
    // accounting unions — one pipeline deliberately spending each
    // stage's one shuffle. 22 since r14: the MinHash-LSH near-dup stage
    // joined the DAG (signature agg, band self-join, candidate-driven
    // shingle confirm, sizes, pair distinct — the jaccardLshGated shape,
    // whose identical subtrees land as static exchange nodes here but
    // dedupe through ReuseExchange at runtime; keepers is checkpointed so
    // the quality+dedup prefix is computed once); measured 4.1 s at sf0.1
    "pipeline_e2e_prepare" -> 22,
    // the DEPLOYMENT twin of e2e_prepare: each stage frame is
    // checkpoint-truncated (exact/base-probe/batch-gated/gram-decon/
    // accept run ONCE however many accounting branches consume them), so
    // the audited plan carries only the per-stage count aggs, the
    // frozen-weight scoring join, the pruned band re-probe (sig agg +
    // band join + verdict agg), the line-index probe joins, and the
    // fingerprint agg — every exchanged frame is batch- or
    // eval-suite-sized, never base-corpus-sized
    "pipeline_e2e_refresh" -> 19,
    // the interleave+pack composition: per-doc stream flatten agg, the
    // sentence-argmax agg, the splice-offset agg (all doc-keyed and
    // combinable), the per-shard pack window, the presentation sort; the
    // vocab table and codec vector passes add none (broadcast join +
    // partition-local mapPartitions)
    "mm_interleaved_pack" -> 5,
    // the drift-refresh composition: brute-truth rank window, two probe
    // pipelines (each: assignment agg + rank window + candidate join on
    // c_id), the two recall-count aggs, and the presentation sort — the
    // Lloyd re-train's KmRounds combinable scans and the re-code write
    // run eagerly before the returned plan; every exchanged frame is
    // query-batch- or codebook-sized except the one-time re-code
    "sim_ivf_refresh" -> 11,
    "taxi_inv_replay" -> 1,
    "taxi_parse" -> 1,
    "text_bigrams" -> 1,
    // 8 weighted-PageRank iterations over the CACHED vocab-bounded edge
    // list: bigram agg + out-weight agg + nodes distinct land in the
    // cached subtrees; each iteration's in-edge agg reuses the edge
    // partitioning, leaving the iteration aggs + presentation sort
    "text_textrank" -> 9,
    // the same 8-iteration rank loop over the CACHED domain edge list;
    // derivation (page distinct, link equi join, edge/out-weight aggs)
    // lands in the cached subtrees, leaving the iteration aggs + sort
    "pipeline_domain_rank" -> 11,
    // deletion-neighborhood blocking: vocab agg (shared by both variant
    // sides and the count join), variant equi join, candidate distinct,
    // verdict join, presentation sort — all vocab-scale after the one
    // corpus-sized word count
    "text_fuzzy_match" -> 5,
    // corpus-trained trigram LM: c3 agg, prefix agg, per-doc agg, and the
    // final presentation sort — train+score is four exchanges by design
    "text_lm_score" -> 4,
    "text_fingerprint" -> 1,
    "text_langid" -> 1,
    "text_pii_redact" -> 1,
    "text_quality" -> 1,
    "text_repetition" -> 1,
    "text_tfidf" -> 6,
    "text_tokens" -> 1,
    "text_vocab" -> 2,
    "tpch_q10_returned_items" -> 1,
    "tpch_q11_important_stock" -> 3,
    "tpch_q12_lateness" -> 2,
    "tpch_q13_order_distribution" -> 3,
    "tpch_q14_promo_revenue" -> 1,
    "tpch_q15_top_supplier" -> 4,
    "tpch_q16_part_supplier_counts" -> 3,
    "tpch_q17_small_quantity" -> 2,
    "tpch_q18_large_orders" -> 1,
    "tpch_q19_banded_revenue" -> 1,
    "tpch_q1_pricing" -> 2,
    "tpch_q20_dominant_suppliers" -> 5,
    "tpch_q21_waiting_suppliers" -> 4,
    "tpch_q22_sales_opportunity" -> 3,
    "tpch_q2_min_cost_supplier" -> 2,
    "tpch_q3_top_orders" -> 1,
    "tpch_q4_priority_check" -> 2,
    "tpch_q5_region_volume" -> 2,
    "tpch_q6_forecast" -> 1,
    "tpch_q7_volume_shipping" -> 2,
    "tpch_q8_market_share" -> 2,
    "tpch_q9_product_profit" -> 2,
    "x_agg_stats" -> 3,
    "x_array_funcs" -> 1,
    "x_asof_join" -> 3,
    "x_bloom_semi_join" -> 3,
    "x_bounds_agg" -> 2,
    // token count agg, 64-cell sketch agg, candidate-min agg (broadcast
    // joins contribute none), final presentation sort
    "x_cms_heavy" -> 4,
    "x_cohort_retention" -> 4,
    "x_corr_stats" -> 2,
    "x_csv_gzip_roundtrip" -> 2,
    "x_csv_permissive" -> 1,
    "x_cube" -> 2,
    "x_data_quality" -> 4,
    // dim distinct agg, final agg, presentation sort; the fact join is a
    // broadcast (DPP subquery reuses the dim exchange)
    "x_dpp_join" -> 4,
    "x_date_funcs" -> 1,
    "x_dense_ids" -> 2,
    "x_equidepth_bins" -> 4,
    "x_explode" -> 2,
    "x_funnel" -> 4,
    "x_gapfill" -> 2,
    // per-user densify + forward fill: bucket agg, span agg (reuses the
    // bucket partitioning for the dense join + window), presentation sort
    "x_gapfill_ffill" -> 3,
    "x_grouping_id" -> 2,
    "x_histogram" -> 3,
    "x_hll_rollup" -> 5,
    "x_hof_funcs" -> 1,
    "x_join_agg" -> 2,
    "x_json_parse" -> 1,
    "x_jsonl_roundtrip" -> 2,
    "x_latest_by_key" -> 2,
    "x_moment_stats" -> 2,
    "x_orc_roundtrip" -> 2,
    "x_outer_join" -> 3,
    "x_partitioned_roundtrip" -> 2,
    // r10: Ids.contiguousBy rank — the extra exchanges over the old 3 are
    // the bucketed-rank scaffolding (per-(rf,bucket) counts agg, the
    // prefix-offset window over the ≤3×32-row counts frame, and the
    // (rf,bucket)-keyed rank window); all but the rank window move
    // metadata-scale frames, and the rank window replaced a
    // parallelism-3 sort with 3×shuffle-partitions spill-safe sorts
    "x_percentiles" -> 7,
    "x_pivot" -> 3,
    "x_range_join" -> 2,
    "x_rollup" -> 2,
    "x_scalar_funcs" -> 1,
    "x_scd2" -> 2,
    "x_semi_anti" -> 1,
    "x_sessionize" -> 2,
    "x_setops" -> 2,
    "x_setops_all" -> 3,
    "x_sketch_stats" -> 6,
    "x_skew_join" -> 2,
    "x_snapshot_diff" -> 3,
    "x_sort_limit" -> 0,
    "x_string_agg" -> 2,
    "x_time_range_frame" -> 2,
    "x_unpivot" -> 2,
    "x_window_distribution" -> 2,
    "x_window_frames" -> 2,
    "x_window_rank" -> 2,
  )
}
