package graft.plans

import graft.{SparkEntry, SparkSpec, Tables}
import graft.operators.{Dedup, Pca, Quality, Scd, Selection, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The 100 TB plan-shape gate over EVERY gate query, plus the operator
  * calls no query's returned plan carries (`operatorGate`): each runs at
  * sf0.001 and its EXECUTED plan must carry no CartesianProduct, no
  * BroadcastNestedLoopJoin outside the designed-broadcast allowlist, and
  * no partitionless WindowExec over unaggregated rows. A future query
  * that ships a single-task window or an accidental cross join fails
  * `sbt test`, not a 100 TB run.
  */
class PlanGateSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** Queries whose plan legitimately contains a BroadcastNestedLoopJoin:
    * every entry broadcasts a side that is SMALL BY CONSTRUCTION
    * (a bounded query batch, k centroids, a 1-row corpus-stats frame, a
    * benchmark slice) against the corpus scan — the designed ANN /
    * scoring shape, not an accident. Anything not listed here must plan
    * hash or sort-merge joins only.
    */
  private val allowBnlj: Set[String] = Set(
    "q26_ann_topk",        // 50-query batch broadcast vs corpus
    "q130_sq8_ann",        // 10-query decoded-code batch broadcast (q26 shape)
    "q27_embedding_neardup", // bounded candidate batch broadcast
    "q42_lsh_ann",         // query batch broadcast into probed buckets
    "q53_late_tag",        // 1-row max-event-time frame broadcast (tagLate)
    "q112_late_tag_sql",   // same 1-row max frame, via CROSS JOIN in SQL text
    "q60_ivf_ann",         // query batch + nlist centroids broadcast
    "q78_pq_ann",          // query batch + codebooks broadcast
    "q79_pq_rerank",       // shortlist rerank: query batch broadcast
    "q81_decontam",        // benchmark slice broadcast vs corpus
    "q84_bm25",            // query terms + corpus stats (1 row) broadcast
    "q85_semantic_dedup",  // bounded embedding-pair candidates
    "q87_unigram_logprob", // 1-row total-token stats broadcast
    "q134_bigram_lm",      // 1-row vocabulary-size frame broadcast (q87 shape)
    "q137_ccnet_buckets",  // composes q134's bigram LM (same 1-row vocab frame)
    "q141_ccnet_buckets_sketch", // same LM chain, sketch-threshold tier map
    "q92_curation_pipeline", // composes unigram scoring above
    "q94_quality_band",    // per-band totals (bounded) broadcast
    "q96_tfidf_terms",     // 1-row doc-count stats broadcast
    "q98_rp_rerank",       // query batch broadcast (RP shortlist + rerank)
    "q99_token_budget",    // bounded band-totals broadcast
    "q102_kmeans",         // k centroids broadcast in argmin assignment
    "q103_cluster_sample", // k centroids + per-cluster quotas broadcast
    "q116_bm25_retrieval", // 1-row corpus-stats frame broadcast (q84 shape)
    "q120_hybrid_rrf",     // dense arm: query batch broadcast (q26 shape)
    "q122_hits",           // 1-row max-normalizer broadcast per half-step
    "q124_ivfpq_ann",      // probe batch + ADC tables broadcast (q60/q78)
    "q127_retrieval_eval", // searchBm25's 1-row corpus-stats broadcast (q116)
    "q151_pmi_pairs",      // 1-row matrix-total frame broadcast (q87 shape)
    "q154_word_subsample", // 1-row corpus-total frame broadcast (q87 shape)
    "q163_hard_negatives", // searchBm25's 1-row corpus-stats broadcast (q116)
    "q164_score_blend",    // composes q134's bigram LM (1-row vocab frame)
    "q169_score_blend_sketch", // same LM chain; pct tables broadcast by design
    "q189_skew_report",    // 1-row totals frame broadcast (q84/q87 shape)
    "q199_join_fanout",    // same 1-row totals broadcast (q189 shape)
    "q190_heavy_hitters",  // 1-row exactness-certificate stats broadcast
    "q200_adaptive_stopwords", // composes exactTopK (same 1-row cert frame)
  )

  /** Per-query shuffle-exchange budget (distinct ShuffleExchangeLike
    * nodes in AQE's FINAL executed plan — reused exchanges count once).
    * Every Exchange is a full network rewrite of the data, so at 100 TB
    * an unbudgeted one is the regression that matters most. Each query's
    * gate test records its measured count at sf0.001 as an `info` line
    * (`"<query>" -> <n>,`) in this spec's own output; an intentional plan
    * change copies the new count here, an accidental
    * `repartition`/lost-broadcast fails here. Queries whose operators
    * run their own jobs during CONSTRUCTION (the CC loop) are budgeted
    * on the final returned plan only — the loop's internal shuffles are
    * gated by ClustersSpec's "CC loop rounds" test instead.
    */
  private val exchangeBudget: Map[String, Int] = Map(
    "q01_pricing_summary" -> 2,
    "q02_filter_pushdown" -> 0,
    "q03_join_agg" -> 2,
    "q04_broadcast_dims" -> 1,
    "q05_topn_per_group" -> 2,
    "q06_argminmax" -> 2,
    "q07_distinct_agg" -> 3,
    "q08_semi_anti" -> 3,
    "q09_setops" -> 6,
    "q100_det_shuffle" -> 1,
    "q101_length_batches" -> 1,
    "q102_kmeans" -> 1,
    "q103_cluster_sample" -> 3,
    // round 18: 2 exchanges but strictly fewer bytes — the variant-key
    // groupBy (strings cross ONCE; the old self-join's reused exchange
    // shipped them twice and sorted) plus the post-verify distinct,
    // which now moves only matched pairs (~2% of candidates). Tight:
    // the measured count at 1, 4, 7 and 8 cores, so one more fails
    "q104_edit_distance_pairs" -> 2,
    "q105_edjoin_dist2" -> 2,
    "q106_window_frames" -> 1,
    "q107_salted_join" -> 1,
    "q108_zorder" -> 1,
    "q109_image_decode" -> 1,
    "q110_image_resize" -> 1,
    "q111_audio_meta" -> 1,
    "q115_boilerplate" -> 5,
    "q116_bm25_retrieval" -> 7,
    "q117_weighted_sample" -> 0,
    "q118_bpe_pairs" -> 2,
    // 2 unrolled iterations live in the final plan (lineage is only cut
    // every checkpointEvery rounds); per-round shapes gated by GraphsSpec.
    // Tight: the measured count at 1, 4, 7 and 8 cores, so one more fails
    "q119_pagerank" -> 7,
    "q120_hybrid_rrf" -> 8,
    "q121_url_canonical" -> 3,
    // hits cuts lineage at every half-step's raw aggregate (the audit
    // measured 157 exchange nodes without that cut — plan doubling per
    // half-step); superseded pins are freed keep-newest-2 as the loop
    // advances, so the final plan is the last two half-steps' joins
    "q122_hits" -> 6,
    // the corpus pass is a treeAggregate during CONSTRUCTION (the CC
    // loop precedent); the returned frame is the model-sized local
    // moment table + its output-sort range exchange
    "q123_pca_gramian" -> 1,
    // broadcast-q scored scan + per-query rank window + output sort;
    // the fit's model-sized agg happens before the returned plan
    "q130_sq8_ann" -> 2,
    // front-door windows (2) + co-occurrence dedup/rank + edge join +
    // 2 unrolled pagerank iterations (join+agg each, uncheckpointed at
    // iters=2) + host-dim map-back and output sort — composed chain,
    // q128 precedent
    "q129_host_pagerank" -> 9,
    // zero-shuffle sorted-run-length folds; only the output sort exchanges
    "q131_repetition" -> 1,
    "q132_linededup" -> 1,
    // explode feeds a bucket-keyed partial agg (64 groups) + output sort
    "q133_quality_grad" -> 2,
    // the LM chain (q87's shape plus the history/conditional tier) runs
    // once per session into the pinned SharedLm frame, so the returned
    // plan reads that checkpoint: only the output sort exchanges
    "q134_bigram_lm" -> 1,
    // front-door windows (2) + host rollup + output sort; repetition
    // stats themselves are shuffle-free (RepetitionSpec pins that)
    "q135_host_signals" -> 4,
    // the respread repartition (single-split fixture; no-op on a real
    // corpus) + the output sort; the feature-dist agg runs at
    // CONSTRUCTION into the driver-held SharedDsir table, and the
    // scoring map closes over its λ array
    "q136_dsir" -> 2,
    // q134's pinned LM frame + the per-language NTILE window + output sort
    "q137_ccnet_buckets" -> 2,
    // segment digest first-occurrence agg + keep semi-join + doc-keyed
    // totals/rebuild + output sort
    "q138_line_dedup_corpus" -> 4,
    // the respread repartition only: the scoring pass is map-only and
    // the selection is TakeOrdered (per-partition heaps, no sort
    // exchange)
    "q139_dsir_select" -> 1,
    // one |strata|-row count agg (driver planning metadata) + the
    // rollup agg; the mix filter itself is a pure map
    "q140_temperature_mix" -> 2,
    // q134's pinned LM frame + output sort; the histogram sketch + threshold
    // derivation run at CONSTRUCTION (q123 precedent) and the tier map
    // is a row-local literal — no NTILE window, no per-language sort
    "q141_ccnet_buckets_sketch" -> 1,
    // anchor-digest keep-first agg + (digest,id,pos) anti join +
    // doc-keyed loser collect + rebuild join + output sort, plus the
    // respread repartition on both chain arms (single-split fixture;
    // no-op on a real corpus — the q136 budget precedent)
    // the dedup runs at CONSTRUCTION into the session-shared
    // SharedSpanDedup checkpoint (q146 consumes the same frame); the
    // returned plan is checkpoint scan + output sort
    "q142_exactsubstr_dedup" -> 1,
    // gradient agg runs at CONSTRUCTION (bounded collect, λ discipline);
    // the returned plan is a pure scoring map + output sort
    "q143_classifier_score" -> 1,
    // q85's shape on the code tier: SQ8 fit + CC loop run at
    // CONSTRUCTION; the returned labels frame is loop-final (q85
    // precedent: budget 0)
    "q144_sq8_semantic_dedup" -> 0,
    // the (bucket, cls)-keyed corpus agg runs at CONSTRUCTION (bounded
    // collect) and the grid is finished on the driver; the returned plan
    // is the local grid + output sort
    "q145_langid_softmax_grad" -> 1,
    // composed chain: the dedup + filter + label frame materializes
    // ONCE at construction (localCheckpoint, Retrieval.buildIndex
    // discipline) and the gradient agg runs there too (q143); the
    // returned plan is checkpoint scan + scoring map + n_removed
    // self-join + TakeOrdered
    "q146_curation_select" -> 2,
    // gradient grid runs at CONSTRUCTION (bounded collect); the typed
    // scoring map + output sort is the whole returned plan
    "q147_softmax_score" -> 1,
    // q142's shape plus the corpus-digest distinct + membership anti
    // join and a second respread (both arms of the fixture are
    // single-split); only incoming rebuilds
    "q148_exactsubstr_incremental" -> 6,
    // typed flatMap pair generation is map-side; ONE pair-keyed agg
    // + output sort
    "q149_skipgram_pairs" -> 2,
    // reference-shingle distinct + the shuffled overlap join's corpus
    // side + per-doc agg (the whole point: NO broadcast of the
    // reference corpus — ClustersSpec pins the join operator)
    "q150_decontam_shuffle" -> 3,
    // pair matrix reads its construction-time checkpoint; marginal agg
    // + the two vocab-keyed joins + output sort (the 1-row total
    // broadcasts — allowBnlj)
    "q151_pmi_pairs" -> 3,
    // (doc, token) counts + doc rollup + output sort
    "q152_token_entropy" -> 3,
    // split assignment is map-only; distinct-host report agg (expand)
    // + final agg + output sort
    "q153_host_split" -> 3,
    // vocab freq agg + survival join's token side + doc rollup +
    // output sort (the 1-row total broadcasts — allowBnlj)
    "q154_word_subsample" -> 4,
    // vocab freq agg; top-V is TakeOrdered and the prefix window +
    // output sort run over the ≤ maxVocab-row single partition
    "q155_negative_sampling" -> 1,
    // both digest sides' join exchanges + the 4-group agg + output
    // sort (payload = id/digest/length — never the texts)
    "q156_corpus_diff" -> 4,
    "q124_ivfpq_ann" -> 3,
    "q125_distinct_sketch" -> 2,
    "q126_hist_quantiles" -> 3,
    "q127_retrieval_eval" -> 11,
    // chained pipeline: front-door windows + boilerplate shuffles +
    // rollup, composed (the q92 chain-budget precedent)
    "q128_web_pipeline" -> 9,
    "q10_histogram" -> 2,
    "q11_interval_join" -> 0,
    "q12_window_tumble" -> 1,
    "q13_window_slide" -> 1,
    "q14_session_window" -> 1,
    "q15_cep_3error" -> 1,
    "q16_count_window" -> 1,
    "q17_running_total" -> 1,
    "q18_pivot_daily" -> 2,
    "q19_props_extract" -> 2,
    "q20_doc_stats" -> 3,
    "q21_dedup_exact" -> 3,
    "q22_quality_buckets" -> 2,
    // round 18: +2 — the per-doc sizes now derive from the bucket
    // exchange (one fewer corpus shingling scan; the sizes count and
    // the reused bucket read are cheap exchanges of already-aggregated
    // rows)
    "q23_ngram_jaccard" -> 3,
    "q24_minhash_lsh" -> 1,
    "q25_fingerprint" -> 0,
    "q26_ann_topk" -> 1,
    "q27_embedding_neardup" -> 0,
    "q28_rollup" -> 2,
    "q29_cube" -> 1,
    "q30_correlated" -> 3,
    "q31_date_functions" -> 2,
    "q32_string_functions" -> 0,
    "q33_composite_key_having" -> 2,
    "q34_global_agg" -> 2,
    "q35_sql_text" -> 2,
    "q36_sql_window" -> 1,
    "q37_percentiles" -> 2,
    "q38_array_agg" -> 2,
    "q39_null_handling" -> 2,
    // round 18: +2 — Respread.cores spreads the md5 signature pass on
    // the single-split LOCAL fixture (no-op on a many-split corpus);
    // the budget is measured at sf0.001 where the guard fires
    "q40_simhash_neardup" -> 1,
    "q41_lang_id" -> 1,
    "q42_lsh_ann" -> 1,
    "q43_bloom_distinct" -> 2,
    "q44_minhash_fast" -> 1,
    "q45_binary_meta" -> 3,
    "q46_multimodal_pipeline" -> 0,
    "q47_asof_join" -> 1,
    "q48_dedup_keep_first" -> 1,
    "q49_native_topk" -> 1,
    "q50_simhash_md5" -> 1, // round 18: +2, the q40 Respread.cores note
    "q51_blacklist" -> 5,
    "q52_order_timeout_cep" -> 1,
    "q53_late_tag" -> 3,
    "q54_salted_agg" -> 2,
    "q55_wordcount" -> 1,
    "q56_approx_distinct" -> 2,
    "q57_session_dynamic_gap" -> 1,
    "q58_deep_join" -> 1,
    "q59_decode_partitioned" -> 0,
    "q60_ivf_ann" -> 3,
    "q61_sliding_count_window" -> 1,
    "q62_grouping_sets" -> 1,
    "q63_simhash_exact" -> 2, // round 18: +2, the q40 Respread.cores note
    "q64_token_count" -> 2,
    "q65_corpus_select" -> 6,
    "q66_range_join" -> 3,
    "q67_approx_percentile" -> 2,
    "q68_consistent_sample" -> 2,
    "q69_split_by_hash" -> 2,
    "q70_rep_quality" -> 4,
    "q71_frame_sampling" -> 3,
    "q72_seq_packing" -> 3,
    "q73_pack_summary" -> 4,
    "q74_stratified_sample" -> 2,
    "q75_corpus_mix" -> 2,
    "q76_token_chunks" -> 0,
    "q77_token_mix" -> 2,
    "q78_pq_ann" -> 1,
    "q79_pq_rerank" -> 1,
    "q80_dup_clusters" -> 0,
    "q81_decontam" -> 2,
    "q82_pii_redact" -> 2,
    "q83_normalize" -> 3,
    "q84_bm25" -> 1,
    "q85_semantic_dedup" -> 0,
    "q86_incremental_dedup" -> 3,
    "q87_unigram_logprob" -> 4,
    "q88_data_card" -> 3,
    "q89_dup_spans" -> 3,
    "q90_cluster_dedup" -> 6,
    "q91_epoch_replication" -> 3,
    // round 19: 21 -> 5 — the dedup+decontaminate chain pins its
    // survivor-id DECISION (ids-only localCheckpoint) and both branches
    // semi-join the base scan, so the duplicated chain subtree (and its
    // 16 exchanges) left the returned plan
    "q92_curation_pipeline" -> 5,
    "q93_heavy_hitters" -> 0,
    "q94_quality_band" -> 7,
    "q95_random_projection" -> 0,
    "q96_tfidf_terms" -> 6,
    "q97_source_overlap" -> 4,
    "q98_rp_rerank" -> 1,
    "q99_token_budget" -> 5,
    "q112_late_tag_sql" -> 3,
    "q113_session_gap_sql" -> 1,
    "q114_video_meta" -> 1,
    // round-12 analytics tier: rollup/pivot/unpivot are ONE aggregate
    // shuffle + the output sort; winsorize/moving-window add the
    // partitioned rank/frame window's key shuffle.
    "q157_token_cube" -> 2,
    "q158_lang_pivot" -> 3,
    "q159_metrics_unpivot" -> 2,
    "q160_winsorized_len" -> 3,
    "q161_moving_window" -> 3,
    "q162_corr_moments" -> 2,
    // BM25 index build + qrels all-terms chain + search agg + windows
    "q163_hard_negatives" -> 10,
    // LM chain is SharedLm-checkpointed; blend windows share one
    // lang-keyed shuffle
    "q164_score_blend" -> 2,
    // funnel: 3 user-keyed conditional-min aggs + their join legs +
    // 3 single-row count aggs feeding the union
    "q165_funnel" -> 7,
    "q166_retention" -> 4,
    // asOfJoin's one keyed window shuffle + daily agg + sort
    "q167_attribution" -> 3,
    "q168_cube_sql" -> 2,
    // round-13 tier. q169: the fused histogram + percentile sketch runs
    // at CONSTRUCTION into a bounded localCheckpoint and the blend
    // threshold collects there too; the returned plan is scan +
    // broadcast pct joins + band rank window + output sort — the corpus
    // is never re-keyed.
    "q169_score_blend_sketch" -> 2,
    // histogram agg + sketch-row cum windows + final clamp agg + sort —
    // no rank window over corpus rows anywhere
    "q170_winsorized_sketch" -> 4,
    // ONE user-keyed groupByKey shuffle + the 3-row stack's single agg
    "q171_windowed_funnel" -> 2,
    // one Expand + distinct-agg pair on the grouping-set key + sort
    "q172_distinct_cube" -> 3,
    // SQL-text twins: same plans as q166/q167's DataFrame forms
    "q173_retention_sql" -> 4,
    "q174_attribution_sql" -> 3,
    // q171's user-keyed fold + per-step explode agg + sort
    "q175_funnel_latency" -> 2,
    // one user-keyed CRDT aggregate + the variant report agg + sort
    // (the Experiment operator dropped the old converted-join chain:
    // 5 → 3 exchanges, every stage |users|-bounded after the first)
    "q176_ab_report" -> 3,
    // daily rollup + the trailing-week RANGE window on event_type +
    // output sort; the z-test itself is row-local integer arithmetic
    "q177_daily_anomaly" -> 3,
    // user-keyed lag/sid windows share ONE shuffle; session + size
    // rollups add the rest
    "q178_session_stats" -> 3,
    // one Expand + map-side-combined HLL agg (shuffle rows = grouping-set
    // key + KB sketch) + output sort — the exact q172 tier's
    // distinct-triple traffic is gone
    "q179_distinct_cube_hll" -> 2,
    // two batch cubes (Expand+agg each share the parity-filtered scan
    // exchanges via AQE) + the cells-sized union-merge agg + sort
    "q180_cube_merge" -> 3,
    // SQL-text funnel: two user-keyed EXISTS semi joins (broadcast at
    // test scale), a distinct per step, three scalar-agg branches
    "q181_funnel_sql" -> 7,
    // q176's user aggregate + report agg + the 1-row pivot; the z² test
    // itself is row-local DECIMAL(38,0) arithmetic
    "q182_ab_significance" -> 3,
    // q126's two keyed aggregates + sort; the discovery pass is one
    // bounded min/max aggregate at CONSTRUCTION (not in the returned plan)
    "q183_auto_quantiles" -> 3,
    // exact tier: activity distinct + days + dau agg + the 7-day
    // contribution explode/join/distinct/agg + report join/sort —
    // every stage activity-bounded (≤ |users|·|days|), never event-bounded
    "q184_dau_wau" -> 7,
    // production tier: ONE daily sketch aggregate touches events; the
    // window union + report run over |days|·7 KB sketch rows
    "q185_dau_wau_sketch" -> 5,
    // user-keyed LAG window + the pair aggregate + the prev-keyed
    // probability window (|types|²-bounded rows) + sort
    "q186_transition_matrix" -> 4,
    // q181's EXISTS semi-join shape + per-user MIN aggregates + the
    // two scalar-agg step branches
    "q187_funnel_latency_sql" -> 6,
    // one user-keyed pair join + the p_id credit window + the day rollup
    "q188_linear_attribution" -> 3,
    // one count aggregate + the top-k limit exchanges; totals broadcast,
    // rank window over the k retained rows only
    "q189_skew_report" -> 2,
    // MG two-pass: the pass-1 summary aggregate (candidates + the
    // certificate's marker rows in ONE exchange) runs at construction
    // and pins bounded; the returned plan is the candidate-only exact
    // count + the 1-row certificate agg — never a vocabulary-sized
    // exchange
    "q190_heavy_hitters" -> 2,
    // bloom prefilter probes a SCALAR SUBQUERY (plan-native
    // bloom_filter_agg: +1 single-partition exchange over dim hashes,
    // subquery-local); the join's dim side broadcasts at this sf,
    // leaving the priority agg + sort
    "q191_bloom_join" -> 3,
    // two fixed-grid histogram builds (2 partial-agg exchanges each) +
    // the NULL-SAFE full-outer sketch join (EqualNullSafe keys cannot
    // reuse the aggregates' hash partitioning, so the join re-exchanges
    // BOTH sides — but over |groups|·nBuckets SKETCH rows, metadata-
    // scale; the null-group false-alarm fix is worth two tiny
    // exchanges) + sort
    "q192_psi_drift" -> 7,
    // grouped MG candidates (+ per-group certificate markers) pin at
    // construction; returned: candidate-only exact count + rank window
    // over candidate rows + the stats-carrier join keyed on the group
    // (sketch-row-sized) + sort — the (lang, token) vocabulary itself
    // never crosses the network unsummarized
    "q193_topk_per_group" -> 4,
    // one user-keyed lead window (+ dedup reusing its partitioning) +
    // sort; the incremental applyBatch form touches batch keys only
    "q194_scd2" -> 3,
    // the SCD2→asOf composition: fromHistory's lead window + the
    // as-of union window (both user-keyed but across a union boundary)
    // + the two-phase distinct-user aggregate (2) + output sort — every
    // exchange is user- or status-keyed, nothing pair-shaped
    "q203_scd2_asof" -> 6,
    // the RETURNED plan over the bucketed store (the two-batch store
    // BUILD runs at construction, the CC-loop budget precedent):
    // status-keyed version-count aggregate + the as-of union window +
    // purchase-count aggregate + the status full-outer join's sort —
    // the store read is a leaf scan, nothing pair-shaped
    "q204_scd2_store_read" -> 4,
    // two chained user-keyed as-of union windows (click touch, status
    // segment — each one shuffle across a union boundary, the q203
    // precedent ×2) + the status rollup + output sort
    "q205_attribution_by_status" -> 6,
    // the RETURNED plan over the histogram store (the two-batch store
    // BUILD runs at construction, the q204 precedent): the store scan
    // is a |sources|-row leaf; content explode is map-side; quantile
    // window + pivot agg + the content⋈quantiles join + sort all ride
    // |sources|(·16)-sized exchanges
    "q206_hist_store_read" -> 3,
    // the RETURNED plan over the hitter store (the two-batch store
    // BUILD runs at construction, the q204/q206 precedent): the store
    // IS the ≤ |langs|·capacity-row summary — one output sort over a
    // scan-side certificate filter, nothing corpus-sized moves
    "q207_hitter_store_read" -> 1,
    // q188's pair join + the p_id weight window + the day rollup —
    // same bound, decay weights are row-local integers
    "q195_decay_attribution" -> 3,
    // histogram build (2 partial-agg exchanges; the cumsum window rides
    // the second's partitioning) + sort; the cum table broadcasts back
    "q196_pct_normalize" -> 3,
    // q192's shape on the vector marginal (incl. its null-safe
    // sketch-row join exchanges)
    "q197_embedding_drift" -> 7,
    // same shape with (label, dim) composite keys; the posexplode
    // passes are zero-shuffle map work before the partial aggregates
    "q198_vector_drift" -> 7,
    // two per-side count aggregates + the |keys|-row count join + the
    // top-k limit exchange; totals broadcast, rank over k rows
    "q199_join_fanout" -> 3,
    // q190's pinned-summary pass + exact recount + the per-doc
    // aggregate + sort; the discovered stoplist broadcasts into the
    // signal join
    "q200_adaptive_stopwords" -> 4,
    // one user-keyed window shuffle (the asOfJoin single-shuffle
    // shape, time-mirrored) + the output sort
    "q202_time_to_next_error" -> 2,
    // ONE (dim, value)-pair count shuffle for all dimensions + the
    // |dims|-row totals agg + the per-dim report agg + sort — every
    // exchange |dims|·|groups|-sized or smaller
    "q201_diversity" -> 4)

  /** Second input to the same gate: operator calls whose plan no gate
    * query's RETURNED plan carries. The query surface uses a sibling
    * form (simhashNearDupsMd5, lshTopKMd5, Pca.gramianMicro), consumes
    * the operator during construction (the CC loop over q144's pairs,
    * the SharedLm/SharedSpanDedup checkpoints behind q134/q142, the
    * pairJaccard checkpoint over q44's candidates), or has no query at
    * all (the stored IVF searches, dsirScores, applyBatch). The flag is
    * allowBroadcastNlj, set as for allowBnlj: only a designed small side
    * (query batch, centroids, 1-row stats) may broadcast into a BNLJ.
    * Each build gets the session and a fresh path for the index or store
    * it writes.
    */
  private val operatorGate: Seq[(String, Boolean, (SparkSession, String) => DataFrame)] = {
    def docs(s: SparkSession) = Tables.documents(s, dir)
    def emb(s: SparkSession) = Tables.embeddings(s, dir)
    def queries(s: SparkSession) = emb(s).filter(col("vec_id") < 50)
    Seq(
      ("minhash_candidates", false, (s, _) =>
        Dedup.minhashCandidatesFast(docs(s), "doc_id", "text", 3, 16, 8)),
      ("simhash_neardups", false, (s, _) =>
        Dedup.simhashNearDups(docs(s), "doc_id", "text", maxHamming = 3,
          prefixBits = 12)),
      ("exactsubstr_dedup", false, (s, _) =>
        Dedup.dedupSpansKeepFirst(docs(s), "doc_id", "text", n = 8)),
      ("bigram_lm", true, (s, _) =>
        Quality.bigramLogprob(docs(s), "doc_id", "text")),
      ("dsir_scores", false, (s, _) =>
        Selection.dsirScores(docs(s).withColumn("is_tgt", col("lang") === "en"),
          "doc_id", "text", "is_tgt", buckets = 1024)),
      ("ann_lsh", true, (s, _) =>
        Similarity.lshTopK(queries(s), emb(s), "vec_id", "embedding", k = 10)),
      ("ann_ivfpq_rerank", true, (s, _) =>
        Similarity.ivfPqRerankTopK(queries(s), emb(s), "vec_id", "embedding",
          k = 10, shortlist = 50)),
      ("ivf_search_stored", true, (s, tmp) => {
        Similarity.ivfWriteIndex(emb(s), "vec_id", "embedding", tmp, nlist = 32)
        Similarity.ivfSearchStored(s, tmp, queries(s), "vec_id", "embedding",
          k = 10, nProbe = 4)
      }),
      ("ivfpq_search_stored", true, (s, tmp) => {
        Similarity.ivfPqWriteIndex(emb(s), "vec_id", "embedding", tmp, nlist = 32)
        Similarity.ivfPqSearchStored(s, tmp, queries(s), "vec_id", "embedding",
          k = 10, nProbe = 4)
      }),
      ("sq8_neardup", false, (s, _) =>
        // ~64 vectors per block over the 500-vector fixture
        Similarity.blockedNearDupsSq8(emb(s).withColumn("blk",
            pmod(xxhash64(col("vec_id")), lit(8L))),
          "vec_id", "embedding", "blk", threshold = 0.2, dim = 64)),
      ("pca_fit_project", false, (s, _) =>
        Pca.transform(emb(s), "embedding",
            Pca.fit(emb(s), "embedding", dim = 64, k = 4))
          .select(col("vec_id"), col("pc1"), col("pc4"))),
      ("scd2_apply_batch", false, (s, tmp) => {
        // the store is a parquet table, as maintainScd2 keeps it
        val ev = Tables.events(s, dir)
          .select("user_id", "event_type", "ts", "event_id")
        val inBatch = pmod(col("user_id"), lit(10)) === 0 &&
          pmod(col("event_id"), lit(2)) === 0
        Scd.fromHistory(ev.filter(!inBatch), Seq("user_id"), "ts", "event_id")
          .write.parquet(s"$tmp/store")
        Scd.applyBatch(s.read.parquet(s"$tmp/store"), ev.filter(inBatch),
          Seq("user_id"), "ts", "event_id")
      }))
  }

  test("README gate count matches the declared query surface") {
    // counts in prose drift (the round-15 README lagged by one); pin
    // the gate count to the code so a hand-bump can't go stale
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val m = "ALL (\\d+) queries".r.findFirstMatchIn(readme)
    assert(m.isDefined, "README must state the gate count as 'ALL <n> queries'")
    assert(m.get.group(1).toInt == SparkEntry.queries.size,
      s"README says ALL ${m.get.group(1)} queries; SparkEntry declares " +
        s"${SparkEntry.queries.size} — update README.md")
  }

  test("allowBnlj names real queries") {
    val unknown = allowBnlj -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"allowlist names no such query: $unknown")
  }

  test("every gate query has an exchange budget") {
    val missing = SparkEntry.queries.keySet -- exchangeBudget.keySet
    assert(missing.isEmpty,
      s"new queries need a budget (copy the count from each query's " +
        s"info line in this spec's output): $missing")
    val stale = exchangeBudget.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"budget names no such query: $stale")
  }

  test("an injected repartition blows its query's exchange budget") {
    // the gate's reason to exist: prove it would catch one
    val (name, fn) = ("q01_pricing_summary",
      SparkEntry.queries("q01_pricing_summary"))
    val n = PlanWalk.shuffleExchangeCount(PlanWalk.finalPlan(fn(spark, dir).repartition(7)))
    assert(n > exchangeBudget(name),
      s"injected repartition invisible: counted $n <= budget ${exchangeBudget(name)}")
  }

  operatorGate.foreach { case (name, bnlj, build) =>
    test(s"operator $name executed plan passes the scale-shape gate") {
      val tmp = java.nio.file.Files.createTempDirectory(s"gate_$name").toFile
      try {
        PlanWalk.assertShapes(name, PlanWalk.finalPlan(build(spark, s"${tmp.getPath}/out")),
          allowBroadcastNlj = bnlj)
      } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    }
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name executed plan passes the scale-shape gate") {
      val plan = PlanWalk.finalPlan(fn(spark, dir))
      PlanWalk.assertShapes(name, plan, allowBroadcastNlj = allowBnlj(name))
      val n = PlanWalk.shuffleExchangeCount(plan)
      info(s""""$name" -> $n,""")
      exchangeBudget.get(name).foreach { budget =>
        assert(n <= budget,
          s"$name: $n shuffle exchanges > budget $budget — an extra full " +
            "network rewrite of the data; if intentional, update the " +
            "budget to the count this test's info line reports")
      }
    }
  }
}
