package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.operators.Similarity.{IvfPqSpec, Landed, Seeded, Trained}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator from SURVEY §2 (or a §7.3
  * extension); entries in [[oracleSql]] are the DuckDB-equivalent SQL the
  * driver hash-compares against at sf0.01. Column names are aliased
  * identically on both sides (the driver sorts columns by name before
  * hashing). Every entry carries an oracle — including the approximate
  * plans, whose oracles reproduce the exact signatures (seeded hyperplane
  * literals for ANN, u64-emulated XXH64 for SimHash) rather than just
  * checking shapes.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RefQueries.sortLimit(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── Reference query surface (SURVEY §2.3) ────────────────────────
    "q1_sort_limit"   -> (RefQueries.sortLimit _),
    "q2_count"        -> (RefQueries.countAll _),
    "q3_null_blank"   -> (RefQueries.nullBlankFilter _),
    "q3b_anti_join"   -> (RefQueries.antiJoinNull _),
    "q4_dup_having"   -> (RefQueries.dupHaving _),
    "q5_range"        -> (RefQueries.rangeFilter _),
    "s8_catalog_q1"   -> ((s, d) => graft.sources.Catalog.q1ViaCatalog(s, d)),
    // ── Ingest half (SURVEY §2.1/§2.2 — the reference's main program) ─
    "s5_stream_ingest" -> (IngestQueries.streamIngestRoundtrip _),
    "p7_normalize"     -> (IngestQueries.normalizeCustomers _),
    // ── LLM-pipeline extensions (SURVEY §7.3 / BASELINE north star) ───
    "dedup_exact"       -> (Dedup.exactKeepFirst _),
    "dedup_exact_docs"  -> (Dedup.exactByContent _),
    "dedup_minhash_lsh" -> ((s, d) => Dedup.minhashLshPairs(Dedup.plantedNearDocs(s, d), "doc_id", "text")),
    "dedup_ngram_jaccard" -> ((s, d) => Dedup.jaccardPairs(Dedup.plantedNearDocs(s, d), "doc_id", "text")),
    "dedup_containment" -> ((s, d) => Dedup.containedDocs(s, d)),
    "dedup_simhash"     -> ((s, d) => Dedup.simhashPairs(Dedup.plantedNearDocs(s, d), "doc_id", "text")),
    "dedup_simhash_exact" -> ((s, d) => Dedup.simhashPairs(Dedup.plantedExactDocs(s, d), "doc_id", "text", maxHamming = 0)),
    "dedup_near_drop"   -> ((s, d) => Dedup.dropNearDuplicates(Dedup.plantedNearDocs(s, d), "doc_id", "text")
                              .select("doc_id")),
    "dedup_cc"          -> ((s, d) => Dedup.connectedComponents(
                              Dedup.minhashLshPairs(Dedup.plantedNearDocs(s, d), "doc_id", "text"))),
    "dedup_soft"        -> (Dedup.softDedupDocs _),
    "dedup_soft_steady" -> (Dedup.softDedupDocsSteady _),
    "dedup_near_decontam" -> (Dedup.nearDecontamDocs _),
    "dedup_novelty"     -> (Dedup.noveltyDocs _),
    "dedup_spans"       -> ((s, d) => Dedup.duplicateSpans(
                              Dedup.plantedNearDocs(s, d), "doc_id", "text", w = 8)),
    "dedup_span_ranges" -> ((s, d) => Dedup.duplicateSpanRanges(
                              Dedup.plantedNearDocs(s, d), "doc_id", "text", w = 8)),
    "dedup_span_scrub"  -> ((s, d) => Dedup.scrubSpanRanges(
                              Dedup.plantedNearDocs(s, d), "doc_id", "text", w = 8)),
    "cdc_apply"         -> (Cdc.userSnapshot _),
    "cdc_diff"          -> (Cdc.eventsDiff _),
    "cdc_scd2"          -> (Cdc.userHistory _),
    "q_profile"         -> (Profiler.eventsProfile _),
    "q_expectations"    -> (Profiler.eventsExpectations _),
    "q_salted_join"     -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      SaltedAgg.saltedEquiJoin(
          graft.sources.Tables.load(s, d, "events"),
          graft.sources.Tables.load(s, d, "customer"), "user_id", "c_custkey", salts = 8)
        .select(col("event_id"), col("user_id"), col("c_name"), col("c_acctbal"), col("value"))
    }),
    "dedup_embed_cos"   -> ((s, d) => Dedup.embedCosinePairs(Dedup.plantedNearVectors(s, d))),
    "dedup_semantic"    -> (Dedup.semanticDedupPlanted _),
    "dedup_semantic_steady" -> (Dedup.semanticDedupPlantedSteady _),
    "dedup_semantic_text_steady" -> ((s, d) => Dedup.semanticDedupTextSteady(s, d)),
    "dedup_incr_semantic" -> (Dedup.incrementalSemanticArrivals _),
    "dedup_incr_semantic_steady" -> (Dedup.incrementalSemanticArrivalsSteady _),
    "sim_topk_cosine"   -> ((s, d) => Similarity.topKCosine(s, d)),
    "sim_kmeans"        -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, posexplode, round}
      Similarity.kmeansCentroids(
          graft.sources.Tables.load(s, d, "embeddings").select("vec_id", "embedding"))
        .select(col("cell_id"), posexplode(col("c_emb")))
        .toDF("cell_id", "lane", "v")
        .select(col("cell_id"), col("lane").cast("long").as("lane"),
          round(col("v").cast("double"), 6).as("v"))
    }),
    "sim_kmeans_hier_train" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, posexplode, round}
      Similarity.kmeansCentroidsHier(
          graft.sources.Tables.load(s, d, "embeddings").select("vec_id", "embedding"))
        .select(col("cell_id"), posexplode(col("c_emb")))
        .toDF("cell_id", "lane", "v")
        .select(col("cell_id"), col("lane").cast("long").as("lane"),
          round(col("v").cast("double"), 6).as("v"))
    }),
    "sim_topk_ann"      -> ((s, d) => Similarity.topKCosineLsh(s, d)),
    "sim_topk_ann_mp"   -> ((s, d) => Similarity.topKCosineLshMp(s, d, k = 5)),
    "sim_topk_ivf"      -> ((s, d) => Similarity.topKCosineIvf(s, d)),
    "sim_topk_pq"       -> ((s, d) => Similarity.topKPq(s, d)),
    "sim_topk_pq_trained" -> ((s, d) => Similarity.topKPqTrained(s, d)),
    "sim_topk_ivfpq"    -> ((s, d) => Similarity.topKPqIvf(s, d, IvfPqSpec(Seeded))),
    "sim_topk_ivfpq_trained" -> ((s, d) => Similarity.topKPqIvf(s, d, IvfPqSpec(Trained))),
    "sim_topk_ivfpq_res" -> ((s, d) => Similarity.topKPqIvf(s, d, IvfPqSpec(Trained, residual = true))),
    "sim_topk_ivfpq_res_landed" -> ((s, d) => Similarity.topKPqIvf(s, d, IvfPqSpec(Landed, residual = true))),
    "sim_topk_res_refine" -> ((s, d) => Similarity.topKPqIvf(s, d, IvfPqSpec(Landed, residual = true), refine = Some(4))),
    "sim_topk_ivfpq_steady" -> ((s, d) => Similarity.topKPqIvfSteady(s, d)),
    "sim_topk_ivfpq_landed" -> ((s, d) => Similarity.topKPqIvf(s, d, IvfPqSpec(Landed))),
    "sim_topk_ivfpq_landed_scaled" -> ((s, d) => Similarity.topKPqIvf(s, d, IvfPqSpec(Landed, scaled = true))),
    "sim_topk_refine_landed_scaled" -> ((s, d) => Similarity.topKPqIvf(s, d, IvfPqSpec(Landed, scaled = true), refine = Some(4))),
    "sim_topk_ivfpq_reshard" -> ((s, d) => graft.streaming.StreamIvfPq.reshardedDocs(s, d)),
    "sim_kmeans_assign" -> (Similarity.kmeansAssignments _),
    "sim_ann_recall"    -> ((s, d) => Similarity.annRecall(s, d, IvfPqSpec(Seeded))),
    "sim_ann_recall_refined" -> ((s, d) => Similarity.annRecall(s, d, IvfPqSpec(Seeded), refine = Some(4))),
    "sim_topk_refine"   -> ((s, d) => Similarity.topKPqIvf(s, d, IvfPqSpec(Seeded), refine = Some(4))),
    "sim_topk_refine_landed" -> ((s, d) => Similarity.topKPqIvf(s, d, IvfPqSpec(Landed), refine = Some(4))),
    "sim_knn_graph"     -> ((s, d) => Similarity.knnGraphDocs(s, d)),
    "sim_knn_graph_steady" -> ((s, d) => Similarity.knnGraphSteady(s, d)),
    "sim_density_prune" -> ((s, d) => Similarity.densityPruneDocs(s, d)),
    "sim_density_prune_steady" -> ((s, d) => Similarity.densityPruneSteady(s, d)),
    "q_pagerank"        -> ((s, d) => GraphRank.pageRankDocs(s, d)),
    "q_pagerank_steady" -> ((s, d) => GraphRank.pageRankSteady(s, d)),
    "q_lpa"             -> ((s, d) => GraphRank.labelPropagationDocs(s, d)),
    "q_lpa_steady"      -> ((s, d) => GraphRank.labelPropagationSteady(s, d)),
    "q_lpa_sample"      -> ((s, d) => GraphRank.communitySampleDocs(s, d)),
    "q_lpa_sample_steady" -> ((s, d) => GraphRank.communitySampleSteadyDocs(s, d)),
    "q_modularity"      -> ((s, d) => GraphRank.modularityDocs(s, d)),
    "q_modularity_steady" -> ((s, d) => GraphRank.modularitySteadyDocs(s, d)),
    "mm_near_dup"       -> ((s, d) => Multimodal.nearDupMedia(s, d)),
    "mm_incr_near_dup"  -> (Multimodal.incrementalMediaArrivals _),
    "mm_incr_near_dup_steady" -> (Multimodal.incrementalMediaArrivalsSteady _),
    "txt_contam_frac"   -> (Dedup.contamFracDocs _),
    "sim_bitext_mine"   -> ((s, d) => Bitext.mineDocs(s, d)),
    "sim_bitext_mine_steady" -> ((s, d) => Bitext.mineSteady(s, d)),
    "q_kmv_distinct"    -> ((s, d) => Sketches.kmvDistinctEvents(s, d)),
    "q_kmv_setops"      -> ((s, d) => Sketches.kmvSetOpsEvents(s, d)),
    "q_kmv_steady"      -> ((s, d) => Sketches.kmvDistinctSteady(s, d)),
    "q_kmv_setops_steady" -> ((s, d) => Sketches.kmvSetOpsSteady(s, d)),
    "sim_kmeans_assign_steady" -> (Similarity.kmeansAssignmentsSteady _),
    "sim_kmeans_assign_hier" -> (Similarity.kmeansAssignmentsHier _),
    "sim_kmeans_assign_flat" -> (Similarity.kmeansAssignmentsFlat _),
    "sim_cluster_sample" -> ((s, d) => Similarity.clusterSample(s, d)),
    "sim_cluster_sample_steady" -> ((s, d) => Similarity.clusterSampleSteady(s, d)),
    "q_sliding_distinct" -> (Analytics.eventSlidingDistinct _),
    "txt_lang_dist"     -> (TextAnalysis.langDist _),
    "txt_quality"       -> (TextAnalysis.qualityStats _),
    "txt_langid"        -> (TextAnalysis.langId _),
    "txt_tokens"        -> (TextAnalysis.tokenCounts _),
    "txt_fingerprint"   -> (TextAnalysis.fingerprints _),
    "txt_normalize"     -> (TextAnalysis.normalizeFingerprints _),
    "txt_quality_filter" -> (TextAnalysis.qualityFilter _),
    "txt_curation_report" -> (TextAnalysis.curationReportDocs _),
    "txt_curation_report_steady" -> (TextAnalysis.curationReportSteadyDocs _),
    "txt_retrieval_eval" -> (TextAnalysis.retrievalEvalDocs _),
    "txt_retrieval_eval_steady" -> (TextAnalysis.retrievalEvalSteadyDocs _),
    "txt_decontam_scrub" -> (Dedup.decontamScrubDocs _),
    "mm_decode"         -> ((s, d) => Multimodal.probe(s, d)),
    "mm_frames"         -> ((s, d) => Multimodal.frameSample(s, d)),
    "mm_resize"         -> ((s, d) => Multimodal.resize(s, d)),
    // posexplode to (media_id, lane, value) scalar rows: the harness
    // sorts/hashes result columns, and an array<float> column is not
    // sortable driver-side (round-3 mm_features comparison crash).
    "mm_features"       -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, posexplode}
      Multimodal.features(s, d)
        .select(col("media_id"), posexplode(col("feature")))
        .toDF("media_id", "lane", "value")
    }),
    // ── Stateful event-time ops (batch form of the streaming operators) ─
    // sum_value rounded to 6 dp on both sides of these two entries:
    // double addition order differs across engines (and across Spark
    // partial-merge schedules) by design, same as agg_salted below.
    "win_agg_daily"     -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, round}
      graft.streaming.WindowedAgg.byTypeTumbling(
          graft.sources.Tables.load(s, d, "events"), "1 day")
        .select(col("win_start"), col("event_type"), col("n_events"),
          round(col("sum_value"), 6).as("sum_value"))
    }),
    "sess_30min"        -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, round}
      Sessionization.sessionize(s, d)
        .select(col("user_id"), col("session_id"), col("session_start"),
          col("session_end"), col("n_events"),
          round(col("sum_value"), 6).as("sum_value"))
    }),
    // native session_window form of the same gap rule (end = last + gap)
    "sess_native"       -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, round}
      graft.streaming.WindowedAgg.byUserSessionWindow(
          graft.sources.Tables.load(s, d, "events"), "30 minutes")
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), round(col("sum_value"), 6).as("sum_value"))
    }),
    // ── Beyond-reference analytics (joins / rank-per-group / distinct) ──
    "q_asof_join"       -> (AsOfJoin.errorsAfterClicks _),
    "q_range_join"      -> (RangeJoin.errorsInSignupWindows _),
    "q_set_ops"         -> (Relational.setOps _),
    "q_rollup_daily"    -> (Relational.dailyRollup _),
    "q_cube_daily"      -> (Relational.dailyCube _),
    "q_pivot"           -> (Relational.pivotCounts _),
    "q_full_outer"      -> (Relational.dailyFullOuter _),
    "q_exists"          -> (Relational.existsSubquery _),
    "q_sample_strat"    -> ((s, d) => Relational.stratifiedSample(s, d)),
    "q_sample_weighted" -> (Relational.weightedDocSample(_, _)),
    "q_split"           -> (Relational.docSplits _),
    "txt_shuffle"       -> (Relational.docShuffle _),
    "q_split_leakfree"  -> (Relational.leakFreeSplits _),
    "txt_chunks"        -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      TextAnalysis.chunkDocs(s, d)
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("chunk_text"), col("n_chunk_tokens").cast("long").as("n_chunk_tokens"))
    }),
    "txt_tfidf"         -> (TextAnalysis.termStats _),
    "txt_bm25"          -> (TextAnalysis.searchDocs _),
    "txt_bm25_steady"   -> (TextAnalysis.searchDocsSteady _),
    "txt_phrase"        -> (TextAnalysis.phraseDocs _),
    "txt_phrase_steady" -> (TextAnalysis.phraseDocsSteady _),
    "txt_hybrid_rrf"    -> (TextAnalysis.hybridDocs _),
    "txt_curriculum"    -> (TextAnalysis.curriculumDocs _),
    "txt_hybrid_rrf_steady" -> ((s, d) => TextAnalysis.hybridDocsSteady(s, d)),
    "sim_recall_hybrid_dense" -> ((s, d) => Similarity.annRecall(s, d, IvfPqSpec(Landed), k = 50, refine = Some(4), queryIds = Seq(0L))),
    "txt_quality_calibrated" -> ((s, d) => TextAnalysis.calibratedQualityFilter(s, d)),
    "txt_budget_mix"    -> (TextAnalysis.budgetMixDocs _),
    "txt_boilerplate"   -> (TextAnalysis.boilerplateDocs _),
    "txt_key_terms"     -> (TextAnalysis.keyTermsDocs _),
    "txt_fertility"     -> (TextAnalysis.fertilityDocs _),
    "txt_quality_lr"    -> (TextAnalysis.qualityLrDocs _),
    "txt_selfdedup"     -> (TextAnalysis.dedupWithinDocs _),
    "txt_hash_vectors"  -> (TextAnalysis.hashedVectorDocs _),
    "dedup_semantic_text" -> ((s, d) => Dedup.semanticDedupText(s, d)),
    "txt_semantic_search" -> (TextAnalysis.semanticSearchDocs _),
    "sim_hard_negatives" -> (Similarity.hardNegativeDocs _),
    "txt_mlm_mask"      -> (TextAnalysis.mlmMaskDocs _),
    "txt_span_corrupt"  -> (TextAnalysis.spanCorruptDocs _),
    "dedup_record_link" -> (Dedup.recordLinkCustomers _),
    "dedup_entities"    -> (Dedup.resolveCustomers _),
    "q_bloom_join"      -> (BloomJoin.negBalanceActivity _),
    "txt_neg_pairs"     -> (Contrastive.docNegativePairs _),
    "txt_pref_pairs"    -> (Contrastive.docPreferencePairs _),
    "txt_pref_pairs_steady" -> (Contrastive.docPreferencePairsSteady _),
    "txt_mix"           -> (TextAnalysis.mixCorpus _),
    "txt_decontam"      -> (Dedup.decontamDocs _),
    "txt_decontam_bloom" -> (Dedup.decontamDocsBloom _),
    "dedup_incremental" -> (Dedup.incrementalArrivals _),
    "txt_pii"           -> (TextAnalysis.piiDocs _),
    "txt_repetition"    -> (TextAnalysis.repetitionDocs _),
    "q_star_join"       -> (Analytics.starRevenue _),
    "q_top_per_group"   -> ((s, d) => Analytics.topUsersPerType(s, d)),
    // the custom physical operator (TopKPerKeyExec bounded heaps) driven
    // through the cross-engine gate: whole raw rows, no pre-aggregation
    "q_topk_exec"       -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      plans.TopKPerKey(
        graft.sources.Tables.load(s, d, "events")
          .select("event_id", "event_type", "value"),
        Seq("event_type"), Seq(col("value").desc, col("event_id").asc), k = 3)
    }),
    "q_distinct"        -> (Analytics.userCounts _),
    "q_json_props"      -> (Analytics.propsStats _),
    "q_quantiles"       -> (Analytics.valueQuantiles _),
    "q_moving_avg"      -> ((s, d) => Analytics.dailyMovingAvg(s, d)),
    "q_histogram"       -> ((s, d) => Analytics.valueHistogram(s, d)),
    "q_rank_suite"      -> (Analytics.typeDailyRanks _),
    "q_daily_delta"     -> (Analytics.dailyDelta _),
    "q_set_ops_all"     -> (Relational.setOpsAll _),
    "q_union_evolve"    -> (Relational.unionEvolved _),
    "txt_pack"          -> ((s, d) => Packing.packedChunks(s, d)),
    "txt_batch_buckets" -> ((s, d) => Packing.bucketBatchesDocs(s, d)),
    "txt_token_blocks"  -> ((s, d) => Packing.tokenBlocksDocs(s, d)),
    "txt_token_blocks_steady" -> ((s, d) => Packing.tokenBlocksSteadyDocs(s, d)),
    "txt_curriculum_blocks" -> ((s, d) => Packing.curriculumBlocksDocs(s, d)),
    "txt_curriculum_blocks_steady" ->
      ((s, d) => Packing.curriculumBlocksSteadyDocs(s, d)),
    "txt_collocations"  -> ((s, d) => TextAnalysis.collocationsDocs(s, d)),
    "txt_collocations_steady" ->
      ((s, d) => TextAnalysis.collocationsSteadyDocs(s, d)),
    "dedup_incr_near"   -> (Dedup.incrementalNearArrivals _),
    "dedup_incr_contain" -> (Dedup.incrementalContainArrivals _),
    "dedup_incr_contain_steady" -> (Dedup.incrementalContainArrivalsSteady _),
    "dedup_incr_near_steady" -> (Dedup.incrementalNearArrivalsSteady _),
    "sim_topk_pq_steady" -> ((s, d) => Similarity.topKPqSteady(s, d)),
    "dedup_keep_best"   -> (Dedup.keepLongestDocs _),
    "q_user_seq"        -> (Analytics.userSequences _),
    "q_heavy_hitters"   -> (Analytics.heavyUserKeys _),
    "txt_source_filter" -> (TextAnalysis.sourceFiltered _),
    "txt_source_cap"    -> ((s, d) => TextAnalysis.sourceCapDocs(s, d)),
    "txt_dsir"          -> (TextAnalysis.dsirDocs _),
    "dedup_paragraphs"  -> (Dedup.paragraphDedupDocs _),
    "q_hist_quantile"   -> (Analytics.histQuantilesEvents _),
    "q_hist_quantile_steady" -> ((s, d) => Analytics.histQuantilesSteady(s, d)),
    "txt_budget_cap"    -> (TextAnalysis.budgetCapDocs _),
    "txt_dsir_steady"   -> ((s, d) => TextAnalysis.dsirDocsSteady(s, d)),
    "txt_ppl_buckets"   -> (TextAnalysis.pplBucketDocs _),
    "txt_dsir_gumbel"   -> (TextAnalysis.dsirResampleDocs _),
    "txt_proximity"     -> (TextAnalysis.proximityDocs _),
    "txt_proximity_steady" -> ((s, d) => TextAnalysis.proximityDocsSteady(s, d)),
    "q_stationary"      -> (Analytics.stationaryEvents _),
    "q_zorder"          -> (Analytics.zOrderEvents _),
    "q_anomaly_mad"     -> (Analytics.eventRobustAnomalies _),
    "mm_interleave"     -> ((s, d) => Multimodal.interleavedSamples(s, d)),
    "mm_pack"           -> ((s, d) => Multimodal.packedSamples(s, d)),
    "q_winsorize"       -> (Analytics.winsorizedEvents _),
    "txt_lr_calibration" -> ((s, d) => TextAnalysis.lrCalibration(s, d)),
    "sim_psi_drift"     -> (Similarity.psiDriftEmbeddings _),
    "txt_vocab_coverage" -> (TextAnalysis.vocabCoverageDocs _),
    "q_skew_profile"    -> (Analytics.eventKeySkew _),
    "txt_bm25_prf"      -> ((s, d) => TextAnalysis.bm25PrfDocs(s, d)),
    "txt_bm25_prf_steady" -> ((s, d) => TextAnalysis.bm25PrfSteady(s, d)),
    "txt_bpe"           -> (TextAnalysis.bpeMergeTable _),
    "txt_bpe_apply"     -> (TextAnalysis.bpeTokenized _),
    "txt_bpe_apply_steady" -> (TextAnalysis.bpeTokenizedSteady _),
    "txt_bigram_lm"     -> (TextAnalysis.bigramScores _),
    "txt_domain_reweight" -> ((s, d) => TextAnalysis.domainReweightDocs(s, d)),
    "txt_domain_reweight_steady" -> ((s, d) => TextAnalysis.domainReweightSteadyDocs(s, d)),
    "txt_entropy"       -> (TextAnalysis.entropyScores _),
    "txt_len_bins"      -> (TextAnalysis.docLengthBins _),
    "txt_keywords"      -> ((s, d) => TextAnalysis.docKeywords(s, d)),
    "txt_corpus_stats"  -> (TextAnalysis.corpusStats _),
    "q_transitions"     -> (Analytics.eventTransitionMatrix _),
    "q_funnel"          -> (Analytics.signupFunnel _),
    "q_retention"       -> (Analytics.eventRetention _),
    "q_anomaly"         -> ((s, d) => Analytics.eventAnomalies(s, d)),
    "q_dense_days"      -> (Analytics.eventDenseDays _),
    "sim_rp_reduce"     -> (Similarity.rpReduce _),
    "sim_whiten_moments" -> (Similarity.whitenMomentsDocs _),
    "sim_int8_quant"    -> (Similarity.int8Embeddings _),
    // ── Skew-safe salted aggregation (same values as a plain group-by) ──
    "agg_salted"        -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, round}
      SaltedAgg.countSumByKey(graft.sources.Tables.load(s, d, "events"), "user_id", "value")
        .select(col("user_id"), col("n"), round(col("sum"), 6).as("sum_value"))
    }),
  )

  /** Subset timed by [[Bench]] at sf0.1 (streaming/DDL entries excluded —
    * they exercise sinks and the catalog, not scan/shuffle throughput).
    * This is the headline set whose total is tracked against BASELINE.md
    * round over round — keep it stable. */
  def benchQueries: Seq[String] = Seq(
    "q1_sort_limit", "q2_count", "q3b_anti_join", "q4_dup_having", "q5_range",
  )

  /** Extension operators additionally timed by [[Bench]] (reported in the
    * JSON's "ext" object, NOT in the headline total, so totals stay
    * comparable across rounds). */
  def benchExtQueries: Seq[String] = Seq(
    "dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_embed_cos",
    "sim_topk_cosine", "sim_topk_ivf",
    "txt_fingerprint", "txt_quality",
    "win_agg_daily", "sess_30min", "agg_salted",
    "q_star_join", "q_top_per_group", "q_distinct", "q_json_props", "q_quantiles",
    "q_range_join", "q_rollup_daily", "txt_tfidf",
    "q_bloom_join", "sess_native", "txt_neg_pairs", "sim_topk_pq", "txt_mix",
    "txt_decontam", "txt_repetition", "txt_pii", "q_topk_exec",
    // Round 7: every remaining green query gets a timing tripwire — a plan
    // regression in an untimed operator would otherwise ship silently.
    // (s5_stream_ingest is deliberately absent: it drives a full streaming
    // roundtrip with its own file I/O; the dedicated "stream" bench object
    // measures streaming throughput instead.)
    "sim_topk_ann", "sim_kmeans", "sim_topk_pq_trained",
    "cdc_apply", "cdc_diff",
    "dedup_cc", "dedup_exact_docs", "dedup_incremental", "dedup_near_drop",
    "dedup_simhash", "dedup_simhash_exact", "dedup_spans",
    "mm_decode", "mm_features", "mm_frames", "mm_resize",
    "p7_normalize", "q3_null_blank", "s8_catalog_q1",
    "q_asof_join", "q_cube_daily", "q_daily_delta", "q_exists",
    "q_expectations", "q_full_outer", "q_histogram", "q_moving_avg",
    "q_pivot", "q_profile", "q_rank_suite", "q_salted_join",
    "q_sample_strat", "q_sample_weighted", "q_set_ops", "q_set_ops_all",
    "q_split", "q_split_leakfree", "q_union_evolve",
    "txt_chunks", "txt_lang_dist", "txt_langid", "txt_pack",
    "txt_quality_filter", "txt_shuffle", "txt_tokens",
    // round-7 additions
    "dedup_incr_near", "q_user_seq", "txt_source_filter", "dedup_keep_best",
    "q_heavy_hitters", "txt_bpe",
    // round-8 additions (the *_steady rows time the production
    // probe/serve path the rebuild entries can't — their first warm-up
    // call pays the one-time land/train, the timed passes reuse it)
    "txt_bpe_apply", "dedup_incr_near_steady", "sim_topk_pq_steady",
    "txt_bigram_lm", "q_funnel", "q_retention", "q_anomaly", "sim_rp_reduce",
    "sim_topk_ivfpq", "cdc_scd2", "txt_entropy", "txt_len_bins",
    "q_dense_days", "sim_int8_quant", "sim_topk_ivfpq_trained",
    "sim_kmeans_assign", "q_sliding_distinct", "sim_topk_ivfpq_steady",
    "txt_keywords", "txt_corpus_stats", "q_transitions",
    "txt_bpe_apply_steady", "sim_cluster_sample",
    // round-9 additions: the landed-quantizer serve path and the
    // steady (landed-centroid) k-means labeling/sampling siblings
    "sim_topk_ivfpq_landed", "sim_kmeans_assign_steady",
    "sim_kmeans_assign_hier",
    "sim_cluster_sample_steady", "txt_bm25", "dedup_semantic",
    "txt_bm25_steady", "txt_phrase", "txt_phrase_steady",
    "txt_decontam_bloom", "txt_hybrid_rrf", "sim_ann_recall",
    "txt_quality_calibrated", "txt_budget_mix", "txt_boilerplate",
    "txt_key_terms", "txt_fertility", "txt_quality_lr", "txt_selfdedup",
    "txt_hash_vectors", "dedup_semantic_text", "txt_semantic_search",
    "sim_hard_negatives", "txt_mlm_mask", "txt_span_corrupt",
    "dedup_record_link", "dedup_entities",
    // round-10 additions: the SemDedup steady (landed-cell) siblings and
    // incremental semantic arrival dedup
    "dedup_semantic_steady", "dedup_semantic_text_steady",
    "dedup_incr_semantic", "dedup_incr_semantic_steady",
    // round-10 session-2 additions: the two-stage refined ANN serves and
    // the blocked k-NN graph build (retrain + landed-centroid siblings)
    "sim_topk_refine", "sim_topk_refine_landed",
    "sim_knn_graph", "sim_knn_graph_steady", "sim_topk_ann_mp",
    "sim_density_prune", "sim_density_prune_steady", "sim_topk_ivfpq_res",
    "txt_source_cap", "sim_topk_ivfpq_res_landed", "txt_bm25_prf",
    "txt_bm25_prf_steady", "sim_ann_recall_refined", "sim_topk_res_refine",
    // round-10 session-3 additions
    "txt_dsir", "dedup_paragraphs", "q_hist_quantile", "q_hist_quantile_steady",
    "txt_budget_cap", "txt_dsir_steady", "txt_ppl_buckets", "txt_dsir_gumbel",
    "txt_proximity", "txt_proximity_steady", "q_stationary", "q_zorder",
    "q_anomaly_mad", "mm_interleave", "mm_pack", "q_winsorize",
    "txt_lr_calibration", "sim_psi_drift", "txt_vocab_coverage",
    "q_skew_profile",
    // round-10 session-4 additions
    "q_pagerank", "q_pagerank_steady",
    "q_kmv_distinct", "q_kmv_setops", "q_kmv_steady", "q_kmv_setops_steady",
    "sim_bitext_mine", "sim_bitext_mine_steady", "mm_near_dup",
    "txt_contam_frac",
    "dedup_containment", "q_lpa", "q_lpa_steady", "txt_batch_buckets",
    "dedup_incr_contain", "dedup_incr_contain_steady", "q_lpa_sample",
    "q_modularity",
    // round-11 additions: the index-backed hybrid serve (no corpus-linear
    // dense scan in the timed plan), its dense-leg recall monitor, and
    // the perceptual media arrival gate
    "txt_hybrid_rrf_steady", "sim_recall_hybrid_dense", "mm_incr_near_dup",
    "mm_incr_near_dup_steady", "txt_curriculum",
    // round-11 session-2 additions: soft (reweighting) dedup + near-dup
    // decontamination + first-occurrence novelty + the per-source
    // curation report + lexical retrieval eval
    "dedup_soft", "dedup_soft_steady", "dedup_near_decontam",
    "dedup_novelty", "txt_curation_report", "txt_retrieval_eval",
    "txt_retrieval_eval_steady", "txt_decontam_scrub",
    // round-12 additions: the √N-sized IVF serves (the production sizing
    // demonstrated — probed-list reads ∝ √N, vs the fixed family's ∝ N)
    // and the curation report served off maintained per-source aggregates
    "sim_topk_ivfpq_landed_scaled", "sim_topk_refine_landed_scaled",
    "txt_curation_report_steady",
    // the streamed store's re-shard life cycle: built under fixed cells,
    // re-sized to √N at maintenance, served off the sidecar centroids
    "sim_topk_ivfpq_reshard",
    // round-12 session-2: the concat-and-chunk pretraining block layout
    // (direct + served off landed counts + curriculum-ordered) and PMI
    // collocation mining
    "txt_token_blocks", "txt_token_blocks_steady", "txt_curriculum_blocks",
    "txt_curriculum_blocks_steady", "txt_collocations",
    "txt_collocations_steady",
    // DoReMi-class excess-loss domain reweighting (the fourth mixing form)
    "txt_domain_reweight",
    // round-13 additions: the graph-analytics monitors and the domain
    // reweight served off LANDED state (no k-means/graph/LPA — or
    // corpus-scale LM scoring — in the timed plan)
    "q_modularity_steady", "q_lpa_sample_steady", "txt_domain_reweight_steady",
    // round-14 addition: after the hier adoption made the two-level
    // argmax the default assignment, the exact flat form stays on the
    // board as the exactness baseline / flat-vs-hier crossover comparator
    "sim_kmeans_assign_flat",
    // round-14 session-2: quality-contrastive preference pairs, the
    // whitening moment pass, and normalized content fingerprints
    "txt_pref_pairs", "sim_whiten_moments", "txt_normalize",
    // round-15: the two-level (coarse-pruned) Lloyd's trainer — the
    // train-once path that stays runnable at k ∝ N — and the preference
    // pairs served off landed component state
    "sim_kmeans_hier_train", "txt_pref_pairs_steady",
    // round-15 session-2: ExactSubstr-style maximal duplicated ranges +
    // the all-occurrences scrub
    "dedup_span_ranges", "dedup_span_scrub",
  )

  /** sim_topk_ann oracle, generated: the LSH signature is deterministic
    * (seeded hyperplanes are plan literals), so the oracle embeds the SAME
    * plane vectors as SQL literals and reproduces sign bits → bands →
    * buckets → candidates → scores — checking the whole approximate plan,
    * not just its shape. */
  /** sim_kmeans oracle, generated per iteration: same seeded init (every
    * 29th vector), same cosine argmax tie-break (score DESC, cell ASC) as
    * the Spark side, and per-lane means rounded to 6 dp — the rounding
    * both sides share is what absorbs the ~1e-13 summation-order drift
    * between Spark's partial aggregation and DuckDB's sequential sums. */
  /** txt_bpe oracle, generated per merge round: the same pair-count /
    * (n DESC, l, r) argmax / non-overlapping left-to-right `replace`
    * recurrence as the Spark trainer, each round one CTE over the
    * previous round's merged token strings — `replace` scans the input
    * identically in both engines, so the merge tables are an exact
    * cross-engine fixpoint. */
  /** q_stationary oracle, generated per power iteration: the
    * q_transitions body → row-normalized 6-dp probabilities → uniform
    * π0 → `iters` unrolled π·P CTEs, each LEFT-joined from the full
    * state list so mass-starved states keep explicit zeros (mirroring
    * the operator's all-types emit), each 6-dp rounded (the kmeans
    * per-iteration discipline). */
  private def stationaryOracleSql(iters: Int = 5): String = {
    val head =
      """WITH types AS (SELECT DISTINCT event_type AS state FROM events),
        |k AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM types),
        |trans AS (
        |  SELECT from_type, to_type, count(*) AS n FROM (
        |    SELECT event_type AS from_type,
        |      lead(event_type) OVER (PARTITION BY user_id
        |        ORDER BY epoch_ns(ts) // 1000, event_id) AS to_type
        |    FROM events
        |  ) WHERE to_type IS NOT NULL GROUP BY 1, 2
        |), rowtot AS (SELECT from_type, sum(n) AS tot FROM trans GROUP BY 1),
        |m AS (SELECT t.from_type, t.to_type,
        |        round(CAST(t.n AS DOUBLE) / r.tot, 6) AS prob
        |      FROM trans t JOIN rowtot r USING (from_type)),
        |p0 AS (SELECT state, round(1.0 / k.k, 6) AS p FROM types, k)""".stripMargin
    val iterCtes = (1 to iters).map { i =>
      s""",
         |p$i AS (
         |  SELECT ty.state, round(coalesce(sum(pp.p * m.prob), 0.0), 6) AS p
         |  FROM types ty
         |  LEFT JOIN m ON m.to_type = ty.state
         |  LEFT JOIN p${i - 1} pp ON pp.state = m.from_type
         |  GROUP BY ty.state)""".stripMargin
    }.mkString
    head + iterCtes + s"\nSELECT state, p FROM p$iters"
  }

  private def bpeOracleSql(iters: Int = 3): String = {
    val d0 = "d0 AS (\n" +
      "  SELECT ' ' || array_to_string(list_filter(string_split_regex(lower(text), " +
      "'[^a-z0-9]+'), x -> len(x) > 0), ' ') || ' ' AS s FROM documents)"
    val its = (1 to iters).map { i =>
      s"""p$i AS (
         |  SELECT w[j] AS l, w[j+1] AS r, count(*) AS n FROM (
         |    SELECT w, unnest(range(1, len(w))) AS j
         |    FROM (SELECT string_split(trim(s), ' ') AS w FROM d${i - 1})
         |  ) GROUP BY 1, 2
         |), m$i AS (SELECT l, r, n FROM p$i ORDER BY n DESC, l, r LIMIT 1),
         |d$i AS (SELECT CASE WHEN (SELECT count(*) FROM m$i) = 0 THEN s
         |  ELSE replace(s,
         |    ' ' || (SELECT l FROM m$i) || ' ' || (SELECT r FROM m$i) || ' ',
         |    ' ' || (SELECT l FROM m$i) || '§' || (SELECT r FROM m$i) || ' ')
         |  END AS s
         |FROM d${i - 1})""".stripMargin
    }
    val sel = (1 to iters)
      .map(i => s"""SELECT $i AS iter, l AS "left", r AS "right", n FROM m$i""")
      .mkString("\nUNION ALL ")
    s"WITH $d0,\n${its.mkString(",\n")}\n$sel"
  }

  /** txt_bpe_apply oracle, generated: the same per-round recurrence as
    * [[bpeOracleSql]] with doc_id threaded through every d CTE, finishing
    * with the per-document tokenized string + token count after the last
    * merge — exactly what the single-projection `bpeApply` fold over the
    * learned table produces. */
  private def bpeApplyOracleSql(iters: Int = 3): String = {
    val d0 = "d0 AS (\n" +
      "  SELECT doc_id, ' ' || array_to_string(list_filter(string_split_regex(lower(text), " +
      "'[^a-z0-9]+'), x -> len(x) > 0), ' ') || ' ' AS s FROM documents)"
    val its = (1 to iters).map { i =>
      s"""p$i AS (
         |  SELECT w[j] AS l, w[j+1] AS r, count(*) AS n FROM (
         |    SELECT w, unnest(range(1, len(w))) AS j
         |    FROM (SELECT string_split(trim(s), ' ') AS w FROM d${i - 1})
         |  ) GROUP BY 1, 2
         |), m$i AS (SELECT l, r, n FROM p$i ORDER BY n DESC, l, r LIMIT 1),
         |d$i AS (SELECT doc_id,
         |  CASE WHEN (SELECT count(*) FROM m$i) = 0 THEN s
         |  ELSE replace(s,
         |    ' ' || (SELECT l FROM m$i) || ' ' || (SELECT r FROM m$i) || ' ',
         |    ' ' || (SELECT l FROM m$i) || '§' || (SELECT r FROM m$i) || ' ')
         |  END AS s
         |FROM d${i - 1})""".stripMargin
    }
    s"WITH $d0,\n${its.mkString(",\n")}\n" +
      s"SELECT doc_id, trim(s) AS toks,\n" +
      s"  len(list_filter(string_split(trim(s), ' '), x -> len(x) > 0)) AS n_tokens\n" +
      s"FROM d$iters"
  }

  /** txt_fertility oracle, generated: the bpeApplyOracleSql recurrence
    * with `source` and the raw token count threaded through every d CTE,
    * aggregated per source at the end — integer sums, one double divide,
    * 6-dp round, zero-raw guarded to 0.0 exactly as the Spark side. */
  private def bpeFertilityOracleSql(iters: Int = 3): String = {
    val d0 = "d0 AS (\n" +
      "  SELECT source, " +
      "len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS raw, " +
      "' ' || array_to_string(list_filter(string_split_regex(lower(text), " +
      "'[^a-z0-9]+'), x -> len(x) > 0), ' ') || ' ' AS s FROM documents)"
    val its = (1 to iters).map { i =>
      s"""p$i AS (
         |  SELECT w[j] AS l, w[j+1] AS r, count(*) AS n FROM (
         |    SELECT w, unnest(range(1, len(w))) AS j
         |    FROM (SELECT string_split(trim(s), ' ') AS w FROM d${i - 1})
         |  ) GROUP BY 1, 2
         |), m$i AS (SELECT l, r, n FROM p$i ORDER BY n DESC, l, r LIMIT 1),
         |d$i AS (SELECT source, raw,
         |  CASE WHEN (SELECT count(*) FROM m$i) = 0 THEN s
         |  ELSE replace(s,
         |    ' ' || (SELECT l FROM m$i) || ' ' || (SELECT r FROM m$i) || ' ',
         |    ' ' || (SELECT l FROM m$i) || '§' || (SELECT r FROM m$i) || ' ')
         |  END AS s
         |FROM d${i - 1})""".stripMargin
    }
    s"WITH $d0,\n${its.mkString(",\n")},\n" +
      s"""f AS (
         |  SELECT source, CAST(raw AS BIGINT) AS raw,
         |    CAST(len(list_filter(string_split(trim(s), ' '), x -> len(x) > 0)) AS BIGINT) AS pieces
         |  FROM d$iters)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(raw) AS BIGINT) AS raw_tokens,
         |  CAST(sum(pieces) AS BIGINT) AS bpe_tokens,
         |  CASE WHEN sum(raw) = 0 THEN 0.0
         |    ELSE round(CAST(sum(pieces) AS DOUBLE) / CAST(sum(raw) AS DOUBLE), 6)
         |  END AS fertility
         |FROM f GROUP BY source""".stripMargin
  }

  /** txt_quality_lr oracle, generated per GD round: the same 6-dp
    * feature construction, (b + w1·x1) + w2·x2 association, (η·Σ)/n
    * gradient, and per-round 6-dp weight rounding as the Spark trainer
    * — each round one CTE cross-joining the previous round's 1-row
    * weight table (the kmeans/bpe iterative-oracle device). */
  private def lrOracleSql(iters: Int = 3, eta: Double = 1.0): String = {
    val f = "f AS (\n" +
      "  SELECT doc_id, source,\n" +
      "    CASE WHEN source IN ('src0','src1','src2') THEN 1.0 ELSE 0.0 END AS y,\n" +
      "    round(CAST(len(list_filter(toks, x -> list_contains(\n" +
      "      ['the','a','an','of','to','and','in','is','it','that'], x))) AS DOUBLE) / len(toks), 6) AS x1,\n" +
      "    round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks), 6) AS x2\n" +
      "  FROM (SELECT doc_id, source,\n" +
      "    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks\n" +
      "    FROM documents)\n" +
      "  WHERE len(toks) > 0)"
    val w0 = "w0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2)"
    val its = (1 to iters).map { i =>
      s"""w$i AS (
         |  SELECT round(max(b) - $eta * sum(p - y) / count(*), 6) AS b,
         |    round(max(w1) - $eta * sum((p - y) * x1) / count(*), 6) AS w1,
         |    round(max(w2) - $eta * sum((p - y) * x2) / count(*), 6) AS w2
         |  FROM (SELECT w.b, w.w1, w.w2, f.y, f.x1, f.x2,
         |    1.0 / (1.0 + exp(-(w.b + w.w1 * f.x1 + w.w2 * f.x2))) AS p
         |  FROM f CROSS JOIN w${i - 1} w))""".stripMargin
    }
    s"WITH $f,\n$w0,\n${its.mkString(",\n")}\n" +
      s"""SELECT doc_id, source, CAST(y AS BIGINT) AS y,
         |  round(1.0 / (1.0 + exp(-(w.b + w.w1 * x1 + w.w2 * x2))), 6) AS score
         |FROM f CROSS JOIN w$iters w""".stripMargin
  }

  private def kmeansOracleSql(initEvery: Int = 29, iters: Int = 3): String =
    s"WITH ${kmeansCteBlock(initEvery, iters)}\n" +
      s"SELECT cell_id, CAST(lane AS BIGINT) AS lane, m AS v FROM m$iters"

  /** The FLAT k-means training recurrence as a reusable CTE block ending
    * in `c<iters>` (trained centroids) / `m<iters>` (per-lane means) —
    * since the round-15 trainer adoption, used only by the flat trainer's
    * own entry (sim_kmeans) and, via [[kmeansCteBlockExpr]], the √N-sized
    * family, where the exact trainer is the right call (bounded k). Every
    * k∝N adopter replays [[kmeansAutoCteBlock]] instead. */
  private def kmeansCteBlock(initEvery: Int = 29, iters: Int = 3,
      from: String = "embeddings"): String =
    kmeansCteBlockExpr(initEvery.toString, iters, from)

  /** The √N init stride as a SQL expression — DuckDB recomputes the SAME
    * corpus-count-derived stride Similarity.scaledInitEvery picks (half-up
    * and half-away rounding agree on positives), so the scaled oracle
    * replays the identical seed set at ANY scale factor with no literal
    * baked in. */
  private def scaledInitExpr(from: String = "embeddings"): String =
    s"(SELECT greatest(2, CAST(round(sqrt(count(*)), 0) AS BIGINT)) FROM $from)"

  /** [[kmeansCteBlock]] with the init stride as an arbitrary SQL scalar
    * expression (a literal for the fixed-sizing family, the
    * [[scaledInitExpr]] subquery for the √N family). */
  private def kmeansCteBlockExpr(initExpr: String, iters: Int = 3,
      from: String = "embeddings", prefix: String = ""): String = {
    val init = s"${prefix}c0 AS (SELECT vec_id AS cell_id, embedding AS c_emb " +
      s"FROM $from WHERE vec_id % $initExpr = 0)"
    val its = (1 to iters).map { i =>
      s"""${prefix}a$i AS (
         |  SELECT vec_id, embedding, cell_id FROM (
         |    SELECT e.vec_id, e.embedding, c.cell_id,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(c.c_emb AS DOUBLE[]))
         |          / sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
         |               * list_inner_product(CAST(c.c_emb AS DOUBLE[]), CAST(c.c_emb AS DOUBLE[]))) DESC,
         |        c.cell_id ASC) AS rn
         |    FROM $from e, ${prefix}c${i - 1} c
         |  ) WHERE rn = 1
         |), ${prefix}m$i AS (
         |  SELECT cell_id, u.lane AS lane, round(avg(u.v), 6) AS m FROM (
         |    SELECT cell_id, unnest(list_transform(range(1, len(embedding) + 1),
         |      j -> struct_pack(lane := j - 1, v := CAST(embedding[j] AS DOUBLE)))) AS u
         |    FROM ${prefix}a$i
         |  ) GROUP BY cell_id, u.lane
         |), ${prefix}c$i AS (
         |  SELECT cell_id, list_transform(list(m ORDER BY lane), x -> CAST(x AS FLOAT)) AS c_emb
         |  FROM ${prefix}m$i GROUP BY cell_id
         |)""".stripMargin
    }
    s"$init,\n${its.mkString(",\n")}"
  }

  /** txt_pref_pairs oracle — shared verbatim by the steady sibling
    * (landed ≡ direct): the dedup_keep_best closure (same planted
    * corpus, same exact-Jaccard pair set), then per component the
    * opposite-facing lexicographic extremes and min/max scores. */
  private val prefPairsOracleSql: String =
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' graftdup' FROM documents WHERE doc_id % 10 = 0
        |), toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM base
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(w) - 1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [array_to_string(w, ' ')] END AS s
        |  FROM toks
        |), pairs AS (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  ) WHERE jaccard >= 0.7
        |), e AS (
        |  SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION
        |  SELECT doc_b, doc_a FROM pairs
        |), reach(n, m) AS (
        |  SELECT u, u FROM e
        |  UNION
        |  SELECT reach.n, e.v FROM reach JOIN e ON reach.m = e.u
        |), comps AS (
        |  SELECT n AS node, min(m) AS component FROM reach GROUP BY n
        |), labeled AS (
        |  SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS s,
        |    CAST(c.component AS BIGINT) AS component
        |  FROM base d JOIN comps c ON d.doc_id = c.node
        |), sel AS (
        |  SELECT component, doc_id, s,
        |    row_number() OVER (PARTITION BY component ORDER BY s DESC, doc_id ASC) AS rc,
        |    row_number() OVER (PARTITION BY component ORDER BY s ASC, doc_id DESC) AS rr
        |  FROM labeled
        |)
        |SELECT component,
        |  max(CASE WHEN rc = 1 THEN doc_id END) AS chosen_id,
        |  max(CASE WHEN rr = 1 THEN doc_id END) AS rejected_id,
        |  max(s) AS chosen_score,
        |  min(s) AS rejected_score,
        |  count(*) AS n_members
        |FROM sel GROUP BY component""".stripMargin

  /** The TWO-LEVEL k-means training recurrence as a reusable CTE block
    * ending in `c<iters>` (trained centroids) / `m<iters>` (per-lane
    * means) — the oracle replay of
    * [[graft.operators.Similarity.kmeansCentroidsHier]], the round-15
    * trainer every k∝N (SemDedup-sized) call site adopts. Same init and
    * re-center CTEs as [[kmeansCteBlockExpr]]; the per-iteration
    * assignment is the PRUNED recurrence instead of the flat N×k argmax:
    * train a ⌈√k⌉-seed coarse level over the previous frontier
    * ([[hierIndexCtes]], prefix `kt<i>`), then the two-stage argmax of
    * the corpus against it ([[hierAsgCtes]], name `kta<i>`). Each
    * frontier `c<i>` is AS MATERIALIZED — it feeds the next iteration's
    * index AND (in several adopters) a downstream cell list, and
    * DuckDB's default inlining would re-expand the whole embedded
    * training per reference (the pageRankOracleSql lesson). The FLAT
    * block remains the oracle for the flat trainer's own entry
    * (`sim_kmeans`) and the √N-sized family ([[scaledInitExpr]]), which
    * keep the exact trainer by design. */
  private def kmeansHierCteBlock(initEvery: Int = 29, iters: Int = 3,
      from: String = "embeddings", prefix: String = ""): String = {
    val init = s"${prefix}c0 AS (SELECT vec_id AS cell_id, embedding AS c_emb " +
      s"FROM $from WHERE vec_id % $initEvery = 0)"
    val its = (1 to iters).map { i =>
      s"""${hierIndexCtes(s"${prefix}c${i - 1}", p = s"${prefix}kt$i")},
         |${hierAsgCtes(from, s"${prefix}kta$i", p = s"${prefix}kt$i")},
         |${prefix}m$i AS (
         |  SELECT cell_id, u.lane AS lane, round(avg(u.v), 6) AS m FROM (
         |    SELECT cell_id, unnest(list_transform(range(1, len(embedding) + 1),
         |      j -> struct_pack(lane := j - 1, v := CAST(embedding[j] AS DOUBLE)))) AS u
         |    FROM ${prefix}kta$i
         |  ) GROUP BY cell_id, u.lane
         |), ${prefix}c$i AS MATERIALIZED (
         |  SELECT cell_id, list_transform(list(m ORDER BY lane), x -> CAST(x AS FLOAT)) AS c_emb
         |  FROM ${prefix}m$i GROUP BY cell_id
         |)""".stripMargin
    }
    s"$init,\n${its.mkString(",\n")}"
  }

  /** The SIZE-DISPATCHED training recurrence — the oracle replay of
    * [[graft.operators.Similarity.kmeansCentroidsAuto]], the round-16
    * trainer every k∝N (SemDedup-sized) adopter uses. Emits BOTH
    * recurrences under disjoint prefixes (`fl` — the exact flat
    * [[kmeansCteBlockExpr]]; `hx` — the two-level pruned
    * [[kmeansHierCteBlock]]) plus the dispatch scalar (`kdis` — the
    * SAME deterministic seed count the Scala side measures, against the
    * same pinned [[graft.operators.Similarity.FlatTrainerMaxSeeds]]
    * boundary), and selects the matching frontier into the `c<iters>` /
    * `m<iters>` names the adopting oracles consume — so one SQL string
    * replays the dispatched trainer at ANY scale factor. The dead
    * branch's CTEs still evaluate at oracle scale (sf ≤ 0.01 — both
    * recurrences are sub-second there); the point is the predicate, not
    * the oracle's wall-clock. `c<iters>` is AS MATERIALIZED: adopters
    * reference it 2+ times and DuckDB's default inlining would re-expand
    * both embedded trainings per reference (the pageRankOracleSql
    * lesson). */
  private def kmeansAutoCteBlock(initEvery: Int = 29, iters: Int = 3,
      from: String = "embeddings"): String =
    s"""${kmeansCteBlockExpr(initEvery.toString, iters, from, prefix = "fl")},
       |${kmeansHierCteBlock(initEvery, iters, from, prefix = "hx")},
       |kdis AS MATERIALIZED (
       |  SELECT (SELECT count(*) FROM $from WHERE vec_id % $initEvery = 0)
       |    <= ${graft.operators.Similarity.FlatTrainerMaxSeeds} AS use_flat
       |),
       |m$iters AS (
       |  SELECT cell_id, lane, m FROM flm$iters WHERE (SELECT use_flat FROM kdis)
       |  UNION ALL
       |  SELECT cell_id, lane, m FROM hxm$iters WHERE NOT (SELECT use_flat FROM kdis)
       |),
       |c$iters AS MATERIALIZED (
       |  SELECT cell_id, c_emb FROM flc$iters WHERE (SELECT use_flat FROM kdis)
       |  UNION ALL
       |  SELECT cell_id, c_emb FROM hxc$iters WHERE NOT (SELECT use_flat FROM kdis)
       |)""".stripMargin

  /** Shared cosine-similarity SQL fragment (DOUBLE casts on both sides —
    * the house cross-engine cosine spelling). */
  private def cosSql(a: String, b: String): String =
    s"""list_inner_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))
       |        / sqrt(list_inner_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[]))
       |             * list_inner_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[])))""".stripMargin

  /** The TWO-LEVEL assignment's per-CENTROID-SET CTEs — the
    * [[graft.operators.Similarity.hierIndex]] replay over trained
    * centroids in CTE `cents` (cell_id, c_emb): dense-rank the centroid
    * rows (`${p}cden`), train the coarse level with the same Lloyd's
    * block (prefix `${p}g`, init every ⌈√k⌉-th — TRAINED, not
    * subsampled), group every centroid under its nearest coarse centroid
    * (`${p}grouped`), and keep only coarse centroids that own ≥1 member
    * after the regroup (`${p}live` — the completeness semi-join: a
    * vector routed to an emptied group would otherwise vanish through
    * the member join). Multiply-referenced CTEs are AS MATERIALIZED
    * (the pageRankOracleSql lesson: DuckDB's default inlining re-expands
    * the embedded k-means training once per reference). Shared by every
    * round-14 hier-adoption oracle. */
  private def hierIndexCtes(cents: String, p: String = "h",
      iters: Int = 3): String =
    s"""${p}cmat AS MATERIALIZED (SELECT cell_id, c_emb FROM $cents),
       |${p}cden AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY cell_id) - 1 AS vec_id,
       |    c_emb AS embedding
       |  FROM ${p}cmat
       |),
       |${kmeansCteBlockExpr(
             s"(SELECT greatest(1, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM ${p}cmat)",
             iters, from = s"${p}cden", prefix = s"${p}g")},
       |${p}coarse AS MATERIALIZED (
       |  SELECT cell_id AS g_id, c_emb AS g_emb FROM ${p}gc$iters
       |), ${p}grouped AS MATERIALIZED (
       |  SELECT cell_id, c_emb, g_id FROM (
       |    SELECT c.cell_id, c.c_emb, co.g_id,
       |      row_number() OVER (PARTITION BY c.cell_id ORDER BY
       |        ${cosSql("c.c_emb", "co.g_emb")} DESC,
       |        co.g_id ASC) AS rn
       |    FROM ${p}cmat c CROSS JOIN ${p}coarse co
       |  ) WHERE rn = 1
       |), ${p}live AS MATERIALIZED (
       |  SELECT g_id, g_emb FROM ${p}coarse
       |  WHERE g_id IN (SELECT g_id FROM ${p}grouped)
       |)""".stripMargin

  /** The TWO-LEVEL assignment's per-VECTOR-SET CTEs over source CTE/table
    * `src` (vec_id, embedding) against [[hierIndexCtes]]' index (prefix
    * `p`): the stage-1 argmax over the live coarse set and the
    * within-group argmax over the member table, ending in `$name`
    * (vec_id, cell_id, embedding). Both stages carry the engine's
    * (score DESC, id ASC) tie-break. `$name` is MATERIALIZED — the
    * adopting oracles self-join it. */
  private def hierAsgCtes(src: String, name: String,
      p: String = "h"): String =
    s"""${name}v1 AS (
       |  SELECT vec_id, embedding, g_id FROM (
       |    SELECT e.vec_id, e.embedding, co.g_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosSql("e.embedding", "co.g_emb")} DESC,
       |        co.g_id ASC) AS rn
       |    FROM $src e CROSS JOIN ${p}live co
       |  ) WHERE rn = 1
       |), $name AS MATERIALIZED (
       |  SELECT vec_id, cell_id, embedding FROM (
       |    SELECT v.vec_id, v.embedding, g.cell_id,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |        ${cosSql("v.embedding", "g.c_emb")} DESC,
       |        g.cell_id ASC) AS rn
       |    FROM ${name}v1 v JOIN ${p}grouped g ON v.g_id = g.g_id
       |  ) WHERE rn = 1
       |)""".stripMargin

  private def annOracleSql: String = {
    val planes = graft.operators.Similarity.planeVectors()
    val sigTerms = planes.zipWithIndex.map { case (v, p) =>
      val lit = v.mkString("[", ", ", "]")
      s"(CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), $lit) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n      + ")
    s"""WITH sig AS (
       |  SELECT vec_id, embedding,
       |      $sigTerms AS hsig
       |  FROM embeddings
       |), banded AS (
       |  SELECT vec_id, embedding, b.band, (hsig >> (b.band * 4)) & 15 AS bucket
       |  FROM sig, (SELECT unnest(range(0, 4)) AS band) b
       |), cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
       |  FROM banded q JOIN banded c ON q.band = c.band AND q.bucket = c.bucket
       |  WHERE q.vec_id IN (0, 100, 200, 300, 400) AND c.vec_id <> q.vec_id
       |)
       |SELECT query_id, vec_id, score FROM (
       |  SELECT query_id, vec_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
       |  FROM (
       |    SELECT cand.query_id, cand.vec_id,
       |      list_inner_product(CAST(qe.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[]))
       |        / sqrt(list_inner_product(CAST(qe.embedding AS DOUBLE[]), CAST(qe.embedding AS DOUBLE[]))
       |             * list_inner_product(CAST(ce.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[]))) AS score
       |    FROM cand
       |    JOIN embeddings qe ON qe.vec_id = cand.query_id
       |    JOIN embeddings ce ON ce.vec_id = cand.vec_id
       |  ) WHERE NOT isnan(score)
       |) WHERE rn <= 5""".stripMargin
  }

  /** sim_topk_ann_mp oracle: the annOracleSql signature/banding CTEs
    * with the query side fanned out to its Hamming-1 bucket ring
    * (xor with each single-bit mask, plus the self bucket via xor 0) —
    * the exact probe set the operator explodes — then the same DISTINCT
    * candidate pairs + true-cosine rank tail. */
  private def annMpOracleSql(bitsPerBand: Int = 4, k: Int = 5): String = {
    val planes = graft.operators.Similarity.planeVectors()
    val sigTerms = planes.zipWithIndex.map { case (v, p) =>
      val lit = v.mkString("[", ", ", "]")
      s"(CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), $lit) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n      + ")
    val masks = (0L +: (0 until bitsPerBand).map(i => 1L << i))
      .mkString("[", ", ", "]")
    s"""WITH sig AS (
       |  SELECT vec_id, embedding,
       |      $sigTerms AS hsig
       |  FROM embeddings
       |), banded AS (
       |  SELECT vec_id, embedding, b.band, (hsig >> (b.band * $bitsPerBand)) & ${(1L << bitsPerBand) - 1} AS bucket
       |  FROM sig, (SELECT unnest(range(0, ${16 / bitsPerBand})) AS band) b
       |), qprobes AS (
       |  SELECT vec_id, band, xor(bucket, m.m) AS bucket
       |  FROM banded, (SELECT unnest($masks) AS m) m
       |  WHERE vec_id IN (0, 100, 200, 300, 400)
       |), cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
       |  FROM qprobes q JOIN banded c ON q.band = c.band AND q.bucket = c.bucket
       |  WHERE c.vec_id <> q.vec_id
       |)
       |SELECT query_id, vec_id, score FROM (
       |  SELECT query_id, vec_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
       |  FROM (
       |    SELECT cand.query_id, cand.vec_id,
       |      list_inner_product(CAST(qe.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[]))
       |        / sqrt(list_inner_product(CAST(qe.embedding AS DOUBLE[]), CAST(qe.embedding AS DOUBLE[]))
       |             * list_inner_product(CAST(ce.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[]))) AS score
       |    FROM cand
       |    JOIN embeddings qe ON qe.vec_id = cand.query_id
       |    JOIN embeddings ce ON ce.vec_id = cand.vec_id
       |  ) WHERE NOT isnan(score)
       |) WHERE rn <= $k""".stripMargin
  }

  /** sim_topk_ivfpq_res oracle: trained coarse cells (the two-level
    * [[kmeansAutoCteBlock]] — round-16 size dispatch), the
    * cosine-argmax assignment KEEPING (embedding, c_emb),
    * the DOUBLE residual table, per-subspace Lloyd's trained ON the
    * residuals (trainedCbCtes with from = resid), then the residual ADC
    * body — encode argmin over residual slices, per-probe q·c additive
    * term, LUT sum, 6-dp round, k-cut. The full production form replayed
    * end to end in SQL. */
  private def ivfPqResOracleSql(m: Int = 8, kc: Int = 16, subDim: Int = 8,
      k: Int = 5, nprobe: Int = 4, iters: Int = 3): String = {
    val cos = (a: String, b: String) =>
      s"""list_inner_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))
         |          / sqrt(list_inner_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[]))
         |               * list_inner_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[])))""".stripMargin
    s"""WITH ${kmeansAutoCteBlock(29, iters)},
       |asgc AS (
       |  SELECT vec_id, cell_id, embedding, c_emb FROM (
       |    SELECT e.vec_id, e.embedding, c.cell_id, c.c_emb,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cos("e.embedding", "c.c_emb")} DESC,
       |        c.cell_id ASC) AS rn
       |    FROM embeddings e CROSS JOIN c$iters c
       |  ) WHERE rn = 1
       |), resid AS (
       |  SELECT vec_id, cell_id,
       |    list_transform(range(1, len(embedding) + 1),
       |      i -> CAST(embedding[i] AS DOUBLE) - CAST(c_emb[i] AS DOUBLE)) AS embedding
       |  FROM asgc
       |),
       |${trainedCbCtes(m, kc, subDim, 31, 2, from = "resid")},
       |probes AS (
       |  SELECT query_id, cell_id, qc FROM (
       |    SELECT q.vec_id AS query_id, c.cell_id,
       |      list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(c.c_emb AS DOUBLE[])) AS qc,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${cos("q.embedding", "c.c_emb")} DESC,
       |        c.cell_id ASC) AS rn
       |    FROM embeddings q CROSS JOIN c$iters c
       |    WHERE q.vec_id IN (0, 100, 200, 300, 400)
       |  ) WHERE rn <= $nprobe
       |), dists AS (
       |  SELECT r.vec_id, cb.sub, cb.cell,
       |    cb.n2 - 2 * list_inner_product(
       |      r.embedding[cb.sub*$subDim+1 : cb.sub*$subDim+$subDim], cb.cv) AS d
       |  FROM resid r, cb
       |), codes AS (
       |  SELECT vec_id, sub, cell FROM (
       |    SELECT vec_id, sub, cell,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cell) AS rn
       |    FROM dists)
       |  WHERE rn = 1
       |), lut AS (
       |  SELECT q.vec_id AS query_id, cb.sub, cb.cell,
       |    list_inner_product(
       |      CAST(q.embedding[cb.sub*$subDim+1 : cb.sub*$subDim+$subDim] AS DOUBLE[]), cb.cv) AS w
       |  FROM embeddings q, cb
       |  WHERE q.vec_id IN (0, 100, 200, 300, 400)
       |), cand AS (
       |  SELECT p.query_id, a.vec_id, p.qc
       |  FROM probes p JOIN resid a ON a.cell_id = p.cell_id
       |  WHERE a.vec_id <> p.query_id
       |), scored AS (
       |  SELECT n.query_id, n.vec_id, round(max(n.qc) + sum(l.w), 6) AS score
       |  FROM cand n
       |  JOIN codes c ON c.vec_id = n.vec_id
       |  JOIN lut l ON l.query_id = n.query_id AND l.sub = c.sub AND l.cell = c.cell
       |  GROUP BY 1, 2
       |)
       |SELECT query_id, vec_id, score FROM (
       |  SELECT query_id, vec_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
       |  FROM scored)
       |WHERE rn <= $k""".stripMargin
  }

  /** txt_bm25_prf oracle: the txt_bm25 scoring body twice — pass 1 cut
    * to the fb feedback docs, the (count DESC, term ASC) expansion pick
    * excluding the original terms, then the identical scoring body over
    * original ∪ expansion (a term-set subquery instead of a literal
    * list — same tf/df/score expressions verbatim). */
  private def bm25PrfOracleSql(fb: Int = 10, e: Int = 5, k: Int = 25): String = {
    val qlist = TextAnalysis.searchQuery.map("'" + _ + "'").mkString(", ")
    val scoreBody =
      """round(sum(
        |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1.0)
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |  ), 6)""".stripMargin
    s"""WITH lens AS (
       |  SELECT doc_id,
       |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS dl
       |  FROM documents
       |), stats AS (
       |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens
       |), toks AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS term
       |  FROM documents
       |), tf1 AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks
       |  WHERE term IN ($qlist) GROUP BY doc_id, term
       |), dfs1 AS (
       |  SELECT term, count(*) AS df FROM tf1 GROUP BY term
       |), base AS (
       |  SELECT doc_id, $scoreBody AS score
       |  FROM tf1 JOIN dfs1 USING (term) JOIN lens USING (doc_id) CROSS JOIN stats
       |  GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT $fb
       |), expterms AS (
       |  SELECT term FROM (
       |    SELECT t.term, count(*) AS n
       |    FROM toks t JOIN base b ON b.doc_id = t.doc_id
       |    WHERE t.term NOT IN ($qlist)
       |    GROUP BY t.term ORDER BY n DESC, t.term LIMIT $e)
       |), allterms AS (
       |  SELECT unnest([$qlist]) AS term UNION SELECT term FROM expterms
       |), tf2 AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks
       |  WHERE term IN (SELECT term FROM allterms) GROUP BY doc_id, term
       |), dfs2 AS (
       |  SELECT term, count(*) AS df FROM tf2 GROUP BY term
       |)
       |SELECT doc_id, $scoreBody AS score
       |FROM tf2 JOIN dfs2 USING (term) JOIN lens USING (doc_id) CROSS JOIN stats
       |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** sim_density_prune oracle: the knn-graph block as a CTE, per-vector
    * mean edge score (6-dp), the exact-percentile cutoff (quantile_cont
    * ≡ Spark percentile — the calibrated-quality convention), ties and
    * NULL-density (edgeless) vectors keeping. */
  private def densityPruneOracleSql(nn: Int = 4, pct: Double = 0.2): String =
    s"""WITH g AS (
       |${knnGraphOracleSql(nn = nn)}
       |), dens AS (
       |  SELECT vec_id, round(avg(score), 6) AS density FROM g GROUP BY vec_id
       |), cut AS (
       |  SELECT round(quantile_cont(density, ${1.0 - pct}), 6) AS cutoff FROM dens
       |)
       |SELECT e.vec_id, d.density
       |FROM embeddings e LEFT JOIN dens d ON d.vec_id = e.vec_id, cut
       |WHERE d.density IS NULL OR d.density <= cut.cutoff""".stripMargin

  /** sim_topk_pq oracle, generated: the PQ codebook is deterministic
    * (seeded splitmix64 plan literals), so the oracle embeds the SAME
    * m×kc centroid vectors and reproduces encode (argmin of
    * ‖c‖²−2·e_s·c with the same (dist, cell) tie-break), the per-query
    * LUT, and the ADC sum — checking the entire approximate plan. Scores
    * are rounded to 6 dp on both sides before the k-cut (8-term double
    * sums differ across engines in the last ulps by summation order). */
  /** The encode → LUT → ADC-score → top-k body shared by both PQ oracles,
    * over whatever `cb(sub, cell, cv, n2)` CTE precedes it. */
  private def pqSearchBodySql(subDim: Int, k: Int): String =
    s"""dists AS (
       |  SELECT e.vec_id, cb.sub, cb.cell,
       |    cb.n2 - 2 * list_inner_product(
       |      CAST(e.embedding[cb.sub*$subDim+1 : cb.sub*$subDim+$subDim] AS DOUBLE[]), cb.cv) AS d
       |  FROM embeddings e, cb
       |), codes AS (
       |  SELECT vec_id, sub, cell FROM (
       |    SELECT vec_id, sub, cell,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cell) AS rn
       |    FROM dists)
       |  WHERE rn = 1
       |), lut AS (
       |  SELECT q.vec_id AS query_id, cb.sub, cb.cell,
       |    list_inner_product(
       |      CAST(q.embedding[cb.sub*$subDim+1 : cb.sub*$subDim+$subDim] AS DOUBLE[]), cb.cv) AS w
       |  FROM embeddings q, cb
       |  WHERE q.vec_id IN (0, 100, 200, 300, 400)
       |), scored AS (
       |  SELECT l.query_id, c.vec_id, round(sum(l.w), 6) AS score
       |  FROM codes c JOIN lut l ON l.sub = c.sub AND l.cell = c.cell
       |  WHERE c.vec_id <> l.query_id
       |  GROUP BY 1, 2
       |)
       |SELECT query_id, vec_id, score FROM (
       |  SELECT query_id, vec_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
       |  FROM scored)
       |WHERE rn <= $k""".stripMargin

  private def pqOracleSql(m: Int = 8, kc: Int = 16, subDim: Int = 8, k: Int = 5): String = {
    val book = graft.operators.Similarity.pqCodebook(m, kc, subDim)
    val cbRows = book.map { case (s, c, arr) =>
      val vlit = arr.mkString("[", ", ", "]")
      val n2 = arr.map(x => x * x).sum
      s"{'sub': $s, 'cell': $c, 'cv': CAST($vlit AS DOUBLE[]), 'n2': CAST($n2 AS DOUBLE)}"
    }.mkString(",\n      ")
    s"""WITH cb AS (
       |  SELECT unnest([
       |      $cbRows
       |  ], recursive := true)
       |), """.stripMargin + pqSearchBodySql(subDim, k)
  }

  /** sim_topk_ivfpq oracle, generated: the sim_topk_ivf coarse layer
    * (same deterministic every-37th centroids, same cosine-argmax
    * assignment and nprobe tie-breaks) composed with the sim_topk_pq ADC
    * layer (same literal codebook, argmin encode, LUT sum) — candidates
    * restricted to probed cells, exactly the operator's pruning. */
  private def ivfPqOracleSql(m: Int = 8, kc: Int = 16, subDim: Int = 8,
      k: Int = 5, nprobe: Int = 4): String = {
    val book = graft.operators.Similarity.pqCodebook(m, kc, subDim)
    val cbRows = book.map { case (s, c, arr) =>
      val vlit = arr.mkString("[", ", ", "]")
      val n2 = arr.map(x => x * x).sum
      s"{'sub': $s, 'cell': $c, 'cv': CAST($vlit AS DOUBLE[]), 'n2': CAST($n2 AS DOUBLE)}"
    }.mkString(",\n      ")
    s"""WITH cb AS (
       |  SELECT unnest([
       |      $cbRows
       |  ], recursive := true)
       |), """.stripMargin + ivfPqBodySql(subDim, k, nprobe,
      "SELECT vec_id AS cell_id, embedding AS c_emb FROM embeddings WHERE vec_id % 37 = 0")
  }

  /** sim_kmeans_assign oracle: the trained centroids (the two-level
    * [[kmeansAutoCteBlock]] — round-16 size dispatch) + the
    * cosine-argmax assignment with the engine's (score DESC, cell ASC)
    * tie-break. */
  /** sim_psi_drift oracle: cells trained on the even-id half only (the
    * kmeans CTE block with from = base), BOTH halves binned under the
    * identical TWO-LEVEL assignment (round-14 adoption — same
    * [[hierIndexCtes]]/[[hierAsgCtes]] stages as every other adopter),
    * add-one smoothing over the full trained cell list, p's rounded
    * 6 dp BEFORE the contribution. */
  private def psiDriftOracleSql(iters: Int = 3): String = {
    s"""WITH base AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
       |cur AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 <> 0),
       |${kmeansAutoCteBlock(29, iters, from = "base")},
       |${hierIndexCtes(s"c$iters")},
       |${hierAsgCtes("base", "basg")},
       |${hierAsgCtes("cur", "casg")},
       |nb AS (SELECT cell_id, count(*) AS n FROM basg GROUP BY cell_id),
       |nc AS (SELECT cell_id, count(*) AS n FROM casg GROUP BY cell_id),
       |cells AS (SELECT DISTINCT cell_id FROM c$iters),
       |j AS (
       |  SELECT cells.cell_id,
       |    coalesce(nb.n, 0) AS n_base, coalesce(nc.n, 0) AS n_cur
       |  FROM cells LEFT JOIN nb ON cells.cell_id = nb.cell_id
       |             LEFT JOIN nc ON cells.cell_id = nc.cell_id
       |), t AS (
       |  SELECT CAST(sum(n_base) AS BIGINT) AS tb,
       |    CAST(sum(n_cur) AS BIGINT) AS tc, count(*) AS k FROM j
       |), p AS (
       |  SELECT cell_id, n_base, n_cur,
       |    round((n_base + 1.0) / (tb + k), 6) AS p_base,
       |    round((n_cur + 1.0) / (tc + k), 6) AS p_cur
       |  FROM j, t
       |)
       |SELECT cell_id, n_base, n_cur, p_base, p_cur,
       |  round((p_base - p_cur) * ln(p_base / p_cur), 6) AS contrib
       |FROM p""".stripMargin
  }

  /** sim_kmeans_assign oracle (round-14 hier adoption): the trained
    * centroids (the size-dispatched [[kmeansAutoCteBlock]] — round-16 size
    * dispatch), then the
    * TWO-LEVEL assignment replayed stage for stage — the coarse level
    * TRAINED by the same Lloyd's recurrence over the centroid set under
    * dense rank ids ([[hierIndexCtes]]), each centroid grouped under its
    * nearest coarse centroid, each vector argmaxed over the LIVE coarse
    * set and then over its picked group's members ([[hierAsgCtes]]).
    * Every argmax carries the engine's (score DESC, id ASC) tie-break. */
  private def kmeansAssignOracleSql(iters: Int = 3): String =
    s"""WITH ${kmeansAutoCteBlock(29, iters)},
       |${hierIndexCtes(s"c$iters")},
       |${hierAsgCtes("embeddings", "asg")}
       |SELECT vec_id, cell_id FROM asg""".stripMargin

  /** sim_kmeans_assign_flat oracle — the exact O(N·k) flat argmax over
    * the same trained centroids (r13's sim_kmeans_assign plan, kept as
    * the exactness baseline / crossover comparator after the hier
    * adoption). */
  private def kmeansAssignFlatOracleSql(iters: Int = 3): String =
    s"""WITH ${kmeansAutoCteBlock(29, iters)}
       |SELECT vec_id, cell_id FROM (
       |  SELECT e.vec_id, c.cell_id,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${cosSql("e.embedding", "c.c_emb")} DESC,
       |      c.cell_id ASC) AS rn
       |  FROM embeddings e CROSS JOIN c$iters c
       |) WHERE rn = 1""".stripMargin

  /** sim_kmeans_assign_hier oracle: landed ≡ trained, and after the
    * round-14 adoption the two-level assignment IS sim_kmeans_assign's
    * plan — one oracle. */
  private def hierAssignOracleSql(iters: Int = 3): String =
    kmeansAssignOracleSql(iters)

  /** dedup_semantic oracle: the planted near-dup corpus (same `base` CTE
    * as dedup_embed_cos), k-means trained ON that corpus (the two-level
    * [[kmeansAutoCteBlock]], `from = base` — round-16 size dispatch),
    * the TWO-LEVEL assignment
    * (round-14 adoption — [[hierIndexCtes]]/[[hierAsgCtes]]), within-cell
    * pairwise cosine ≥ τ, keep-smallest anti-join — the full SemDedup
    * recurrence replayed in SQL. */
  private def semanticDedupOracleSql(iters: Int = 3, tau: Double = 0.999): String =
    s"""WITH base AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 500000,
       |         list_transform(embedding, x -> CAST(x * 1.01 AS FLOAT))
       |  FROM embeddings WHERE vec_id % 20 = 0
       |), ${kmeansAutoCteBlock(29, iters, from = "base")},
       |${hierIndexCtes(s"c$iters")},
       |${hierAsgCtes("base", "asg")},
       |drops AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM asg a
       |  JOIN asg b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.embedding", "b.embedding")} >= $tau
       |)
       |SELECT vec_id FROM base WHERE vec_id NOT IN (SELECT vec_id FROM drops)""".stripMargin

  /** dedup_incr_semantic oracle: cells trained on the CORPUS only (the
    * production asymmetry — arrivals never influence the quantizer),
    * the batch (scaled near-copies + negated fresh vectors) assigned to
    * those cells, drops = batch-vs-corpus same-cell cosine ≥ τ plus
    * smaller-id batch-vs-batch same-cell pairs, survivors = batch minus
    * drops. */
  private def incrSemanticOracleSql(iters: Int = 3, tau: Double = 0.999): String =
    s"""WITH ${kmeansAutoCteBlock(29, iters)},
       |${hierIndexCtes(s"c$iters")},
       |batch AS MATERIALIZED (
       |  SELECT vec_id + 500000 AS vec_id,
       |         list_transform(embedding, x -> CAST(x * 1.01 AS FLOAT)) AS embedding
       |  FROM embeddings
       |  WHERE vec_id % 20 = 0 AND vec_id < ${Dedup.FixedBatchVecIdBound}
       |  UNION ALL
       |  SELECT vec_id + 600000,
       |         list_transform(embedding, x -> CAST(-x AS FLOAT))
       |  FROM embeddings
       |  WHERE vec_id % 30 = 7 AND vec_id < ${Dedup.FixedBatchVecIdBound}
       |),
       |${hierAsgCtes("batch", "basg")},
       |${hierAsgCtes("embeddings", "casg")},
       |drops AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM basg b JOIN casg m ON b.cell_id = m.cell_id
       |  WHERE ${cosSql("b.embedding", "m.embedding")} >= $tau
       |  UNION
       |  SELECT DISTINCT b.vec_id
       |  FROM basg a JOIN basg b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.embedding", "b.embedding")} >= $tau
       |)
       |SELECT vec_id FROM batch WHERE vec_id NOT IN (SELECT vec_id FROM drops)""".stripMargin

  /** dedup_semantic_text oracle: the semanticDedup recurrence with
    * `base` = the hashed-vector projection of documents (the
    * txt_hash_vectors lanes, cast FLOAT — the embeddings-table shape)
    * instead of the embeddings table; zero-token docs excluded so no
    * zero vector enters the cosine space (NaN comparison semantics
    * differ between engines). */
  private def semanticDedupTextOracleSql(iters: Int = 3,
      tau: Double = 0.99): String =
    s"""WITH dt AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
       |  FROM documents
       |), hv AS (
       |  SELECT doc_id,
       |    list_transform(range(8), j -> CAST(len(list_filter(toks,
       |      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS UBIGINT) % 8 = j)) AS DOUBLE)) AS v
       |  FROM dt WHERE len(toks) > 0
       |), base AS MATERIALIZED (
       |  SELECT doc_id AS vec_id,
       |    list_transform(v, x -> CAST(round(x / sqrt(list_sum(list_transform(v, y -> y * y))), 6) AS FLOAT)) AS embedding
       |  FROM hv
       |), ${kmeansAutoCteBlock(29, iters, from = "base")},
       |${hierIndexCtes(s"c$iters")},
       |${hierAsgCtes("base", "asg")},
       |drops AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM asg a
       |  JOIN asg b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.embedding", "b.embedding")} >= $tau
       |)
       |SELECT vec_id FROM base WHERE vec_id NOT IN (SELECT vec_id FROM drops)""".stripMargin

  /** txt_semantic_search oracle: the hashed-vector base (txt_hash_vectors
    * lanes, FLOAT-cast) scored against the SAME hashing of the probe
    * string — computed in SQL over a 1-row VALUES — with the
    * sim_topk_cosine scoring/rank tail (NaN zero-vector skip included).
    * The probe interpolates into a single-quoted SQL literal: quotes
    * double ('' — the one escape both engines share), and backslashes
    * are rejected rather than guessed at (DuckDB treats them literally,
    * other dialects don't — no current probe carries one). */
  private def semanticSearchOracleSql(query: String, k: Int = 10): String = {
    require(!query.contains('\\'),
      "oracle probe must not contain backslashes (dialect-dependent escaping)")
    val q = query.replace("'", "''")
    s"""WITH dt AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT CAST(-1 AS BIGINT) AS doc_id, '$q' AS text
       |), hv AS (
       |  SELECT doc_id,
       |    list_transform(range(8), j -> CAST(len(list_filter(
       |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0),
       |      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS UBIGINT) % 8 = j)) AS DOUBLE)) AS v
       |  FROM dt
       |), base AS (
       |  SELECT doc_id AS vec_id,
       |    list_transform(v, x -> CAST(CASE
       |      WHEN sqrt(list_sum(list_transform(v, y -> y * y))) = 0 THEN 0.0
       |      ELSE round(x / sqrt(list_sum(list_transform(v, y -> y * y))), 6)
       |    END AS FLOAT)) AS embedding
       |  FROM hv
       |)
       |SELECT query_id, vec_id, score FROM (
       |  SELECT query_id, vec_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
       |  FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
       |      list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
       |        / sqrt(list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
       |             * list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) AS score
       |    FROM base q JOIN base e ON e.vec_id >= 0
       |    WHERE q.vec_id = -1
       |  ) WHERE NOT isnan(score)
       |) WHERE rn <= $k""".stripMargin
  }

  /** sim_cluster_sample oracle: the TWO-LEVEL trained assignment (same
    * CTE blocks as sim_kmeans_assign — round-14 adoption) + a per-cell
    * rank over the identical md5 order. */
  private def clusterSampleOracleSql(iters: Int = 3, k: Int = 5): String =
    s"""WITH ${kmeansAutoCteBlock(29, iters)},
       |${hierIndexCtes(s"c$iters")},
       |${hierAsgCtes("embeddings", "asg")}
       |SELECT cell_id, vec_id FROM (
       |  SELECT cell_id, vec_id,
       |    row_number() OVER (PARTITION BY cell_id
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |  FROM asg
       |) WHERE rn <= $k""".stripMargin

  /** The composed trained oracle: k-means coarse cells ([[kmeansCteBlock]])
    * × Lloyd's PQ codebook ([[trainedCbCtes]]) feeding the same
    * prune+ADC body — the cross-engine check of the END-TO-END trained
    * production stack. */
  private def ivfPqTrainedOracleSql(m: Int = 8, kc: Int = 16, subDim: Int = 8,
      k: Int = 5, nprobe: Int = 4,
      queryIds: String = "(0, 100, 200, 300, 400)"): String =
    s"WITH ${kmeansAutoCteBlock(29, 3)},\n${trainedCbCtes(m, kc, subDim, 31, 2)}, " +
      ivfPqBodySql(subDim, k, nprobe, "SELECT cell_id, c_emb FROM c3", queryIds)

  /** The √N-sized sibling of [[ivfPqTrainedOracleSql]]: the identical
    * composed replay with the k-means init stride swapped for the
    * corpus-count-derived [[scaledInitExpr]] — DuckDB trains the same
    * ≈√N coarse cells the scaled landed artifacts hold, then runs the
    * same prune+ADC body. Shared PQ book (training is coarse-independent,
    * the landedQuantizers contract). */
  private def ivfPqScaledOracleSql(m: Int = 8, kc: Int = 16, subDim: Int = 8,
      k: Int = 5, nprobe: Int = 4,
      queryIds: String = "(0, 100, 200, 300, 400)"): String =
    s"WITH ${kmeansCteBlockExpr(scaledInitExpr(), 3)},\n${trainedCbCtes(m, kc, subDim, 31, 2)}, " +
      ivfPqBodySql(subDim, k, nprobe, "SELECT cell_id, c_emb FROM c3", queryIds)

  /** sim_topk_refine oracle: the given IVF-PQ stage-1 block widened to
    * r·k candidates (verbatim as a CTE — DuckDB allows a WITH inside a
    * CTE body, the annRecall device), then the exact-cosine re-rank over
    * just those (query, candidate) pairs with sim_topk_cosine's NaN
    * filter and (score DESC, vec_id) tie-break. */
  private def refineOracleSql(stage1: String, k: Int = 5): String =
    s"""WITH cand AS (
       |$stage1
       |), rer AS (
       |  SELECT c.query_id, c.vec_id,
       |    list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
       |      / sqrt(list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
       |           * list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) AS score
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.vec_id
       |  JOIN embeddings q ON q.vec_id = c.query_id
       |)
       |SELECT query_id, vec_id, score FROM (
       |  SELECT query_id, vec_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
       |  FROM rer WHERE NOT isnan(score)
       |) WHERE rn <= $k""".stripMargin

  /** txt_hybrid_rrf_steady oracle: the lexical branch is txt_hybrid_rrf's
    * BM25 replay verbatim (the landed bucket-pruned serve computes the
    * identical scoring expression — the txt_bm25_steady precedent); the
    * dense branch replays the APPROXIMATE index-backed leg exactly, the
    * sim_topk_ivfpq_* house style: trained quantizers (k-means cells +
    * Lloyd's codebook in SQL), the pruned ADC cut widened to r·depth for
    * query vec 0 only, the exact-cosine re-rank over just those
    * candidates (refineOracleSql), a depth-cut rank window, and the same
    * 1/(k0+rank) fusion tail in the same lex-then-dense association
    * order. */
  private def hybridSteadyOracleSql(depth: Int = 50, k: Int = 25,
      k0: Int = 60, r: Int = 4): String =
    s"""WITH dense0 AS (
       |${refineOracleSql(ivfPqTrainedOracleSql(k = depth * r, queryIds = "(0)"), depth)}
       |), denser AS (
       |  SELECT vec_id AS doc_id,
       |    row_number() OVER (ORDER BY score DESC, vec_id) AS r_dense
       |  FROM dense0
       |), lens AS (
       |  SELECT doc_id,
       |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS dl
       |  FROM documents
       |), stats AS (
       |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM (
       |    SELECT doc_id,
       |      unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS term
       |    FROM documents)
       |  WHERE term IN (${TextAnalysis.searchQuery.map("'" + _ + "'").mkString(", ")})
       |  GROUP BY doc_id, term
       |), dfs AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term
       |), bm AS (
       |  SELECT doc_id, round(sum(
       |      ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1.0)
       |        / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
       |    ), 6) AS score
       |  FROM tf JOIN dfs USING (term) JOIN lens USING (doc_id) CROSS JOIN stats
       |  GROUP BY doc_id
       |), lexr AS (
       |  SELECT doc_id, r_lex FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r_lex FROM bm
       |  ) WHERE r_lex <= $depth
       |)
       |SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
       |  round(coalesce(1.0 / ($k0 + l.r_lex), 0) + coalesce(1.0 / ($k0 + d.r_dense), 0), 6) AS rrf
       |FROM lexr l FULL JOIN denser d ON l.doc_id = d.doc_id
       |ORDER BY rrf DESC, doc_id
       |LIMIT $k""".stripMargin

  /** sim_knn_graph oracle: the trained centroids (the two-level
    * [[kmeansAutoCteBlock]] — round-16 size dispatch), the TWO-LEVEL
    * assignment KEEPING the embedding (round-14
    * adoption — [[hierIndexCtes]]/[[hierAsgCtes]]), the within-cell
    * pairwise cosine, and the per-vector (score DESC, nbr) nn-cut with
    * the NaN gate — the whole blocked graph build replayed in SQL. Also
    * the edge CTE of the pagerank/lpa/modularity oracles, which inherit
    * the adoption wholesale. */
  private def knnGraphOracleSql(iters: Int = 3, nn: Int = 4): String =
    s"""WITH ${kmeansAutoCteBlock(29, iters)},
       |${hierIndexCtes(s"c$iters")},
       |${hierAsgCtes("embeddings", "asg")},
       |pairs AS (
       |  SELECT a.vec_id, b.vec_id AS nbr_id,
       |    ${cosSql("a.embedding", "b.embedding")} AS score
       |  FROM asg a JOIN asg b ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id
       |)
       |SELECT vec_id, nbr_id, score FROM (
       |  SELECT vec_id, nbr_id, score,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, nbr_id) AS rn
       |  FROM pairs WHERE NOT isnan(score)
       |) WHERE rn <= $nn""".stripMargin

  /** q_pagerank oracle: the whole sim_knn_graph oracle as the edge CTE
    * (the annRecall WITH-inside-CTE device), then the power method
    * UNROLLED — per iteration a dangling-mass scalar, the weighted
    * contribution aggregate, and the recombine over all vertices. The
    * multiply-referenced CTEs (g/deg/e and every rᵢ — each rank state
    * feeds both the next dangling scalar and the next contribution sum)
    * are pinned AS MATERIALIZED: DuckDB's default inlining re-expands
    * the embedded k-means+graph replay once per reference, which turns
    * the 5-step unroll exponential (measured 146 s vs ~2 s pinned). The
    * damping constants are interpolated as the exact shortest-repr
    * doubles the Spark side computes (`(1.0-d).toString` round-trips to
    * the identical IEEE value via DuckDB's decimal→double cast), and
    * every division is spelled CAST(… AS DOUBLE) so DuckDB never slips
    * into decimal arithmetic; 9-dp rounding absorbs the summation-order
    * drift (ranks are O(1/n), so the house 6 dp would waste the check's
    * discrimination — see GraphRank's Scaladoc). */
  private def pageRankOracleSql(iters: Int = 5, damping: Double = 0.85,
      nn: Int = 4): String = {
    val d = damping.toString
    val omd = (1.0 - damping).toString
    val iterCtes = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      s"""d$i AS (
         |  SELECT coalesce(sum(rank), CAST(0.0 AS DOUBLE)) AS dmass FROM $p
         |  WHERE vec_id NOT IN (SELECT src FROM deg)
         |), c$i AS (
         |  SELECT e.dst AS vec_id, sum(e.w * r.rank) AS contrib
         |  FROM e JOIN $p r ON r.vec_id = e.src GROUP BY 1
         |), r$i AS MATERIALIZED (
         |  SELECT v.vec_id,
         |    CAST('$omd' AS DOUBLE) / nd.n + CAST('$d' AS DOUBLE) *
         |      (coalesce(c.contrib, CAST(0.0 AS DOUBLE)) +
         |       (SELECT dmass FROM d$i) / nd.n) AS rank
         |  FROM v CROSS JOIN nd LEFT JOIN c$i c ON c.vec_id = v.vec_id
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH g AS MATERIALIZED (
       |${knnGraphOracleSql(nn = nn)}
       |), deg AS MATERIALIZED (
       |  SELECT vec_id AS src, count(*) AS deg FROM g GROUP BY 1
       |), e AS MATERIALIZED (
       |  SELECT g.vec_id AS src, g.nbr_id AS dst,
       |    CAST(1.0 AS DOUBLE) / deg.deg AS w
       |  FROM g JOIN deg ON deg.src = g.vec_id
       |), v AS (
       |  SELECT vec_id FROM embeddings
       |), nd AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings
       |), r0 AS MATERIALIZED (
       |  SELECT v.vec_id, CAST(1.0 AS DOUBLE) / nd.n AS rank
       |  FROM v CROSS JOIN nd
       |),
       |$iterCtes
       |SELECT vec_id, round(rank, 9) AS rank FROM r$iters""".stripMargin
  }

  /** q_lpa oracle: the sim_knn_graph oracle as the edge CTE, symmetrized
    * and deduplicated, then the synchronous label-propagation rounds
    * UNROLLED — per round the neighbor votes + one self-vote, the
    * (vec_id, label) count, and the (cnt DESC, label ASC) argmax. The
    * multiply-referenced CTEs are AS MATERIALIZED (the pageRankOracleSql
    * lesson: default inlining re-expands the embedded graph replay once
    * per reference — exponential in rounds). All-integer, so the hash
    * compare is exact with no rounding anywhere. */
  private def lpaOracleSql(iters: Int = 5, nn: Int = 4): String = {
    val iterCtes = (1 to iters).map { i =>
      val p = s"l${i - 1}"
      s"""l$i AS MATERIALIZED (
         |  SELECT vec_id, label FROM (
         |    SELECT vec_id, label,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY cnt DESC, label ASC) AS rn
         |    FROM (
         |      SELECT vec_id, label, count(*) AS cnt FROM (
         |        SELECT e.src AS vec_id, l.label FROM und e
         |        JOIN $p l ON l.vec_id = e.dst
         |        UNION ALL
         |        SELECT vec_id, label FROM $p
         |      ) GROUP BY 1, 2
         |    )
         |  ) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH g AS MATERIALIZED (
       |${knnGraphOracleSql(nn = nn)}
       |), und AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT vec_id AS src, nbr_id AS dst FROM g
       |    UNION ALL
       |    SELECT nbr_id AS src, vec_id AS dst FROM g
       |  )
       |), l0 AS MATERIALIZED (
       |  SELECT vec_id, vec_id AS label FROM embeddings
       |),
       |$iterCtes
       |SELECT vec_id, label AS community FROM l$iters""".stripMargin
  }

  /** q_lpa_sample oracle: the whole LPA replay as a CTE (the
    * WITH-inside-CTE device), then the same md5-ordered per-community
    * cap as clusterSampleOracleSql. */
  private def lpaSampleOracleSql(k: Int = 5): String =
    s"""WITH com AS MATERIALIZED (
       |${lpaOracleSql()}
       |)
       |SELECT community, vec_id FROM (
       |  SELECT community, vec_id,
       |    row_number() OVER (PARTITION BY community
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |  FROM com
       |) WHERE rn <= $k""".stripMargin

  /** q_modularity oracle: the LPA replay + the symmetrized edge CTE,
    * then three integer count aggregates and the one per-community
    * formula — every input to the formula is an exact integer, so no
    * rounding anywhere (see GraphRank.modularity's Scaladoc). */
  private def modularityOracleSql(nn: Int = 4): String =
    s"""WITH com AS MATERIALIZED (
       |${lpaOracleSql(nn = nn)}
       |), g AS MATERIALIZED (
       |${knnGraphOracleSql(nn = nn)}
       |), und AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT vec_id AS src, nbr_id AS dst FROM g
       |    UNION ALL
       |    SELECT nbr_id AS src, vec_id AS dst FROM g
       |  )
       |), md AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM und),
       |labeled AS (
       |  SELECT cs.community AS c_src, cd.community AS c_dst
       |  FROM und e
       |  JOIN com cs ON cs.vec_id = e.src
       |  JOIN com cd ON cd.vec_id = e.dst
       |), ine AS (
       |  SELECT c_src AS community, count(*) AS in_edges FROM labeled
       |  WHERE c_src = c_dst GROUP BY 1
       |), deg AS (
       |  SELECT c_src AS community, count(*) AS deg_sum FROM labeled
       |  GROUP BY 1
       |), mem AS (
       |  SELECT community, count(*) AS n_members FROM com GROUP BY 1
       |)
       |SELECT mem.community, mem.n_members,
       |  coalesce(ine.in_edges, 0) AS in_edges,
       |  coalesce(deg.deg_sum, 0) AS deg_sum,
       |  CAST(coalesce(ine.in_edges, 0) AS DOUBLE) / md.m
       |    - (CAST(coalesce(deg.deg_sum, 0) AS DOUBLE) / md.m)
       |      * (CAST(coalesce(deg.deg_sum, 0) AS DOUBLE) / md.m) AS q_contrib
       |FROM mem
       |LEFT JOIN deg ON deg.community = mem.community
       |LEFT JOIN ine ON ine.community = mem.community
       |CROSS JOIN md""".stripMargin

  /** sim_bitext_mine oracle: trained cells (the two-level
    * [[kmeansAutoCteBlock]] — round-16 size dispatch),
    * the TWO-LEVEL assignment (round-14 adoption), the cell-blocked
    * cross-side pair scoring, both top-k margin denominators, the
    * 6-dp-rounded margin (rounded BEFORE ranking, so the argmax compares
    * identical doubles on both engines), and the mutual-best
    * intersection — the whole mine replayed in SQL. */
  private def bitextOracleSql(iters: Int = 3, k: Int = 4): String = {
    val cos = cosSql _
    s"""WITH ${kmeansAutoCteBlock(29, iters)},
       |${hierIndexCtes(s"c$iters")},
       |${hierAsgCtes("embeddings", "asg")},
       |pairs AS MATERIALIZED (
       |  SELECT src_id, tgt_id, score FROM (
       |    SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
       |      ${cos("a.embedding", "b.embedding")} AS score
       |    FROM asg a JOIN asg b ON a.cell_id = b.cell_id
       |    WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
       |  ) WHERE NOT isnan(score)
       |), ta AS MATERIALIZED (
       |  SELECT src_id, avg(score) AS ax FROM (
       |    SELECT src_id, score, row_number() OVER (
       |      PARTITION BY src_id ORDER BY score DESC, tgt_id) AS rn
       |    FROM pairs
       |  ) WHERE rn <= $k GROUP BY 1
       |), tb AS MATERIALIZED (
       |  SELECT tgt_id, avg(score) AS bx FROM (
       |    SELECT tgt_id, score, row_number() OVER (
       |      PARTITION BY tgt_id ORDER BY score DESC, src_id) AS rn
       |    FROM pairs
       |  ) WHERE rn <= $k GROUP BY 1
       |), m AS MATERIALIZED (
       |  SELECT p.src_id, p.tgt_id,
       |    round(p.score / ((ta.ax + tb.bx) / 2), 6) AS margin
       |  FROM pairs p
       |  JOIN ta ON ta.src_id = p.src_id
       |  JOIN tb ON tb.tgt_id = p.tgt_id
       |), ba AS (
       |  SELECT src_id, tgt_id, margin FROM (
       |    SELECT src_id, tgt_id, margin, row_number() OVER (
       |      PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rn
       |    FROM m
       |  ) WHERE rn = 1
       |), bb AS (
       |  SELECT src_id, tgt_id FROM (
       |    SELECT src_id, tgt_id, row_number() OVER (
       |      PARTITION BY tgt_id ORDER BY margin DESC, src_id) AS rn
       |    FROM m
       |  ) WHERE rn = 1
       |)
       |SELECT ba.src_id, ba.tgt_id, ba.margin
       |FROM ba JOIN bb ON bb.src_id = ba.src_id AND bb.tgt_id = ba.tgt_id""".stripMargin
  }

  /** mm_near_dup oracle: the planted media corpus (payload bytes == text
    * codepoints on the ASCII corpus — the mm_features device), the
    * hashed-bigram histogram, the SAME seeded ±1 sign matrix the
    * `phash_bands` kernel carries (embedded as 64 compact +/- strings),
    * band packing, the banded candidate join, and the exact XOR-popcount
    * hamming confirm — every bit replayed. Integer sums are CAST back to
    * BIGINT (DuckDB widens integer SUM to HUGEINT, which would
    * schema-mismatch the Spark longs). */
  /** The phash signature replay over a `corpus(media_id, text, …)` CTE
    * already in scope — the seeded 64×256 sign matrix as SQL literals,
    * byte list → bigram histogram → sign projection → 4×16-bit bands,
    * the codegen kernel bit-for-bit (all-integer, so no rounding
    * anywhere). Shared by mm_near_dup and mm_incr_near_dup. */
  private def phashBandsCtes(maxHamming: Int): String = {
    val rows = graft.functions.MediaKernels.phashSigns.zipWithIndex
      .map { case (row, bit) =>
        val s = row.map(v => if (v > 0) "+" else "-").mkString
        s"($bit, '$s')"
      }.mkString(",\n       |    ")
    s"""bt AS MATERIALIZED (
       |  SELECT media_id,
       |    list_transform(range(1, length(text) + 1),
       |      i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)) AS bs
       |  FROM corpus WHERE length(text) >= 2
       |), hist AS MATERIALIZED (
       |  SELECT media_id, v, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT media_id,
       |      unnest(list_transform(range(1, len(bs)),
       |        i -> (bs[i] * 31 + bs[i + 1]) % 256)) AS v
       |    FROM bt
       |  ) GROUP BY 1, 2
       |), sgn AS MATERIALIZED (
       |  SELECT bit, vv.v AS v,
       |    CASE WHEN substr(s, vv.v + 1, 1) = '+' THEN 1 ELSE -1 END AS sgn
       |  FROM (VALUES
       |    $rows) t(bit, s)
       |  CROSS JOIN (SELECT unnest(range(0, 256)) AS v) vv
       |), bands AS MATERIALIZED (
       |  SELECT media_id, bit // 16 AS band,
       |    CAST(sum(CASE WHEN proj > 0
       |      THEN (1::BIGINT << CAST(bit % 16 AS INTEGER))
       |      ELSE 0 END) AS BIGINT) AS bv
       |  FROM (
       |    SELECT h.media_id, s.bit, sum(h.c * s.sgn) AS proj
       |    FROM hist h JOIN sgn s ON s.v = h.v
       |    GROUP BY 1, 2
       |  ) GROUP BY 1, 2
       |), ham AS (
       |  SELECT c.media_a, c.media_b,
       |    CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
       |  FROM (
       |    SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b
       |    FROM bands a
       |    JOIN bands b ON a.band = b.band AND a.bv = b.bv
       |      AND a.media_id <> b.media_id
       |  ) c
       |  JOIN bands x ON x.media_id = c.media_a
       |  JOIN bands y ON y.media_id = c.media_b AND y.band = x.band
       |  GROUP BY 1, 2
       |  HAVING CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) <= $maxHamming
       |)""".stripMargin
  }

  private def mmNearDupOracleSql(maxHamming: Int = 3): String =
    s"""WITH corpus AS MATERIALIZED (
       |  SELECT doc_id AS media_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text || ' graftdup'
       |  FROM documents WHERE doc_id % 10 = 0
       |), ${phashBandsCtes(maxHamming)}
       |SELECT media_a, media_b, hamming FROM ham
       |WHERE media_a < media_b""".stripMargin

  /** mm_incr_near_dup oracle: the planted corpus/batch split, the shared
    * signature + hamming replay over the union, then the gate's two drop
    * rules — a batch asset within τ of any CORPUS asset drops, and the
    * higher-id side of a within-BATCH near pair drops; survivors report
    * their byte length (text chars ≡ payload bytes on the ASCII corpus —
    * PhashSpec pins the precondition). */
  private def mmIncrNearDupOracleSql(maxHamming: Int = 3): String =
    s"""WITH corpus AS MATERIALIZED (
       |  SELECT doc_id AS media_id, text, 0 AS is_batch
       |  FROM documents WHERE doc_id % 4 <> 1
       |  UNION ALL
       |  SELECT doc_id AS media_id, text, 1 AS is_batch
       |  FROM documents
       |  WHERE doc_id % 4 = 1 AND doc_id < ${Dedup.FixedBatchDocIdBound}
       |  UNION ALL
       |  SELECT doc_id + 2000000, text || ' graftdup', 1
       |  FROM documents WHERE doc_id % 4 <> 1 AND doc_id % 10 = 0
       |    AND doc_id < ${Dedup.FixedBatchDocIdBound}
       |  UNION ALL
       |  SELECT doc_id + 3000000, text || ' graftdup', 1
       |  FROM documents WHERE doc_id % 8 = 1
       |    AND doc_id < ${Dedup.FixedBatchDocIdBound}
       |), ${phashBandsCtes(maxHamming)}, batchids AS (
       |  SELECT media_id, CAST(length(text) AS BIGINT) AS n_bytes
       |  FROM corpus WHERE is_batch = 1
       |), drops AS (
       |  SELECT h.media_a AS media_id FROM ham h
       |  JOIN batchids ba ON ba.media_id = h.media_a
       |  JOIN corpus co ON co.media_id = h.media_b AND co.is_batch = 0
       |  UNION
       |  SELECT h.media_b FROM ham h
       |  JOIN batchids b1 ON b1.media_id = h.media_a
       |  JOIN batchids b2 ON b2.media_id = h.media_b
       |  WHERE h.media_a < h.media_b
       |)
       |SELECT b.media_id, b.n_bytes FROM batchids b
       |WHERE b.media_id NOT IN (SELECT media_id FROM drops)""".stripMargin

  /** The deterministic KMV sketch as SQL: distinct 60-bit md5-prefix
    * hashes per segment, bottom-k by row_number. Shared by the
    * q_kmv_* oracles — the sketch is a pure function of the data, so
    * the oracle replays it exactly (estimates and all), not just its
    * expectation. */
  private def kmvSketchCtes(k: Int = 64): String =
    s"""hset AS MATERIALIZED (
       |  SELECT DISTINCT event_type AS key,
       |    CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) AS h
       |  FROM events WHERE user_id IS NOT NULL
       |), sk AS MATERIALIZED (
       |  SELECT key, h FROM (
       |    SELECT key, h, row_number() OVER (PARTITION BY key ORDER BY h) AS rn
       |    FROM hset
       |  ) WHERE rn <= $k
       |)""".stripMargin

  /** q_kmv_distinct oracle: estimates off the replayed sketch — exact
    * n_kept below k, (k−1)/θ at the cap (θ = max kept hash / 2⁶⁰). */
  private def kmvDistinctOracleSql(k: Int = 64): String =
    s"""WITH ${kmvSketchCtes(k)}
       |SELECT key AS event_type, count(*) AS n_kept,
       |  round(CASE WHEN count(*) < $k THEN CAST(count(*) AS DOUBLE)
       |    ELSE CAST(${k - 1} AS DOUBLE) /
       |      (CAST(max(h) AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE))
       |  END, 6) AS est_distinct
       |FROM sk GROUP BY 1""".stripMargin

  /** q_kmv_setops oracle: the theta-sketch pair algebra replayed —
    * θ_ab = min(θ_a, θ_b), union/intersection samples below θ_ab,
    * |S|/θ_ab estimates, sample-ratio Jaccard. */
  private def kmvSetOpsOracleSql(k: Int = 64): String =
    s"""WITH ${kmvSketchCtes(k)},
       |th AS MATERIALIZED (
       |  SELECT key, CASE WHEN count(*) < $k
       |    THEN CAST(1152921504606846976 AS BIGINT) ELSE max(h) END AS th
       |  FROM sk GROUP BY 1
       |), pairs AS MATERIALIZED (
       |  SELECT a.key AS ka, b.key AS kb, least(a.th, b.th) AS thab
       |  FROM th a JOIN th b ON a.key < b.key
       |), sa AS MATERIALIZED (
       |  SELECT p.ka, p.kb, p.thab, s.h
       |  FROM pairs p JOIN sk s ON s.key = p.ka WHERE s.h < p.thab
       |), sb AS MATERIALIZED (
       |  SELECT p.ka, p.kb, p.thab, s.h
       |  FROM pairs p JOIN sk s ON s.key = p.kb WHERE s.h < p.thab
       |), uc AS (
       |  SELECT ka, kb, thab, count(*) AS nu FROM (
       |    SELECT DISTINCT ka, kb, thab, h
       |    FROM (SELECT * FROM sa UNION ALL SELECT * FROM sb)
       |  ) GROUP BY 1, 2, 3
       |), ic AS (
       |  SELECT sa.ka, sa.kb, count(*) AS ni
       |  FROM sa JOIN sb ON sa.ka = sb.ka AND sa.kb = sb.kb AND sa.h = sb.h
       |  GROUP BY 1, 2
       |)
       |SELECT uc.ka AS type_a, uc.kb AS type_b,
       |  round(CAST(nu AS DOUBLE) /
       |    (CAST(thab AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE)), 6) AS est_union,
       |  round(CAST(coalesce(ni, 0) AS DOUBLE) /
       |    (CAST(thab AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE)), 6) AS est_inter,
       |  round(CAST(coalesce(ni, 0) AS DOUBLE) / CAST(nu AS DOUBLE), 6) AS est_jaccard
       |FROM uc LEFT JOIN ic ON ic.ka = uc.ka AND ic.kb = uc.kb""".stripMargin

  /** The IVF-PQ search body (cent → assigned → probes → codes → LUT →
    * pruned ADC top-k), parameterized on the coarse-centroid source. Reads
    * the PQ book from a preceding `cb` CTE. */
  private def ivfPqBodySql(subDim: Int, k: Int, nprobe: Int,
      centSelect: String,
      queryIds: String = "(0, 100, 200, 300, 400)"): String = {
    s"""cent AS (
       |  $centSelect
       |), assigned AS (
       |  SELECT vec_id, cell_id FROM (
       |    SELECT e.vec_id, c.cell_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(c.c_emb AS DOUBLE[]))
       |          / sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
       |               * list_inner_product(CAST(c.c_emb AS DOUBLE[]), CAST(c.c_emb AS DOUBLE[]))) DESC,
       |        c.cell_id ASC) AS rn
       |    FROM embeddings e CROSS JOIN cent c
       |  ) WHERE rn = 1
       |), probes AS (
       |  SELECT query_id, cell_id FROM (
       |    SELECT q.vec_id AS query_id, c.cell_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(c.c_emb AS DOUBLE[]))
       |          / sqrt(list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
       |               * list_inner_product(CAST(c.c_emb AS DOUBLE[]), CAST(c.c_emb AS DOUBLE[]))) DESC,
       |        c.cell_id ASC) AS rn
       |    FROM embeddings q CROSS JOIN cent c
       |    WHERE q.vec_id IN $queryIds
       |  ) WHERE rn <= $nprobe
       |), dists AS (
       |  SELECT e.vec_id, cb.sub, cb.cell,
       |    cb.n2 - 2 * list_inner_product(
       |      CAST(e.embedding[cb.sub*$subDim+1 : cb.sub*$subDim+$subDim] AS DOUBLE[]), cb.cv) AS d
       |  FROM embeddings e, cb
       |), codes AS (
       |  SELECT vec_id, sub, cell FROM (
       |    SELECT vec_id, sub, cell,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cell) AS rn
       |    FROM dists)
       |  WHERE rn = 1
       |), lut AS (
       |  SELECT q.vec_id AS query_id, cb.sub, cb.cell,
       |    list_inner_product(
       |      CAST(q.embedding[cb.sub*$subDim+1 : cb.sub*$subDim+$subDim] AS DOUBLE[]), cb.cv) AS w
       |  FROM embeddings q, cb
       |  WHERE q.vec_id IN $queryIds
       |), cand AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM probes p JOIN assigned a ON a.cell_id = p.cell_id
       |  WHERE a.vec_id <> p.query_id
       |), scored AS (
       |  SELECT n.query_id, n.vec_id, round(sum(l.w), 6) AS score
       |  FROM cand n
       |  JOIN codes c ON c.vec_id = n.vec_id
       |  JOIN lut l ON l.query_id = n.query_id AND l.sub = c.sub AND l.cell = c.cell
       |  GROUP BY 1, 2
       |)
       |SELECT query_id, vec_id, score FROM (
       |  SELECT query_id, vec_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
       |  FROM scored)
       |WHERE rn <= $k""".stripMargin
  }

  /** sim_topk_pq_trained oracle, generated: replays the per-subspace
    * Lloyd's training of [[graft.operators.Similarity.pqCodebookTrained]]
    * IN SQL — deterministic init (cell c = vector c·initStep's
    * subvector), assignment by the same ADC argmin metric ‖c‖²−2·e_s·c
    * with the same (dist, cell) tie-break, re-centering rounded to 6 dp
    * (the sim_kmeans drift absorber) — then runs the identical
    * encode/LUT/score body over the TRAINED codebook. A genuinely
    * independent cross-engine check of training + search end to end. */
  private def pqTrainedOracleSql(m: Int = 8, kc: Int = 16, subDim: Int = 8,
      initStep: Int = 31, iters: Int = 2, k: Int = 5): String =
    s"WITH ${trainedCbCtes(m, kc, subDim, initStep, iters)}, " +
      pqSearchBodySql(subDim, k)

  /** The per-subspace Lloyd's training as a reusable CTE block ending in
    * `cb` (sub, cell, cv, n2) — shared by the trained-PQ oracle and the
    * trained IVF-PQ composition. */
  private def trainedCbCtes(m: Int, kc: Int, subDim: Int,
      initStep: Int, iters: Int, from: String = "embeddings"): String = {
    val subCtes = (0 until m).map { s =>
      val lo = s * subDim + 1
      val hi = s * subDim + subDim
      val sv = s"CAST(embedding[$lo : $hi] AS DOUBLE[])"
      val init =
        s"""cb${s}_0 AS (
           |  SELECT CAST(vec_id // $initStep AS INT) AS cell, $sv AS cv
           |  FROM $from WHERE vec_id % $initStep = 0 AND vec_id < ${initStep.toLong * kc}
           |)""".stripMargin
      val its = (1 to iters).map { i =>
        s"""a${s}_$i AS (
           |  SELECT vec_id, sv, cell FROM (
           |    SELECT e.vec_id, ${sv.replace("embedding", "e.embedding")} AS sv, c.cell,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        list_inner_product(c.cv, c.cv)
           |          - 2 * list_inner_product(${sv.replace("embedding", "e.embedding")}, c.cv) ASC,
           |        c.cell ASC) AS rn
           |    FROM $from e, cb${s}_${i - 1} c
           |  ) WHERE rn = 1
           |), m${s}_$i AS (
           |  SELECT cell, u.lane AS lane, round(avg(u.v), 6) AS mv FROM (
           |    SELECT cell, unnest(list_transform(range(1, len(sv) + 1),
           |      j -> struct_pack(lane := j - 1, v := sv[j::INT]))) AS u
           |    FROM a${s}_$i
           |  ) GROUP BY cell, u.lane
           |), cb${s}_$i AS (
           |  SELECT cell, list(mv ORDER BY lane) AS cv FROM m${s}_$i GROUP BY cell
           |)""".stripMargin
      }
      (init +: its).mkString(",\n")
    }
    val cbUnion = (0 until m).map(s =>
      s"  SELECT $s AS sub, cell, cv, list_inner_product(cv, cv) AS n2 FROM cb${s}_$iters")
      .mkString("\n  UNION ALL\n")
    s"${subCtes.mkString(",\n")},\ncb AS (\n$cbUnion\n)"
  }

  /** mm_features oracle, generated: the feature stub is the documents
    * polynomial fingerprint (same init-7 fold the txt_fingerprint oracle
    * recomputes) pushed through per-lane affine maps whose coefficients
    * are embedded here as the SAME literals the Spark plan carries —
    * payload bytes == text codepoints on the ASCII corpus. */
  private def mmFeaturesOracleSql: String = {
    val lanes = graft.operators.Multimodal.laneCoeffs(16).zipWithIndex
      .map { case ((a, b), j) => s"{'lane': $j, 'a': ${a}::BIGINT, 'b': ${b}::BIGINT}" }
      .mkString(",\n       |      ")
    s"""WITH m AS (
       |  SELECT doc_id AS media_id,
       |    list_reduce(
       |      list_prepend(CAST(7 AS BIGINT),
       |        list_transform(range(1, length(text) + 1),
       |          i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
       |      (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
       |  FROM documents
       |), lanes AS (
       |  SELECT unnest([
       |      $lanes
       |  ], recursive := true)
       |)
       |SELECT m.media_id, lanes.lane,
       |  CAST(CAST(((m.fp * lanes.a + lanes.b) % 1000000007) % 1000000 AS DOUBLE)
       |       / 1000000 AS FLOAT) AS value
       |FROM m, lanes""".stripMargin
  }

  /** sim_rp_reduce oracle, generated: the seeded ±1 sign matrix is a
    * deterministic literal in the Spark plan, so the oracle embeds the
    * SAME rows as DOUBLE[] literals and reproduces every projected lane
    * with list_inner_product (sequential sum ≡ litDot's left fold). */
  private def rpOracleSql(outDim: Int = 16, dim: Int = 64): String = {
    val lanes = operators.Similarity.rpSigns(outDim, dim).zipWithIndex
      .map { case (row, i) =>
        val arr = row.map(v => if (v > 0) "1" else "-1").mkString("[", ",", "]")
        s"SELECT $i AS lane, CAST($arr AS DOUBLE[]) AS s"
      }.mkString("\nUNION ALL ")
    s"""WITH lanes AS (
       |$lanes
       |)
       |SELECT e.vec_id, CAST(lanes.lane AS BIGINT) AS lane,
       |  round(list_inner_product(CAST(e.embedding AS DOUBLE[]), lanes.s)
       |        / sqrt($dim), 6) AS v
       |FROM embeddings e, lanes""".stripMargin
  }

  /** Steady-state entries (pre-landed index / saved codebook) compute the
    * same answer as their rebuild siblings — what changes is the timed
    * plan, not the result — so each shares its sibling's oracle verbatim. */
  def oracleSql: Map[String, String] = oracleBase ++ Map(
    "dedup_incr_near_steady" -> oracleBase("dedup_incr_near"),
    "dedup_incr_contain_steady" -> oracleBase("dedup_incr_contain"),
    "txt_curation_report_steady" -> oracleBase("txt_curation_report"),
    // the landed-count block manifest serves the SAME layout as the
    // direct operator (a pure function of the count table — where the
    // counts came from is invisible, which is the law)
    "txt_token_blocks_steady" -> oracleBase("txt_token_blocks"),
    "txt_curriculum_blocks" -> curriculumBlocksOracleSql(),
    // ordering AND layout are pure functions of the landed 24-byte/doc
    // (n, q_score) state — the steady serve shares the batch oracle
    "txt_curriculum_blocks_steady" -> curriculumBlocksOracleSql(),
    // pair counts are additive over any batch partition of the corpus
    "txt_collocations_steady" -> oracleBase("txt_collocations"),
    // the reweight is a pure function of the landed (source, l, r, n)
    // model + vocab + doc-stat relations, which additively equal the
    // direct corpus scan's — landed ≡ direct, oracle shared
    "txt_domain_reweight_steady" -> oracleBase("txt_domain_reweight"),
    // landed centroids ≡ trained centroids, so the landed graph and
    // every deterministic tail over it (LPA labels, the modularity
    // counts, the capped draw) are identical to the direct rebuild's
    "q_modularity_steady" -> oracleBase("q_modularity"),
    "q_lpa_sample_steady" -> oracleBase("q_lpa_sample"),
    "sim_topk_pq_steady" -> oracleBase("sim_topk_pq_trained"),
    "sim_topk_ivfpq_steady" -> oracleBase("sim_topk_ivfpq_trained"),
    "sim_topk_ivfpq_landed" -> oracleBase("sim_topk_ivfpq_trained"),
    // the √N-sized family trains its own coarse cells (the scaled init
    // stride is a corpus-count subquery, not a literal), so these two
    // get GENERATED oracles rather than sharing the fixed-sizing ones
    "sim_topk_ivfpq_landed_scaled" -> ivfPqScaledOracleSql(),
    "sim_topk_refine_landed_scaled" ->
      refineOracleSql(ivfPqScaledOracleSql(k = 20)),
    // the re-sharded streamed store serves the SAME answer as the batch
    // √N-sized operator (the store's fixed-cell history is invisible
    // post-re-shard — that is the law the entry demonstrates)
    "sim_topk_ivfpq_reshard" -> ivfPqScaledOracleSql(),
    "sim_kmeans_assign_steady" -> oracleBase("sim_kmeans_assign"),
    "sim_cluster_sample_steady" -> oracleBase("sim_cluster_sample"),
    "txt_bpe_apply_steady" -> oracleBase("txt_bpe_apply"),
    "txt_bm25_steady" -> oracleBase("txt_bm25"),
    "q_hist_quantile_steady" -> oracleBase("q_hist_quantile"),
    "txt_dsir_steady" -> oracleBase("txt_dsir"),
    "txt_proximity_steady" -> oracleBase("txt_proximity"),
    "txt_phrase_steady" -> oracleBase("txt_phrase"),
    // not a steady entry but the same exactness contract: the bloom gate
    // admits false positives only, and the exact join removes them — the
    // result is row-identical to the broadcast-join spelling
    "txt_decontam_bloom" -> oracleBase("txt_decontam"),
    "dedup_semantic_steady" -> oracleBase("dedup_semantic"),
    // the landed-df serve answers with the same exact integer sums
    "dedup_soft_steady" -> oracleBase("dedup_soft"),
    // the landed-index ranking ≡ the direct ranking (the txt_bm25_steady
    // law), so the eval row is identical
    "txt_retrieval_eval_steady" -> oracleBase("txt_retrieval_eval"),
    "dedup_semantic_text_steady" -> oracleBase("dedup_semantic_text"),
    "dedup_incr_semantic_steady" -> oracleBase("dedup_incr_semantic"),
    "sim_rp_reduce" -> rpOracleSql(),
    // NOT oracle-shared with txt_hybrid_rrf: the steady dense leg is the
    // index-backed approximate serve (ADC cut + refine), a different
    // answer by design — its oracle replays that branch exactly
    "txt_hybrid_rrf_steady" -> hybridSteadyOracleSql(),
    "sim_recall_hybrid_dense" -> hybridDenseRecallOracleSql(),
    "mm_incr_near_dup_steady" -> mmIncrNearDupOracleSql(),
    "txt_curriculum" -> curriculumOracleSql())

  /** Exact-cosine top-k ground truth — shared by `sim_topk_cosine` and
    * the recall evaluation's exact branch. */
  private val cosineTopkSql: String =
    """SELECT query_id, vec_id, score FROM (
      |  SELECT query_id, vec_id, score,
      |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
      |  FROM (
      |    SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
      |      list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
      |        / sqrt(list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
      |             * list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) AS score
      |    FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
      |    WHERE q.vec_id IN (0, 100, 200, 300, 400)
      |  ) WHERE NOT isnan(score)
      |) WHERE rn <= 5""".stripMargin

  /** sim_ann_recall oracle: replay BOTH searches (the seeded IVF-PQ block
    * and the exact-cosine block, verbatim — DuckDB allows a WITH inside a
    * CTE body) and count the per-query overlap; every probe query emits a
    * row even at zero overlap. */
  /** sim_ann_recall_refined oracle: the same overlap count with the
    * refined-serve block (refineOracleSql over the widened seeded cut)
    * as the ann side. */
  private def annRecallRefinedOracleSql(k: Int = 5, r: Int = 4): String =
    s"""WITH ann AS (
       |${refineOracleSql(ivfPqOracleSql(k = k * r), k)}
       |), exact AS (
       |$cosineTopkSql
       |), o AS (
       |  SELECT a.query_id, count(*) AS n_overlap
       |  FROM ann a JOIN exact e ON a.query_id = e.query_id AND a.vec_id = e.vec_id
       |  GROUP BY a.query_id
       |)
       |SELECT q.query_id, CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       |  round(COALESCE(o.n_overlap, 0) / $k.0, 6) AS recall
       |FROM (SELECT DISTINCT query_id FROM ann) q LEFT JOIN o ON q.query_id = o.query_id""".stripMargin

  /** txt_curriculum oracle: the calibrated-quality scoring block (global,
    * not per-source), exact quantile_cont cutoffs at (nPhases−1)/nPhases
    * … 1/nPhases (6-dp rounded both sides — the boundary-row rule), the
    * descending-cutoff CASE phase, and ONE per-phase rank window over
    * the txt_shuffle key expression — the ground truth the bucketed
    * prefix-offset device must equal. The quantile fractions are
    * interpolated as the exact shortest-repr doubles the Spark side
    * computes (the pageRank damping device). */
  private def curriculumOracleSql(nPhases: Int = 3,
      seed: String = "curriculum0"): String = {
    val cutCols = (0 until nPhases - 1).map { i =>
      val frac = ((nPhases - 1 - i).toDouble / nPhases).toString
      s"round(quantile_cont(q_score, $frac), 6) AS c$i"
    }.mkString(",\n       |    ")
    val cases = (0 until nPhases - 1)
      .map(i => s"WHEN s.q_score >= c.c$i THEN $i").mkString(" ")
    s"""WITH scored AS (
       |  SELECT doc_id,
       |    round(CAST(len(list_filter(toks, x -> list_contains(
       |        ['the','a','an','of','to','and','in','is','it','that'], x))) AS DOUBLE)
       |      / len(toks), 6) AS q_score
       |  FROM (
       |    SELECT doc_id,
       |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
       |    FROM documents
       |  ) WHERE len(toks) > 0
       |), cuts AS (
       |  SELECT $cutCols
       |  FROM scored
       |)
       |SELECT doc_id, phase, q_score,
       |  CAST(row_number() OVER (PARTITION BY phase ORDER BY k, doc_id) - 1 AS BIGINT) AS seq
       |FROM (
       |  SELECT s.doc_id, s.q_score,
       |    CAST(CASE $cases ELSE ${nPhases - 1} END AS BIGINT) AS phase,
       |    CAST(('0x' || substr(md5('$seed:' || s.doc_id), 1, 8)) AS UBIGINT) AS k
       |  FROM scored s CROSS JOIN cuts c
       |)""".stripMargin
  }

  /** txt_curriculum_blocks oracle: the curriculum ordering replay
    * (verbatim [[curriculumOracleSql]] as a CTE) joined to token counts,
    * the prefix sum as ONE window over (phase, seq) order — the ground
    * truth the gid-lifted bucketed sum must equal — and the same
    * all-integer span arithmetic as txt_token_blocks. */
  private def curriculumBlocksOracleSql(blockSize: Int = 128): String =
    s"""WITH ord AS (
       |${curriculumOracleSql()}
       |), cnt AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(
       |      string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),
       |      x -> len(x) > 0)) AS BIGINT) AS n
       |  FROM documents
       |), o AS (
       |  SELECT ord.doc_id, ord.phase, cnt.n,
       |    CAST(COALESCE(SUM(cnt.n + 1) OVER (ORDER BY ord.phase, ord.seq
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS strt
       |  FROM ord JOIN cnt USING (doc_id)
       |), b AS (
       |  SELECT doc_id, phase, n, strt,
       |    UNNEST(range(strt // $blockSize, (strt + n - 1) // $blockSize + 1)) AS block_id
       |  FROM o WHERE n >= 1
       |)
       |SELECT block_id, doc_id, phase,
       |  GREATEST(strt, block_id * $blockSize) - strt AS doc_off,
       |  GREATEST(strt, block_id * $blockSize) - block_id * $blockSize AS block_off,
       |  LEAST(strt + n - 1, block_id * $blockSize + ${blockSize - 1})
       |    - GREATEST(strt, block_id * $blockSize) + 1 AS len
       |FROM b""".stripMargin

  /** sim_recall_hybrid_dense oracle: the annRecall overlap count with
    * the hybrid steady entry's dense branch (trained-quantizer ADC cut
    * widened to r·depth for query vec 0, exact refine to depth) as the
    * ann side and the exact-cosine top-depth of the same probe as
    * ground truth. */
  private def hybridDenseRecallOracleSql(depth: Int = 50, r: Int = 4): String =
    s"""WITH ann AS (
       |${refineOracleSql(ivfPqTrainedOracleSql(k = depth * r, queryIds = "(0)"), depth)}
       |), exact AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
       |    FROM (
       |      SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
       |        list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
       |          / sqrt(list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
       |               * list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) AS score
       |      FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
       |      WHERE q.vec_id = 0
       |    ) WHERE NOT isnan(score)
       |  ) WHERE rn <= $depth
       |), o AS (
       |  SELECT a.query_id, count(*) AS n_overlap
       |  FROM ann a JOIN exact e ON a.query_id = e.query_id AND a.vec_id = e.vec_id
       |  GROUP BY a.query_id
       |)
       |SELECT q.query_id, CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       |  round(COALESCE(o.n_overlap, 0) / $depth.0, 6) AS recall
       |FROM (SELECT DISTINCT query_id FROM ann) q LEFT JOIN o ON q.query_id = o.query_id""".stripMargin

  private def annRecallOracleSql(k: Int = 5): String =
    s"""WITH ann AS (
       |${ivfPqOracleSql()}
       |), exact AS (
       |$cosineTopkSql
       |), o AS (
       |  SELECT a.query_id, count(*) AS n_overlap
       |  FROM ann a JOIN exact e ON a.query_id = e.query_id AND a.vec_id = e.vec_id
       |  GROUP BY a.query_id
       |)
       |SELECT q.query_id, CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       |  round(COALESCE(o.n_overlap, 0) / $k.0, 6) AS recall
       |FROM (SELECT DISTINCT query_id FROM ann) q LEFT JOIN o ON q.query_id = o.query_id""".stripMargin

  private def oracleBase: Map[String, String] = Map(
    // BM25: same tokenization CTE as txt_tfidf; the scoring expression is
    // written in the IDENTICAL association order as the Spark column
    // ((idf · tf · (k1+1)) / denom, 0.25 + b·dl/avgdl) so both engines
    // run the same double-op sequence; 6-dp round on the per-doc sum is
    // the txt_bigram_lm summation-order discipline.
    "txt_bm25" ->
      s"""WITH lens AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS dl
        |  FROM documents
        |), stats AS (
        |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS term
        |    FROM documents)
        |  WHERE term IN (${TextAnalysis.searchQuery.map("'" + _ + "'").mkString(", ")})
        |  GROUP BY doc_id, term
        |), dfs AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term
        |)
        |SELECT doc_id, round(sum(
        |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1.0)
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |  ), 6) AS score
        |FROM tf
        |JOIN dfs USING (term)
        |JOIN lens USING (doc_id)
        |CROSS JOIN stats
        |GROUP BY doc_id
        |ORDER BY score DESC, doc_id
        |LIMIT 25""".stripMargin,
    // Budget mix: the greedy-prefix rule replayed as ONE window per
    // source in SQL (the ground truth the bucketed prefix-sum must
    // equal); md5 hex order and integer token sums are engine-identical,
    // so the only float op is the budget's 0.3·total double multiply.
    "txt_budget_mix" ->
      """WITH base AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents
        |), tot AS (
        |  SELECT source, CAST(floor(0.3 * sum(n_tokens)) AS BIGINT) AS budget
        |  FROM base GROUP BY source
        |), c AS (
        |  SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum_before
        |  FROM base
        |)
        |SELECT c.doc_id, c.source, c.n_tokens
        |FROM c JOIN tot USING (source)
        |WHERE c.cum_before < tot.budget""".stripMargin,
    // Absolute per-source token budget: the txt_budget_mix prefix-sum
    // rule with a constant 100-token allowance (the absorbing /
    // streamable form; same md5 order, same strict cum_before < budget).
    "txt_budget_cap" ->
      """WITH base AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum_before
        |  FROM base
        |)
        |SELECT doc_id, source, n_tokens FROM c WHERE cum_before < 100""".stripMargin,
    // Boilerplate strip: fixed 8-token segments, md5 census, drop
    // segments present in ≥ 3 distinct docs, rebuild each doc from its
    // surviving slices in order. Everything is integer/string — the md5
    // keys and the slice boundaries are engine-identical, so the clean
    // text hash-matches exactly.
    "txt_boilerplate" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        |  FROM documents
        |), base AS (
        |  SELECT doc_id, toks,
        |    CAST(ceil(len(toks) / 8.0) AS BIGINT) AS n_segs
        |  FROM d
        |), segs AS (
        |  SELECT doc_id, s AS seg_idx,
        |    md5(array_to_string(toks[CAST(s*8+1 AS BIGINT) : CAST(s*8+8 AS BIGINT)], ' ')) AS h
        |  FROM base, unnest(range(n_segs)) AS t(s)
        |), boiler AS (
        |  SELECT h FROM segs GROUP BY h HAVING count(DISTINCT doc_id) >= 3
        |), keep AS (
        |  SELECT doc_id, list_sort(list(seg_idx)) AS ki
        |  FROM segs WHERE h NOT IN (SELECT h FROM boiler)
        |  GROUP BY doc_id
        |)
        |SELECT b.doc_id,
        |  coalesce(array_to_string(flatten(list_transform(ki,
        |    i -> b.toks[CAST(i*8+1 AS BIGINT) : CAST(i*8+8 AS BIGINT)])), ' '), '') AS clean_text,
        |  coalesce(CAST(len(ki) AS BIGINT), 0) AS n_kept,
        |  b.n_segs - coalesce(CAST(len(ki) AS BIGINT), 0) AS n_dropped
        |FROM base b LEFT JOIN keep USING (doc_id)""".stripMargin,
    // Key terms: Dunning G2 keyness replayed with the identical
    // association order (counts cast to DOUBLE before any multiply, E1 =
    // tt*stot/n, E2 = tt*(n-stot)/n, b=0 branch exact-zero), 6-dp
    // rounded BEFORE the rank, ties on term ascending.
    "txt_key_terms" ->
      """WITH st AS (
        |  SELECT source, term, count(*) AS a FROM (
        |    SELECT source,
        |      unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS term
        |    FROM documents)
        |  GROUP BY source, term
        |), tt AS (SELECT term, sum(a) AS tt FROM st GROUP BY term),
        |stot AS (SELECT source, sum(a) AS stot FROM st GROUP BY source),
        |n AS (SELECT sum(a) AS n FROM st),
        |scored AS (
        |  SELECT source, term, a AS n_src,
        |    round(2.0 * (CAST(a AS DOUBLE) * ln(CAST(a AS DOUBLE) /
        |        (CAST(tt AS DOUBLE) * CAST(stot AS DOUBLE) / CAST(n AS DOUBLE))) +
        |      CASE WHEN tt = a THEN 0.0
        |        ELSE CAST(tt - a AS DOUBLE) * ln(CAST(tt - a AS DOUBLE) /
        |          (CAST(tt AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(stot AS DOUBLE)) / CAST(n AS DOUBLE)))
        |      END), 6) AS g2
        |  FROM st JOIN tt USING (term) JOIN stot USING (source) CROSS JOIN n
        |  WHERE CAST(a AS DOUBLE) * CAST(n AS DOUBLE) > CAST(tt AS DOUBLE) * CAST(stot AS DOUBLE)
        |)
        |SELECT source, term, n_src, g2 FROM (
        |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY g2 DESC, term) AS r
        |  FROM scored)
        |WHERE r <= 5""".stripMargin,
    // Hashed doc vectors: 32-bit md5-prefix lane hash, integer lane
    // counts, L2 norm — integer math until the final divide, 6-dp round,
    // zero-norm guard.
    "txt_hash_vectors" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        |  FROM documents
        |), v AS (
        |  SELECT doc_id,
        |    list_transform(range(8), j -> CAST(len(list_filter(toks,
        |      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS UBIGINT) % 8 = j)) AS DOUBLE)) AS v
        |  FROM d
        |), n AS (
        |  SELECT doc_id, v,
        |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM v
        |)
        |SELECT doc_id, CAST(j AS BIGINT) AS lane,
        |  CASE WHEN nrm = 0 THEN 0.0 ELSE round(v[CAST(j+1 AS BIGINT)] / nrm, 6) END AS val
        |FROM n, unnest(range(8)) AS t(j)""".stripMargin,
    // Record linkage: the symmetric-delete blocking replayed — 1-deletion
    // variants as join keys, distinct candidate pairs, exact levenshtein
    // confirm (identical DP definition in both engines).
    "dedup_record_link" ->
      """WITH c AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS name FROM customer
        |), v AS (
        |  SELECT id, name, CASE WHEN j = 0 THEN name
        |    ELSE substr(name, 1, j - 1) || substr(name, j + 1) END AS variant
        |  FROM c, unnest(range(0, len(name) + 1)) AS t(j)
        |), p AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.name AS na, b.name AS nb
        |  FROM v a JOIN v b ON a.variant = b.variant AND a.id < b.id
        |)
        |SELECT id_a, id_b, CAST(levenshtein(na, nb) AS BIGINT) AS dist
        |FROM p WHERE levenshtein(na, nb) <= 1""".stripMargin,
    // Entity resolution: the record-link blocking + confirm, the
    // dedup_cc recursive closure over the linked pairs, then one
    // canonical row per component under (acctbal DESC, custkey ASC) —
    // the dedup_keep_best survivorship spelling; singletons keep
    // themselves.
    "dedup_entities" ->
      """WITH RECURSIVE c AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS id,
        |    c_mktsegment || '|' || CAST(c_nationkey AS VARCHAR) || '|' || c_name AS name,
        |    c_acctbal
        |  FROM customer
        |), v AS (
        |  SELECT id, name, CASE WHEN j = 0 THEN name
        |    ELSE substr(name, 1, j - 1) || substr(name, j + 1) END AS variant
        |  FROM c, unnest(range(0, len(name) + 1)) AS t(j)
        |), p AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.name AS na, b.name AS nb
        |  FROM v a JOIN v b ON a.variant = b.variant AND a.id < b.id
        |), pairs AS (
        |  SELECT id_a, id_b FROM p WHERE levenshtein(na, nb) <= 1
        |), e AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION
        |  SELECT id_b, id_a FROM pairs
        |), reach(n, m) AS (
        |  SELECT u, u FROM e
        |  UNION
        |  SELECT reach.n, e.v FROM reach JOIN e ON reach.m = e.u
        |), comps AS (
        |  SELECT n AS node, min(m) AS component FROM reach GROUP BY n
        |), labeled AS (
        |  SELECT d.id, d.c_acctbal,
        |    CAST(COALESCE(cp.component, d.id) AS BIGINT) AS component
        |  FROM c d LEFT JOIN comps cp ON d.id = cp.node
        |)
        |SELECT id AS c_custkey, component, n_members FROM (
        |  SELECT id, component,
        |    count(*) OVER (PARTITION BY component) AS n_members,
        |    row_number() OVER (PARTITION BY component
        |      ORDER BY c_acctbal DESC, id) AS rn
        |  FROM labeled
        |) WHERE rn = 1""".stripMargin,
    // Span corruption: same draw as txt_mlm_mask under the t5-0 seed,
    // runs collapsed to numbered sentinels; DuckDB's 1-based lambda
    // index j mirrors Spark's 0-based i as j-1 throughout, and the
    // start list / run length are the same array_position devices.
    "txt_span_corrupt" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM documents
        |), drawn AS (
        |  SELECT doc_id, w,
        |    list_transform(w, (tok, j) ->
        |      CAST(('0x' || substr(md5('t5-0:' || CAST(doc_id AS VARCHAR) || ':' || CAST(j - 1 AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 < 15) AS m
        |  FROM d
        |), staged AS (
        |  SELECT doc_id, w, m,
        |    list_filter(list_transform(m, (x, j) -> CASE
        |      WHEN x AND (j = 1 OR NOT m[j - 1]) THEN j - 1 END),
        |      v -> v IS NOT NULL) AS sp
        |  FROM drawn
        |)
        |SELECT doc_id,
        |  coalesce(array_to_string(list_filter(list_transform(w, (tok, j) -> CASE
        |    WHEN NOT m[j] THEN tok
        |    WHEN list_position(sp, j - 1) > 0 THEN
        |      '<extra_' || CAST(list_position(sp, j - 1) - 1 AS VARCHAR) || '>'
        |    END), v -> v IS NOT NULL), ' '), '') AS input_text,
        |  coalesce(array_to_string(flatten(list_transform(sp, i ->
        |    list_prepend('<extra_' || CAST(list_position(sp, i) - 1 AS VARCHAR) || '>',
        |      w[CAST(i + 1 AS BIGINT) : CAST(i + (CASE
        |        WHEN list_position(m[CAST(i + 2 AS BIGINT) :], false) = 0
        |          THEN 1 + len(m[CAST(i + 2 AS BIGINT) :])
        |        ELSE list_position(m[CAST(i + 2 AS BIGINT) :], false) END) AS BIGINT)]))),
        |    ' '), '') AS target_text,
        |  coalesce(CAST(len(sp) AS BIGINT), 0) AS n_spans,
        |  coalesce(CAST(len(list_filter(m, x -> x)) AS BIGINT), 0) AS n_masked
        |FROM staged""".stripMargin,
    // MLM masking: the same md5 hash-draw per (seed, doc, 0-based pos) —
    // DuckDB's lambda index is 1-based, so j-1 mirrors Spark's i.
    "txt_mlm_mask" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, w,
        |    list_transform(w, (tok, j) -> CASE
        |      WHEN CAST(('0x' || substr(md5('mlm0:' || CAST(doc_id AS VARCHAR) || ':' || CAST(j - 1 AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 < 15
        |      THEN CAST(j - 1 AS VARCHAR) || ':' || tok END) AS tagged
        |  FROM d
        |)
        |SELECT doc_id,
        |  coalesce(array_to_string(list_transform(w, (tok, j) -> CASE
        |    WHEN tagged[j] IS NULL THEN tok ELSE '<mask>' END), ' '), '') AS input_text,
        |  coalesce(array_to_string(list_filter(tagged, x -> x IS NOT NULL), ' '), '') AS targets,
        |  coalesce(CAST(len(list_filter(tagged, x -> x IS NOT NULL)) AS BIGINT), 0) AS n_masked
        |FROM t""".stripMargin,
    // Within-doc window dedup: first-occurrence filter via
    // list_position's first-match semantics, index-aware lambda (1-based
    // in DuckDB, 0-based in Spark — both spelled to the same rule).
    // NULL text coalesces to empty on BOTH engines (the E135/E136 NULL
    // discipline).
    "txt_selfdedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        |  FROM documents
        |), b AS (
        |  SELECT doc_id,
        |    CAST(ceil(len(toks) / 2.0) AS BIGINT) AS n_segs,
        |    list_transform(range(CAST(ceil(len(toks) / 2.0) AS BIGINT)),
        |      s -> array_to_string(toks[CAST(s*2+1 AS BIGINT) : CAST(s*2+2 AS BIGINT)], ' ')) AS ss
        |  FROM d
        |), k AS (
        |  SELECT doc_id, n_segs,
        |    list_filter(ss, (s, i) -> list_position(ss, s) = i) AS kept
        |  FROM b
        |)
        |SELECT doc_id, array_to_string(kept, ' ') AS clean_text,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  n_segs - CAST(len(kept) AS BIGINT) AS n_dropped
        |FROM k""".stripMargin,
    // Calibrated quality floor: same tokenization + stopword list as
    // txt_quality; the cutoff is quantile_cont ≡ Spark's exact percentile
    // ((n−1)·p interpolation — the txt_corpus_stats precedent), and BOTH
    // score and cutoff are 6-dp rounded before the >= compare so a
    // last-ulp interpolation difference cannot flip a boundary row.
    "txt_quality_calibrated" ->
      """WITH scored AS (
        |  SELECT doc_id, source,
        |    round(CAST(len(list_filter(toks, x -> list_contains(
        |        ['the','a','an','of','to','and','in','is','it','that'], x))) AS DOUBLE)
        |      / len(toks), 6) AS q_score
        |  FROM (
        |    SELECT doc_id, source,
        |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        |    FROM documents
        |  ) WHERE len(toks) > 0
        |), cutoffs AS (
        |  SELECT source, round(quantile_cont(q_score, 0.2), 6) AS cutoff
        |  FROM scored GROUP BY source
        |)
        |SELECT s.doc_id, s.source, s.q_score, c.cutoff
        |FROM scored s JOIN cutoffs c ON s.source = c.source
        |WHERE s.q_score >= c.cutoff""".stripMargin,
    // Hybrid RRF: replay BOTH rankings (the txt_bm25 scoring block with a
    // rank window, the sim_topk_cosine scoring block for query vec 0) and
    // fuse 1/(60+r) in the same lex-then-dense association order; ranks
    // are integers, so the only float ops are the two divisions and one
    // add — identical IEEE sequences — plus the 6-dp round.
    "txt_hybrid_rrf" ->
      s"""WITH lens AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS dl
        |  FROM documents
        |), stats AS (
        |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS term
        |    FROM documents)
        |  WHERE term IN (${TextAnalysis.searchQuery.map("'" + _ + "'").mkString(", ")})
        |  GROUP BY doc_id, term
        |), dfs AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term
        |), bm AS (
        |  SELECT doc_id, round(sum(
        |      ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1.0)
        |        / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |    ), 6) AS score
        |  FROM tf JOIN dfs USING (term) JOIN lens USING (doc_id) CROSS JOIN stats
        |  GROUP BY doc_id
        |), lexr AS (
        |  SELECT doc_id, r_lex FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r_lex FROM bm
        |  ) WHERE r_lex <= 50
        |), cos AS (
        |  SELECT vec_id AS doc_id, score FROM (
        |    SELECT e.vec_id,
        |      list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
        |        / sqrt(list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
        |             * list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) AS score
        |    FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        |    WHERE q.vec_id = 0
        |  ) WHERE NOT isnan(score)
        |), denser AS (
        |  SELECT doc_id, r_dense FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r_dense FROM cos
        |  ) WHERE r_dense <= 50
        |)
        |SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
        |  round(coalesce(1.0 / (60 + l.r_lex), 0) + coalesce(1.0 / (60 + d.r_dense), 0), 6) AS rrf
        |FROM lexr l FULL JOIN denser d ON l.doc_id = d.doc_id
        |ORDER BY rrf DESC, doc_id
        |LIMIT 25""".stripMargin,
    // Exact phrase: same tokenization CTE; the window-slice comparison is
    // the identical rule both engines apply (toks[i : i+L-1] == phrase).
    "txt_phrase" ->
      s"""WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        |  FROM documents
        |)
        |SELECT doc_id, n_occ FROM (
        |  SELECT doc_id,
        |    len(list_filter(range(1, len(toks) - ${TextAnalysis.searchPhrase.length - 2}),
        |      i -> toks[i : i + ${TextAnalysis.searchPhrase.length - 1}] = ${TextAnalysis.searchPhrase.map("'" + _ + "'").mkString("[", ", ", "]")})) AS n_occ
        |  FROM t
        |) WHERE n_occ > 0""".stripMargin,
    "sim_topk_ann" -> annOracleSql,
    "sim_topk_ann_mp" -> annMpOracleSql(),
    "sim_topk_pq" -> pqOracleSql(),
    "sim_topk_pq_trained" -> pqTrainedOracleSql(),
    "sim_topk_ivfpq" -> ivfPqOracleSql(),
    "sim_ann_recall" -> annRecallOracleSql(),
    "sim_ann_recall_refined" -> annRecallRefinedOracleSql(),
    "sim_topk_ivfpq_trained" -> ivfPqTrainedOracleSql(),
    "sim_topk_ivfpq_res" -> ivfPqResOracleSql(),
    "sim_topk_ivfpq_res_landed" -> ivfPqResOracleSql(),
    "sim_topk_res_refine" -> refineOracleSql(ivfPqResOracleSql(k = 20)),
    "txt_bm25_prf" -> bm25PrfOracleSql(),
    // steady PRF: landed serve ≡ direct (the txt_bm25_steady law, twice)
    "txt_bm25_prf_steady" -> bm25PrfOracleSql(),
    "sim_topk_refine" -> refineOracleSql(ivfPqOracleSql(k = 20)),
    "sim_topk_refine_landed" -> refineOracleSql(ivfPqTrainedOracleSql(k = 20)),
    "sim_knn_graph" -> knnGraphOracleSql(),
    "sim_knn_graph_steady" -> knnGraphOracleSql(),
    "q_pagerank" -> pageRankOracleSql(),
    "q_pagerank_steady" -> pageRankOracleSql(),
    "q_lpa" -> lpaOracleSql(),
    "q_lpa_steady" -> lpaOracleSql(),
    "q_lpa_sample" -> lpaSampleOracleSql(),
    "q_modularity" -> modularityOracleSql(),
    "sim_bitext_mine" -> bitextOracleSql(),
    "sim_bitext_mine_steady" -> bitextOracleSql(),
    "mm_near_dup" -> mmNearDupOracleSql(),
    "mm_incr_near_dup" -> mmIncrNearDupOracleSql(),
    "q_kmv_distinct" -> kmvDistinctOracleSql(),
    "q_kmv_setops" -> kmvSetOpsOracleSql(),
    // landed serve ≡ direct (the steady law): same oracles
    "q_kmv_steady" -> kmvDistinctOracleSql(),
    "q_kmv_setops_steady" -> kmvSetOpsOracleSql(),
    "sim_density_prune" -> densityPruneOracleSql(),
    "sim_density_prune_steady" -> densityPruneOracleSql(),
    "sim_kmeans_assign" -> kmeansAssignOracleSql(),
    "sim_kmeans_assign_flat" -> kmeansAssignFlatOracleSql(),
    "sim_kmeans_assign_hier" -> hierAssignOracleSql(),
    "sim_psi_drift" -> psiDriftOracleSql(),
    "sim_cluster_sample" -> clusterSampleOracleSql(),
    "dedup_semantic" -> semanticDedupOracleSql(),
    "dedup_semantic_text" -> semanticDedupTextOracleSql(),
    "dedup_incr_semantic" -> incrSemanticOracleSql(),
    "txt_semantic_search" ->
      semanticSearchOracleSql("table scan query fast value sort"),
    // Sliding distinct: the same fan-out spelled with generate_series —
    // distinct (user, day) first, each contributing to its ≤7 window days.
    "q_sliding_distinct" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
        |), mx AS (SELECT max(day) AS max_day FROM uw),
        |f AS (
        |  SELECT user_id, unnest(generate_series(day,
        |    least(max_day, day + INTERVAL 6 DAY), INTERVAL 1 DAY)) AS win_day
        |  FROM uw, mx
        |)
        |SELECT win_day, count(DISTINCT user_id) AS n_users
        |FROM f GROUP BY 1""".stripMargin,
    "sim_kmeans" -> kmeansOracleSql(),
    // The two-level trainer's own entry: the full pruned recurrence
    // (per iteration: coarse training over the previous frontier, the
    // two-stage corpus argmax, the 6-dp re-center) replayed in SQL —
    // the same per-lane-mean emit as sim_kmeans, so the two entries
    // differ exactly by the trainer's assignment rule.
    "sim_kmeans_hier_train" ->
      (s"WITH ${kmeansHierCteBlock(29, 3)}\n" +
        "SELECT cell_id, CAST(lane AS BIGINT) AS lane, m AS v FROM m3"),
    "txt_bpe" -> bpeOracleSql(),
    "q_stationary" -> stationaryOracleSql(),
    // Interleaved multimodal sample manifests: non-overlapping 16-token
    // chunks in odd slots, the media item in the doc_id-mod-(n_chunks+1)
    // even slot, patch cost 64 + n_bytes mod 192 — the whole assembly
    // replayed with an ORDER BY pos string_agg.
    "mm_interleave" ->
      """WITH b AS (
        |  SELECT doc_id, text,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS BIGINT) AS n
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, text, n, CAST(ceil(n / 16.0) AS BIGINT) AS n_chunks FROM b
        |), txt AS (
        |  SELECT doc_id, 2*j + 1 AS pos, 'txt' AS kind,
        |    least(16, n - 16*j) AS cost
        |  FROM c, unnest(range(n_chunks)) AS t(j) WHERE n > 0
        |), med AS (
        |  SELECT doc_id, 2 * (doc_id % (n_chunks + 1)) AS pos,
        |    (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
        |    64 + (length(text) % 192) AS cost
        |  FROM c
        |), u AS (
        |  SELECT * FROM txt UNION ALL SELECT * FROM med
        |)
        |SELECT doc_id, count(*) AS n_items,
        |  CAST(sum(CASE WHEN kind = 'txt' THEN cost ELSE 0 END) AS BIGINT) AS text_tokens,
        |  CAST(sum(CASE WHEN kind <> 'txt' THEN cost ELSE 0 END) AS BIGINT) AS patch_cost,
        |  string_agg(kind || ':' || cost, '|' ORDER BY pos) AS manifest
        |FROM u GROUP BY doc_id""".stripMargin,
    // Key-skew profile: per-key counts, exact quantiles over the count
    // distribution, bounded top-10 share — one row, BIGINT casts, 6 dp.
    "q_skew_profile" ->
      """WITH counts AS (
        |  SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS n
        |  FROM events GROUP BY 1
        |), stats AS (
        |  SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows,
        |    max(n) AS max_n,
        |    round(quantile_cont(n, 0.5), 6) AS p50_n,
        |    round(quantile_cont(n, 0.99), 6) AS p99_n
        |  FROM counts
        |), top AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS top10_rows FROM (
        |    SELECT n FROM counts ORDER BY n DESC, k LIMIT 10)
        |)
        |SELECT n_keys, n_rows, max_n, p50_n, p99_n,
        |  round(CAST(max_n AS DOUBLE) / n_rows, 6) AS top1_share,
        |  round(CAST(top10_rows AS DOUBLE) / n_rows, 6) AS top10_share
        |FROM stats, top""".stripMargin,
    // Vocabulary coverage curve: (n DESC, term) ranking, fixed-k fan-out,
    // BIGINT casts, 6-dp share.
    "txt_vocab_coverage" ->
      """WITH counts AS (
        |  SELECT t AS term, count(*) AS n FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> len(x) > 0)) AS t
        |    FROM documents)
        |  GROUP BY t
        |), tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts),
        |ranked AS (
        |  SELECT term, n, row_number() OVER (ORDER BY n DESC, term) AS rank
        |  FROM counts
        |)
        |SELECT k, CAST(sum(n) AS BIGINT) AS covered, tot.total,
        |  round(CAST(CAST(sum(n) AS BIGINT) AS DOUBLE) / tot.total, 6) AS share
        |FROM ranked, unnest([5, 10, 20, 40]) AS t(k), tot
        |WHERE rank <= k
        |GROUP BY k, tot.total""".stripMargin,
    // Per-type winsorization: exact quantile_cont cutoffs at 6 dp,
    // scan-side least/greatest clip, raw doubles pass through untouched.
    "q_winsorize" ->
      """WITH cuts AS (
        |  SELECT event_type,
        |    round(quantile_cont(value, 0.05), 6) AS lo,
        |    round(quantile_cont(value, 0.95), 6) AS hi
        |  FROM events GROUP BY 1
        |)
        |SELECT e.event_id, e.event_type, e.value,
        |  least(greatest(e.value, c.lo), c.hi) AS clipped, c.lo, c.hi
        |FROM events e JOIN cuts c USING (event_type)""".stripMargin,
    // Multimodal packing: unified token+patch cost per sample, the
    // txt_pack first-fit recurrence with budget 640 over 8 shards.
    "mm_pack" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, text,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS BIGINT) AS n
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    CAST(n + 64 + (length(text) % 192) AS INT) AS cost,
        |    CAST(doc_id % 8 AS INT) AS shard
        |  FROM t
        |), ordered AS (
        |  SELECT shard, doc_id, cost,
        |    row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
        |  FROM s
        |), packed AS (
        |  SELECT shard, rn, doc_id, cost,
        |    CAST(0 AS BIGINT) AS seq, cost AS fill, 0 AS pos
        |  FROM ordered WHERE rn = 1
        |  UNION ALL
        |  SELECT o.shard, o.rn, o.doc_id, o.cost,
        |    CASE WHEN p.fill + o.cost > 640 AND p.fill > 0 THEN p.seq + 1 ELSE p.seq END,
        |    CASE WHEN p.fill + o.cost > 640 AND p.fill > 0 THEN o.cost ELSE p.fill + o.cost END,
        |    CASE WHEN p.fill + o.cost > 640 AND p.fill > 0 THEN 0 ELSE p.pos + 1 END
        |  FROM packed p JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1
        |)
        |SELECT shard, doc_id, cost,
        |  CAST(shard AS BIGINT) * 4294967296 + seq AS pack_id, pos AS pack_pos
        |FROM packed""".stripMargin,
    // Median/MAD robust anomalies: exact quantile_cont ≡ Spark's
    // percentile interpolation, 6-dp cutoff discipline, NULL rz where
    // MAD = 0 via nullif on both engines.
    "q_anomaly_mad" ->
      """WITH byday AS (
        |  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), med AS (
        |  SELECT event_type, round(quantile_cont(n, 0.5), 6) AS med
        |  FROM byday GROUP BY 1
        |), wm AS (
        |  SELECT b.event_type, b.day, b.n, m.med, abs(b.n - m.med) AS dev
        |  FROM byday b JOIN med m USING (event_type)
        |), mad AS (
        |  SELECT event_type, round(quantile_cont(dev, 0.5), 6) AS mad
        |  FROM wm GROUP BY 1
        |)
        |SELECT w.event_type, w.day, w.n, w.med, d.mad,
        |  round(0.6745 * (w.n - w.med) / nullif(d.mad, 0.0), 6) AS rz
        |FROM wm w JOIN mad d USING (event_type)""".stripMargin,
    // The z_order2 kernel replayed bit-for-bit: sign-flip via xor with
    // 2^31 (inputs are non-negative here, so the 64-bit xor + mask ≡ the
    // kernel's 32-bit xor), five spread rounds per dimension in UBIGINT
    // (multiplication stands in for << — DuckDB's shift raises on signed
    // overflow), interleave, flip the sign bit back via HUGEINT.
    "q_zorder" ->
      """WITH s AS (
        |  SELECT event_id,
        |    CAST(xor(CAST(CAST(user_id AS INTEGER) AS BIGINT), 2147483648) & 4294967295 AS UBIGINT) AS a0,
        |    CAST(xor(CAST(CAST(floor(value) AS INTEGER) AS BIGINT), 2147483648) & 4294967295 AS UBIGINT) AS b0
        |  FROM events
        |), c1 AS (SELECT event_id, (a0 | (a0 * 65536)) & CAST(281470681808895 AS UBIGINT) AS a1,
        |                           (b0 | (b0 * 65536)) & CAST(281470681808895 AS UBIGINT) AS b1 FROM s),
        |c2 AS (SELECT event_id, (a1 | (a1 * 256)) & CAST(71777214294589695 AS UBIGINT) AS a2,
        |                        (b1 | (b1 * 256)) & CAST(71777214294589695 AS UBIGINT) AS b2 FROM c1),
        |c3 AS (SELECT event_id, (a2 | (a2 * 16)) & CAST(1085102592571150095 AS UBIGINT) AS a3,
        |                        (b2 | (b2 * 16)) & CAST(1085102592571150095 AS UBIGINT) AS b3 FROM c2),
        |c4 AS (SELECT event_id, (a3 | (a3 * 4)) & CAST(3689348814741910323 AS UBIGINT) AS a4,
        |                        (b3 | (b3 * 4)) & CAST(3689348814741910323 AS UBIGINT) AS b4 FROM c3),
        |c5 AS (SELECT event_id, (a4 | (a4 * 2)) & CAST(6148914691236517205 AS UBIGINT) AS a5,
        |                        (b4 | (b4 * 2)) & CAST(6148914691236517205 AS UBIGINT) AS b5 FROM c4),
        |z AS (SELECT event_id, xor(a5 | (b5 * 2), CAST(9223372036854775808 AS UBIGINT)) AS zu FROM c5)
        |SELECT event_id,
        |  CAST(CAST(zu AS HUGEINT) - CASE WHEN zu >= CAST(9223372036854775808 AS UBIGINT)
        |    THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END AS BIGINT) AS zval
        |FROM z""".stripMargin,
    "txt_bpe_apply" -> bpeApplyOracleSql(),
    "txt_fertility" -> bpeFertilityOracleSql(),
    "txt_quality_lr" -> lrOracleSql(),
    // Reliability diagram over the trained classifier's scores: the full
    // lrOracleSql replay as a CTE, equal-width bins with the top edge
    // clamped, 6-dp bin means.
    "txt_lr_calibration" ->
      s"""WITH scored AS (
         |${lrOracleSql()}
         |)
         |SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bin,
         |  count(*) AS n,
         |  round(avg(score), 6) AS mean_pred,
         |  round(avg(CAST(y AS DOUBLE)), 6) AS obs_rate
         |FROM scored GROUP BY 1""".stripMargin,
    // Bigram-LM ground truth: same tokenizer, same add-one model trained
    // on the same corpus, ln-sum rounded to 6 dp (summation order differs
    // across engines by design).
    "txt_bigram_lm" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM documents
        |), pairs AS (
        |  SELECT doc_id, w[j] AS l, w[j+1] AS r FROM (
        |    SELECT doc_id, w, unnest(range(1, len(w))) AS j FROM t
        |  )
        |), model AS (SELECT l, r, count(*) AS c_lr FROM pairs GROUP BY 1, 2),
        |lc AS (SELECT l, sum(c_lr) AS c_l FROM model GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok) AS v FROM (SELECT unnest(w) AS tok FROM t))
        |SELECT p.doc_id, count(*) AS n_bigrams,
        |  round(sum(ln((m.c_lr + 1.0) / (lc.c_l + v.v))), 6) AS ll
        |FROM pairs p
        |JOIN model m ON p.l = m.l AND p.r = m.r
        |JOIN lc ON p.l = lc.l
        |CROSS JOIN v
        |GROUP BY 1""".stripMargin,
    // DoReMi-class domain reweighting, MODEL-ROW regrouped (the Spark
    // operator's round-13 form): within a source every occurrence of a
    // bigram scores the same log-prob, so per-source total log-lik =
    // Σ_{(l,r)} c_slr·log p — a fold over distinct model rows. Log-probs
    // round at 6 dp PER MODEL ROW and lift to integer micro-nats
    // (multiplied by the exact occurrence count), so every per-source
    // aggregate is an exact integer sum (DuckDB's HUGEINT ≡ Spark's
    // decimal(38,0) sum); one IEEE divide for the mean; the softmax
    // normalizer summed in source order (ordered full-frame window —
    // engine-order-free).
    "txt_domain_reweight" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM documents
        |), pairs AS (
        |  SELECT source, w[j] AS l, w[j+1] AS r FROM (
        |    SELECT source, w, unnest(range(1, len(w))) AS j
        |    FROM t WHERE len(w) >= 2
        |  )
        |), dmodel AS (SELECT source, l, r, count(*) AS c_slr FROM pairs GROUP BY 1, 2, 3),
        |model AS (SELECT l, r, sum(c_slr) AS c_lr FROM dmodel GROUP BY 1, 2),
        |lc AS (SELECT l, sum(c_lr) AS c_l FROM model GROUP BY 1),
        |dlc AS (SELECT source, l, sum(c_slr) AS c_sl FROM dmodel GROUP BY 1, 2),
        |v AS (SELECT count(DISTINCT tok) AS v FROM (SELECT unnest(w) AS tok FROM t)),
        |dv AS (SELECT source, count(DISTINCT tok) AS v_s
        |       FROM (SELECT source, unnest(w) AS tok FROM t) GROUP BY 1),
        |nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |       FROM t WHERE len(w) >= 2 GROUP BY 1),
        |scored AS (
        |  SELECT dm.source, dm.c_slr,
        |    dm.c_slr * (
        |      CAST(round(round(ln((dm.c_slr + 1.0) / (dlc.c_sl + dv.v_s)), 6) * 1000000) AS BIGINT)
        |      - CAST(round(round(ln((m.c_lr + 1.0) / (lc.c_l + v.v)), 6) * 1000000) AS BIGINT)) AS micro
        |  FROM dmodel dm
        |  JOIN model m ON dm.l = m.l AND dm.r = m.r
        |  JOIN lc ON dm.l = lc.l
        |  JOIN dlc ON dm.source = dlc.source AND dm.l = dlc.l
        |  CROSS JOIN v
        |  JOIN dv ON dm.source = dv.source
        |), src AS (
        |  SELECT s.source, nd.n_docs,
        |    CAST(sum(s.c_slr) AS BIGINT) AS n_bigrams,
        |    sum(s.micro) AS micro
        |  FROM scored s JOIN nd ON s.source = nd.source
        |  GROUP BY 1, 2
        |), tot AS (SELECT CAST(sum(n_bigrams) AS BIGINT) AS tb FROM src),
        |x AS (
        |  SELECT source, n_docs, n_bigrams,
        |    round(CAST(micro AS DOUBLE) / 1000000.0 / n_bigrams, 6) AS xloss
        |  FROM src
        |), u AS (
        |  SELECT source, n_docs, n_bigrams, xloss,
        |    CAST(n_bigrams AS DOUBLE) / tb * exp(1.0 * xloss) AS u
        |  FROM x CROSS JOIN tot
        |)
        |SELECT source, n_docs, n_bigrams, xloss,
        |  round(u / sum(u) OVER (ORDER BY source
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 6) AS weight
        |FROM u""".stripMargin,
    // CCNet perplexity terciles: the txt_bigram_lm body, length-
    // normalized at 6 dp, per-LANG quantile_cont cutoffs (≡ Spark's
    // exact percentile interpolation) rounded 6 dp before the compare.
    "txt_ppl_buckets" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM documents
        |), pairs AS (
        |  SELECT doc_id, w[j] AS l, w[j+1] AS r FROM (
        |    SELECT doc_id, w, unnest(range(1, len(w))) AS j FROM t
        |  )
        |), model AS (SELECT l, r, count(*) AS c_lr FROM pairs GROUP BY 1, 2),
        |lc AS (SELECT l, sum(c_lr) AS c_l FROM model GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok) AS v FROM (SELECT unnest(w) AS tok FROM t)),
        |ll AS (
        |  SELECT p.doc_id, count(*) AS n_bigrams,
        |    round(sum(ln((m.c_lr + 1.0) / (lc.c_l + v.v))), 6) AS ll
        |  FROM pairs p
        |  JOIN model m ON p.l = m.l AND p.r = m.r
        |  JOIN lc ON p.l = lc.l
        |  CROSS JOIN v
        |  GROUP BY 1
        |), scored AS (
        |  SELECT ll.doc_id, t.lang, round(ll.ll / ll.n_bigrams, 6) AS ll_norm
        |  FROM ll JOIN t ON ll.doc_id = t.doc_id
        |), cuts AS (
        |  SELECT lang, round(quantile_cont(ll_norm, 1.0/3), 6) AS c1,
        |    round(quantile_cont(ll_norm, 2.0/3), 6) AS c2
        |  FROM scored GROUP BY lang
        |)
        |SELECT s.doc_id, s.lang, s.ll_norm,
        |  CASE WHEN s.ll_norm >= c.c2 THEN 'head'
        |       WHEN s.ll_norm >= c.c1 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM scored s JOIN cuts c ON s.lang = c.lang""".stripMargin,
    // Byte-entropy ground truth: per-char histogram → −Σ p·ln p (the
    // corpus is ASCII, so characters ≡ the kernel's bytes); empty docs
    // score 0 via the left join + coalesce.
    "txt_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, length(text) AS n, substr(text, j, 1) AS c
        |  FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS j
        |        FROM documents)
        |), hist AS (
        |  SELECT doc_id, n, c, count(*) AS k FROM ch GROUP BY 1, 2, 3
        |), ent AS (
        |  SELECT doc_id,
        |    round(abs(-sum((k / CAST(n AS DOUBLE)) * ln(k / CAST(n AS DOUBLE)))), 6) AS entropy
        |  FROM hist GROUP BY doc_id, n
        |)
        |SELECT d.doc_id, length(d.text) AS n_chars,
        |  coalesce(e.entropy, 0.0) AS entropy
        |FROM documents d LEFT JOIN ent e ON d.doc_id = e.doc_id""".stripMargin,
    // int8 quantization: |x| in DOUBLE on both sides makes scale — and
    // every code — bit-identical; round() is half-away-from-zero in both.
    "sim_int8_quant" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127 AS scale
        |  FROM embeddings
        |)
        |SELECT vec_id, CAST(j - 1 AS BIGINT) AS lane,
        |  CASE WHEN scale = 0 THEN 0
        |       ELSE CAST(round(CAST(embedding[j] AS DOUBLE) / scale, 0) AS BIGINT)
        |  END AS q,
        |  round(scale, 9) AS scale
        |FROM (SELECT vec_id, embedding, scale,
        |      unnest(range(1, len(embedding) + 1)) AS j FROM s)""".stripMargin,
    // Corpus stats: Spark's exact percentile ≡ DuckDB quantile_cont (both
    // the (n-1)·p linear interpolation), rounded 6 dp.
    "txt_corpus_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS total_tokens,
        |  round(avg(n), 6) AS mean_tokens,
        |  round(quantile_cont(n, 0.5), 6) AS p50_tokens,
        |  round(quantile_cont(n, 0.95), 6) AS p95_tokens
        |FROM (SELECT lang, source,
        |  len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> len(x) > 0)) AS n
        |  FROM documents)
        |GROUP BY 1, 2""".stripMargin,
    // Transition matrix: lead over the same (µs, event_id) per-user order.
    "q_transitions" ->
      """SELECT from_type, to_type, count(*) AS n FROM (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts) // 1000, event_id) AS to_type
        |  FROM events
        |) WHERE to_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,
    // Per-doc TF-IDF keyword top-k: same rounded idf as txt_tfidf, ties
    // on term ascending — the rank window is the oracle-side spelling of
    // the engine's TopKPerKey bounded heaps.
    "txt_keywords" ->
      """WITH n AS (SELECT count(*) AS n_docs FROM documents),
        |tf AS (
        |  SELECT doc_id, t AS term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),
        |      '[^a-z0-9]+'), x -> len(x) > 0)) AS t
        |    FROM documents) GROUP BY 1, 2
        |), idf AS (
        |  SELECT term, round(ln(CAST(n.n_docs AS DOUBLE) / count(*)), 6) AS idf
        |  FROM tf, n GROUP BY term, n.n_docs
        |), s AS (
        |  SELECT tf.doc_id, tf.term, round(tf.tf * idf.idf, 6) AS score
        |  FROM tf JOIN idf USING (term)
        |)
        |SELECT doc_id, term, score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term) AS rn FROM s
        |) WHERE rn <= 3""".stripMargin,
    // ECDF decile bins: strictly-less rank over the length histogram —
    // tie-stable across engines, unlike ntile's row-order split.
    "txt_len_bins" ->
      """WITH t AS (SELECT count(*) AS n FROM documents),
        |c AS (SELECT length(text) AS len, count(*) AS k FROM documents GROUP BY 1),
        |cum AS (
        |  SELECT len, coalesce(sum(k) OVER (ORDER BY len
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |  FROM c
        |)
        |SELECT d.doc_id, length(d.text) AS len,
        |  CAST(floor(10 * cum.below / t.n) AS BIGINT) AS bin
        |FROM documents d JOIN cum ON length(d.text) = cum.len CROSS JOIN t""".stripMargin,
    // Dense grid: per type, every day in [min, max] with 0-filled counts.
    "q_dense_days" ->
      """WITH d AS (
        |  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), g AS (
        |  SELECT event_type,
        |    unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS day
        |  FROM d GROUP BY event_type
        |)
        |SELECT g.event_type, g.day, coalesce(d.n, 0) AS n
        |FROM g LEFT JOIN d ON g.event_type = d.event_type AND g.day = d.day""".stripMargin,
    // First-touch ordered funnel: stage i = users with a stage-i event
    // strictly after their FIRST completion of stages 0..i-1.
    "q_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'signup' GROUP BY 1
        |), s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1
        |), s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1
        |)
        |SELECT 1 AS stage, 'signup' AS event_type, count(*) AS n_users FROM s1
        |UNION ALL SELECT 2, 'click', count(*) FROM s2
        |UNION ALL SELECT 3, 'purchase', count(*) FROM s3""".stripMargin,
    // Weekly cohort retention: week = epoch-day number // 7 (identical
    // integer arithmetic both sides); the (user, week) activity set is
    // distinct so the cell count is a plain count.
    "q_retention" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS week
        |  FROM events
        |), f AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1)
        |SELECT f.cohort_week, uw.week - f.cohort_week AS week_offset,
        |  count(*) AS n_users
        |FROM uw JOIN f ON uw.user_id = f.user_id
        |GROUP BY 1, 2""".stripMargin,
    // Trailing z-score: PRECEDING-only RANGE frame on the calendar-day
    // index; NULL (not 0) below 2 baseline days or on a flat baseline.
    "q_anomaly" ->
      """WITH d AS (
        |  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n,
        |    epoch_ns(date_trunc('day', ts)) // 1000 // 86400000000 AS day_idx
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type, day, n,
        |  count(n) OVER w AS n_baseline,
        |  round((n - avg(n) OVER w) / nullif(stddev_samp(n) OVER w, 0), 6) AS z
        |FROM d
        |WINDOW w AS (PARTITION BY event_type ORDER BY day_idx
        |  RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)""".stripMargin,
    "mm_features" -> mmFeaturesOracleSql,
    // Generated: Spark's XXH64 re-emitted as u64-emulated DuckDB SQL, so
    // even the near-dup SimHash pipeline — whose Hamming sets depend on
    // the exact 64-bit shingle hashes — is hash-checked against the
    // all-pairs ground truth (pigeonhole recall is exact for Hamming ≤ 3).
    "dedup_simhash" -> graft.oracle.SimhashOracle.pairsSql(),
    "q1_sort_limit" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_name ASC, c_custkey ASC LIMIT 20""".stripMargin,
    "q2_count" ->
      "SELECT count(*) AS cnt FROM lineitem",
    // Same result set as q1 — the entry exercises the S8/Q6 DDL path
    // (CREATE DATABASE/TABLE IF NOT EXISTS) in front of the same scan.
    "s8_catalog_q1" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_name ASC, c_custkey ASC LIMIT 20""".stripMargin,
    "q3_null_blank" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, text, lang, source FROM documents
        |  UNION ALL SELECT CAST(9000001 AS BIGINT), NULL, 'xx', 'planted'
        |  UNION ALL SELECT CAST(9000002 AS BIGINT), '', 'xx', 'planted'
        |) WHERE text IS NULL OR text = ''""".stripMargin,
    "q3b_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |LEFT JOIN (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup') e
        |  ON c.c_custkey = e.user_id
        |WHERE e.user_id IS NULL""".stripMargin,
    "q4_dup_having" ->
      """SELECT user_id, count(*) AS n_events FROM events
        |GROUP BY user_id HAVING count(*) > 1""".stripMargin,
    "q5_range" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE value NOT BETWEEN 0 AND 100
        |   OR user_id NOT BETWEEN 0 AND 1000000""".stripMargin,
    "s5_stream_ingest" ->
      "SELECT event_id, user_id, event_type, value FROM events",
    "dedup_exact" ->
      """SELECT event_id, user_id, event_type, value FROM (
        |  SELECT event_id, user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts) // 1000, event_id) AS rn
        |  FROM events
        |) WHERE rn = 1""".stripMargin,
    "dedup_exact_docs" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 0
        |) GROUP BY md5(text)""".stripMargin,
    // Ground truth for the LSH pipeline: ALL pairs with exact 3-gram
    // shingle Jaccard >= 0.7 over the same planted corpus. The LSH output
    // equals this w.h.p. (miss probability ~5e-5 per qualifying pair at
    // k=128, b=32); verification removes every false positive exactly.
    "dedup_minhash_lsh" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' graftdup' FROM documents WHERE doc_id % 10 = 0
        |), toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM base
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(w) - 1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [array_to_string(w, ' ')] END AS s
        |  FROM toks
        |)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |) WHERE jaccard >= 0.7""".stripMargin,
    // Soft dedup: commonness = mean corpus df of a doc's distinct word
    // 3-grams, weight = 1/commonness. Gram identity is string-space here
    // vs hash-space in the plan (isomorphic modulo 64-bit collisions, the
    // dedup_minhash_lsh argument); commonness divides the EXACT integer
    // df sum by the gram count on both sides — bit-identical before the
    // 6-dp display round.
    "dedup_soft" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' graftdup' FROM documents WHERE doc_id % 10 = 0
        |), toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM base
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(w) - 1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [array_to_string(w, ' ')] END AS s
        |  FROM toks
        |), ex AS (
        |  SELECT doc_id, unnest(s) AS g FROM sh
        |), dfreq AS (
        |  SELECT g, count(*) AS df FROM ex GROUP BY g
        |)
        |SELECT ex.doc_id, count(*) AS n_grams,
        |  round(CAST(sum(df) AS DOUBLE) / count(*), 6) AS commonness,
        |  round(1.0 / (CAST(sum(df) AS DOUBLE) / count(*)), 6) AS weight
        |FROM ex JOIN dfreq USING (g)
        |GROUP BY ex.doc_id""".stripMargin,
    // Surgical decontamination: the txt_decontam corpus/eval fixture,
    // every token covered by an eval-matching 8-token window cut, the
    // rest stitched in order (tokenizer-canonical text both sides).
    // Positions are 0-based in the plan, 1-based here — only counts and
    // the rebuilt text compare, and those are position-convention-free.
    "txt_decontam_scrub" ->
      """WITH eval AS (
        |  SELECT doc_id, doc_id // 37 AS ei, text FROM documents WHERE doc_id % 37 = 0
        |), base AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 37 <> 0
        |), corpus AS (
        |  SELECT b.doc_id, b.text || ' ' || e.text AS text
        |  FROM base b JOIN eval e ON b.doc_id % 14 = e.ei
        |  WHERE b.doc_id % 5 = 1
        |  UNION ALL
        |  SELECT doc_id, text FROM base WHERE doc_id % 5 <> 1
        |), ctoks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM corpus
        |), egrams AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |      range(1, greatest(len(w) - 7, 1) + 1),
        |      i -> array_to_string(w[i:i+7], ' ')))) AS g
        |  FROM (SELECT
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |    FROM eval)
        |), wflat AS (
        |  SELECT doc_id, u['pos'] AS pos, u['g'] AS g FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(1, greatest(len(w) - 7, 1) + 1),
        |      i -> {'pos': i, 'g': array_to_string(w[i:i+7], ' ')})) AS u
        |    FROM ctoks)
        |), ps AS (
        |  SELECT doc_id, list(pos) AS ps FROM wflat JOIN egrams USING (g)
        |  GROUP BY doc_id
        |)
        |SELECT doc_id, len(w) AS n_tokens,
        |  len(w) - len(kept) AS n_removed,
        |  coalesce(array_to_string(kept, ' '), '') AS clean_text
        |FROM (
        |  SELECT c.doc_id, c.w,
        |    list_transform(list_filter(range(1, len(c.w) + 1),
        |      i -> len(list_filter(COALESCE(p.ps, []), q -> i >= q AND i <= q + 7)) = 0),
        |      i -> c.w[i]) AS kept
        |  FROM ctoks c LEFT JOIN ps p USING (doc_id))""".stripMargin,
    // ^ r17 correctness fix: DuckDB's array_to_string over an EMPTY kept
    // list yields NULL where Spark's concat of zero kept tokens yields ''
    // — fires when a doc is scrubbed to nothing (sf0.001 doc 50, whose
    // every token sits inside a flagged 8-gram window). dedup_span_scrub
    // already carried the coalesce; this entry had the latent form.
    // Per-source curation report: every rate divides exact integers
    // (dup = fingerprint held by an earlier doc; keep = the shared
    // qualityKeep rule replayed verbatim — FALSE AND NULL = FALSE on
    // both engines covers the degenerate-doc guards; novelty share is
    // the micro-average Σnovel/Σgrams, never a mean of per-doc ratios).
    "txt_curation_report" ->
      """WITH base AS (
        |  SELECT doc_id, lang, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, lang, source, text FROM documents WHERE doc_id % 7 = 0
        |), toksrc AS (
        |  SELECT doc_id, source, text,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM base
        |), perdoc AS (
        |  SELECT doc_id, source, len(w) AS n_tokens, md5(text) AS fp,
        |    (length(text) >= 20 AND len(w) >= 5
        |      AND CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0) AS DOUBLE)
        |            / len(w) BETWEEN 2.0 AND 12.0
        |      AND CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
        |            / length(text) <= 0.2
        |      AND CAST(len(list_filter(w, x -> list_contains(
        |            ['the','a','an','of','to','and','in','is','it','that'], x))) AS DOUBLE)
        |            / len(w) >= 0.01) AS keep
        |  FROM toksrc
        |), fsfp AS (
        |  SELECT fp, min(doc_id) AS first_id FROM perdoc GROUP BY fp
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(w) - 1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [array_to_string(w, ' ')] END AS s
        |  FROM toksrc
        |), ex AS (
        |  SELECT doc_id, unnest(s) AS g FROM sh
        |), fs AS (
        |  SELECT g, min(doc_id) AS first_g FROM ex GROUP BY g
        |), nov AS (
        |  SELECT ex.doc_id, count(*) AS n_grams,
        |    sum(CASE WHEN first_g = ex.doc_id THEN 1 ELSE 0 END) AS n_novel
        |  FROM ex JOIN fs USING (g) GROUP BY ex.doc_id
        |), src AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(CASE WHEN first_id < p.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
        |    CAST(sum(n_tokens) AS BIGINT) AS tokens_sum,
        |    sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_keep,
        |    sum(n_grams) AS g_sum, sum(n_novel) AS nov_sum
        |  FROM perdoc p JOIN fsfp USING (fp) JOIN nov ON nov.doc_id = p.doc_id
        |  GROUP BY source
        |)
        |SELECT source, n_docs, n_dups,
        |  round(CAST(n_dups AS DOUBLE) / n_docs, 6) AS dup_rate,
        |  tokens_sum,
        |  round(CAST(tokens_sum AS DOUBLE) / t.tokens_total, 6) AS token_share,
        |  round(CAST(n_keep AS DOUBLE) / n_docs, 6) AS keep_rate,
        |  round(CAST(nov_sum AS DOUBLE) / g_sum, 6) AS novel_gram_share
        |FROM src CROSS JOIN (
        |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tokens_total FROM perdoc) t""".stripMargin,
    // Lexical retrieval eval: the txt_bm25 ranking CTE (same rounded
    // scores, same ORDER BY tie-break) against the deterministic binary
    // qrel "contains every query term"; ideal DCG is a left-to-right
    // fold over 1..min(n_rel, k) on both engines, and the 6-dp round
    // absorbs summation-order ulp on the DCG side.
    "txt_retrieval_eval" ->
      s"""WITH lens AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM documents
        |), stats AS (
        |  SELECT count(*) AS n_docs, avg(len(w)) AS avgdl FROM lens
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(w) AS term FROM lens)
        |  WHERE term IN (${TextAnalysis.searchQuery.map("'" + _ + "'").mkString(", ")})
        |  GROUP BY doc_id, term
        |), dfs AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term
        |), ranked AS (
        |  SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
        |  FROM (
        |    SELECT tf.doc_id, round(sum(
        |        ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1.0)
        |          / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len(w) / avgdl))
        |      ), 6) AS score
        |    FROM tf
        |    JOIN dfs USING (term)
        |    JOIN lens ON lens.doc_id = tf.doc_id
        |    CROSS JOIN stats
        |    GROUP BY tf.doc_id
        |    ORDER BY score DESC, tf.doc_id
        |    LIMIT 25)
        |), rel AS (
        |  SELECT doc_id FROM lens
        |  WHERE ${TextAnalysis.searchQuery
                 .map(t => s"list_contains(w, '$t')").mkString(" AND ")}
        |), hits AS (
        |  SELECT rnk FROM ranked JOIN rel USING (doc_id)
        |), agg AS (
        |  SELECT count(*) AS rel_at_k, min(rnk) AS first_rank,
        |    COALESCE(sum(1.0 / log2(rnk + 1)), 0) AS dcg
        |  FROM hits
        |), relc AS (SELECT count(*) AS n_rel FROM rel)
        |SELECT 25 AS k, n_rel, rel_at_k,
        |  round(CAST(rel_at_k AS DOUBLE) / n_rel, 6) AS recall_at_k,
        |  round(CASE WHEN first_rank IS NULL THEN 0.0
        |             ELSE 1.0 / first_rank END, 6) AS mrr,
        |  round(CASE WHEN rel_at_k = 0 THEN 0.0
        |             ELSE dcg / list_sum(list_transform(
        |               range(1, least(n_rel, 25) + 1), i -> 1.0 / log2(i + 1))) END, 6) AS ndcg
        |FROM agg CROSS JOIN relc""".stripMargin,
    // First-occurrence novelty: per doc, the fraction of its distinct
    // grams whose corpus-wide min(doc_id) is the doc itself. Exact
    // integer counts ÷ count, 6-dp display round (the dedup_soft
    // argument); n_novel cast to BIGINT so both engines emit int64.
    "dedup_novelty" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' graftdup' FROM documents WHERE doc_id % 10 = 0
        |), toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM base
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(w) - 1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [array_to_string(w, ' ')] END AS s
        |  FROM toks
        |), ex AS (
        |  SELECT doc_id, unnest(s) AS g FROM sh
        |), fs AS (
        |  SELECT g, min(doc_id) AS first_id FROM ex GROUP BY g
        |)
        |SELECT ex.doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN first_id = ex.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  round(CAST(sum(CASE WHEN first_id = ex.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS novelty
        |FROM ex JOIN fs USING (g)
        |GROUP BY ex.doc_id""".stripMargin,
    // Near-dup decontamination: exact cross-side Jaccard ground truth
    // (the LSH path recalls it w.h.p. and verifies exactly — the
    // dedup_minhash_lsh argument applied to the corpus×eval restriction).
    // The threshold applies to the UNROUNDED ratio on both sides; the
    // eval side is bounded so the oracle's cross join is eval-sized.
    "dedup_near_decontam" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' graftdup' FROM documents WHERE doc_id % 10 = 0
        |), toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM base
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(w) - 1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [array_to_string(w, ' ')] END AS s
        |  FROM toks
        |), etoks AS (
        |  SELECT doc_id AS eval_id,
        |    list_filter(string_split_regex(lower(text || ' evalvariant'), '[^a-z0-9]+'),
        |      x -> len(x) > 0) AS w
        |  FROM documents WHERE doc_id % 37 = 0
        |), esh AS (
        |  SELECT eval_id, CASE WHEN len(w) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(w) - 1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [array_to_string(w, ' ')] END AS s
        |  FROM etoks
        |)
        |SELECT doc_id, eval_id, round(jac, 6) AS jaccard FROM (
        |  SELECT c.doc_id AS doc_id, e.eval_id AS eval_id,
        |    CAST(len(list_intersect(c.s, e.s)) AS DOUBLE)
        |      / (len(c.s) + len(e.s) - len(list_intersect(c.s, e.s))) AS jac
        |  FROM sh c CROSS JOIN esh e
        |) WHERE jac >= 0.7""".stripMargin,
    // r17 correctness fix (found by the round's sf0.001 oracle sweep):
    // the previous hand-written oracle modeled Hamming-0 pairs as equal
    // token SEQUENCES, claiming the converse needed a ~2⁻⁶⁴ collision.
    // That rarity argument holds for a UNIFORM hash, not for simhash —
    // a bitwise MAJORITY VOTE that is deliberately robust to small
    // edits: at sf0.001, docs 474/498 differ by one trailing token (96
    // vs 95) yet fingerprint identically, so the engine correctly
    // reports the pair and the token-equality oracle missed it. The
    // oracle is now the same faithful XXH64→simhash replay as
    // dedup_simhash (graft.oracle.SimhashOracle), with this entry's
    // planted-exact base and the Hamming-0 cut. sf0.01 output is
    // unchanged (no natural collision exists there — the entry's hash
    // history stays intact); sf0.001 now matches.
    "dedup_simhash_exact" -> graft.oracle.SimhashOracle.pairsSql(0,
      """SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 0""".stripMargin),
    // Score formula mirrors the cosine_sim kernel bit-exactly (double-cast
    // inner products, dot/sqrt(na*nb)); DuckDB's builtin
    // list_cosine_similarity accumulates in float and diverges at 1e-7.
    "sim_topk_cosine" -> cosineTopkSql,
    // Hard negatives: the cosine ground truth with the duplicate-ceiling
    // band applied before the rank (NaN already excluded there).
    "sim_hard_negatives" ->
      """SELECT query_id, vec_id, score FROM (
        |  SELECT query_id, vec_id, score,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
        |  FROM (
        |    SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
        |      list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
        |        / sqrt(list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
        |             * list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) AS score
        |    FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        |    WHERE q.vec_id IN (0, 100, 200, 300, 400)
        |  ) WHERE NOT isnan(score) AND score < 0.95
        |) WHERE rn <= 5""".stripMargin,
    // The exact prefix-filtered Jaccard join has the SAME ground truth as
    // the LSH pipeline (all pairs with word-3-gram Jaccard ≥ 0.7) — but
    // here equality is guaranteed by construction, not w.h.p.: prefix
    // filtering provably loses no qualifying pair and verification is the
    // exact set Jaccard. (Shingle-hash vs word-string sets are isomorphic
    // modulo 64-bit collisions, same as dedup_minhash_lsh.)
    "dedup_ngram_jaccard" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' graftdup' FROM documents WHERE doc_id % 10 = 0
        |), toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM base
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(w) - 1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [array_to_string(w, ' ')] END AS s
        |  FROM toks
        |)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |) WHERE jaccard >= 0.7""".stripMargin,
    // Directed set-containment ground truth: ALL ordered pairs with
    // |Sh(A)∩Sh(B)|/|Sh(A)| ≥ 0.9 over documents ∪ half-token excerpts
    // (the same excerpt construction as plantedContainedDocs, replayed on
    // the shared tokenizer). Equality with the prefix-filtered plan is by
    // construction — the probe-side prefix provably loses no qualifying
    // directed pair and verification is the exact integer ratio.
    "dedup_containment" ->
      """WITH basetoks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM documents
        |), base AS (
        |  SELECT doc_id, w FROM basetoks
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    list_slice(w, 1, greatest(len(w) // 2, 1)) AS w
        |  FROM basetoks WHERE doc_id % 10 = 0
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(w) - 1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [array_to_string(w, ' ')] END AS s
        |  FROM base
        |)
        |SELECT doc_a, doc_b, containment FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS containment
        |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
        |) WHERE containment >= 0.9""".stripMargin,
    // Survivors of greedy near-dup removal: ground truth recomputes the
    // all-pairs Jaccard pair set and drops every doc_b — the same
    // keep-smallest policy as the operator, over the exact pair set the
    // LSH plan recalls w.h.p. (see dedup_minhash_lsh).
    "dedup_near_drop" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' graftdup' FROM documents WHERE doc_id % 10 = 0
        |), toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM base
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(w) - 1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [array_to_string(w, ' ')] END AS s
        |  FROM toks
        |), pairs AS (
        |  SELECT doc_b FROM (
        |    SELECT b.doc_id AS doc_b,
        |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  ) WHERE jaccard >= 0.7
        |)
        |SELECT doc_id FROM base
        |WHERE doc_id NOT IN (SELECT DISTINCT doc_b FROM pairs)""".stripMargin,
    // Transitive closure of the same exact-Jaccard pair ground truth:
    // recursive reachability (n reaches m) aggregated to the minimum
    // reachable id — the labeling the alternating-star algorithm converges
    // to. The pair set is the w.h.p.-exact LSH recall set (see
    // dedup_minhash_lsh), so components match exactly when it does.
    "dedup_cc" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' graftdup' FROM documents WHERE doc_id % 10 = 0
        |), toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM base
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(w) - 1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [array_to_string(w, ' ')] END AS s
        |  FROM toks
        |), pairs AS (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  ) WHERE jaccard >= 0.7
        |), e AS (
        |  SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION
        |  SELECT doc_b, doc_a FROM pairs
        |), reach(n, m) AS (
        |  SELECT u, u FROM e
        |  UNION
        |  SELECT reach.n, e.v FROM reach JOIN e ON reach.m = e.u
        |)
        |SELECT CAST(n AS BIGINT) AS node, CAST(min(m) AS BIGINT) AS component
        |FROM reach GROUP BY n""".stripMargin,
    // Quality-aware cluster dedup ground truth: the dedup_cc recursive
    // closure (same planted corpus, same exact-Jaccard pair set), then one
    // row per component under (length DESC, doc_id ASC) — singletons are
    // their own component. The planted copies are one token longer than
    // their originals, so keep-longest provably differs from
    // keep-smallest-id on every planted cluster.
    "dedup_keep_best" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' graftdup' FROM documents WHERE doc_id % 10 = 0
        |), toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM base
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(w) - 1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [array_to_string(w, ' ')] END AS s
        |  FROM toks
        |), pairs AS (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  ) WHERE jaccard >= 0.7
        |), e AS (
        |  SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION
        |  SELECT doc_b, doc_a FROM pairs
        |), reach(n, m) AS (
        |  SELECT u, u FROM e
        |  UNION
        |  SELECT reach.n, e.v FROM reach JOIN e ON reach.m = e.u
        |), comps AS (
        |  SELECT n AS node, min(m) AS component FROM reach GROUP BY n
        |), labeled AS (
        |  SELECT d.doc_id, d.text,
        |    CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS component
        |  FROM base d LEFT JOIN comps c ON d.doc_id = c.node
        |)
        |SELECT doc_id, component, n_members FROM (
        |  SELECT doc_id, component,
        |    count(*) OVER (PARTITION BY component) AS n_members,
        |    row_number() OVER (PARTITION BY component
        |      ORDER BY length(text) DESC, doc_id) AS rn
        |  FROM labeled
        |) WHERE rn = 1""".stripMargin,
    // Preference pairs: the dedup_keep_best closure (same planted corpus,
    // same exact-Jaccard pair set), then per component the opposite-facing
    // lexicographic extremes — chosen under (len DESC, id ASC), rejected
    // under (len ASC, id DESC) — and the component's min/max lengths,
    // which ARE the two sides' scores by construction. Only clustered
    // docs (INNER join on comps): singletons have no counterfactual.
    "txt_pref_pairs" -> prefPairsOracleSql,
    // landed ≡ direct (the CC closure is deterministic from the banded
    // pair set), so the steady serve shares the oracle verbatim
    "txt_pref_pairs_steady" -> prefPairsOracleSql,
    // Whitening moment pass: the 6-dp micro lift, the row-local l ≤ m
    // pair fan-out, and the EXACT integer sums (HUGEINT here, decimal(38)
    // on the Spark side) replayed literally; the one IEEE divide + 6-dp
    // round happens after the exact sum on both engines, so partial-agg
    // order cannot show through. Row classes: (l,m) second moments,
    // (l,-1) first moments, (-1,-1) the count.
    "sim_whiten_moments" ->
      """WITH mm AS (
        |  SELECT list_transform(embedding,
        |    x -> CAST(round(round(CAST(x AS DOUBLE), 6) * 1000000) AS BIGINT)) AS mi
        |  FROM embeddings
        |), e1 AS (
        |  SELECT mi, unnest(range(1, len(mi) + 1)) AS i FROM mm
        |), nn AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n FROM mm
        |), pr AS (
        |  SELECT i, j, mi[i] * mi[j] AS p
        |  FROM (SELECT mi, i, unnest(range(i, len(mi) + 1)) AS j FROM e1)
        |), sec AS (
        |  SELECT CAST(i - 1 AS BIGINT) AS l, CAST(j - 1 AS BIGINT) AS m,
        |    round(CAST(sum(p) AS DOUBLE) / nn.n / 1e12, 6) AS v
        |  FROM pr, nn GROUP BY i, j, nn.n
        |), fir AS (
        |  SELECT CAST(i - 1 AS BIGINT) AS l, CAST(-1 AS BIGINT) AS m,
        |    round(CAST(sum(mi[i]) AS DOUBLE) / nn.n / 1e6, 6) AS v
        |  FROM e1, nn GROUP BY i, nn.n
        |), cn AS (
        |  SELECT CAST(-1 AS BIGINT) AS l, CAST(-1 AS BIGINT) AS m,
        |    round(n, 6) AS v FROM nn
        |)
        |SELECT l, m, v FROM sec
        |UNION ALL SELECT l, m, v FROM fir
        |UNION ALL SELECT l, m, v FROM cn""".stripMargin,
    // Normalized fingerprints: the oracle recomputes NFC with DuckDB's
    // nfc_normalize over the same planted corpus (chr(769)/chr(776) are
    // the combining acute/diaeresis the Spark side plants as \u escapes);
    // md5 hashes the normalized UTF-8 bytes on both engines. CROSS-ENGINE
    // CAVEAT: the law depends on the JDK's java.text.Normalizer and
    // DuckDB's utf8proc agreeing on the Unicode version's composition
    // tables — stable for these planted U+0301/U+0308 compositions (NFC
    // is normalization-stable for assigned codepoints), but a natural
    // corpus carrying codepoints assigned in a NEWER Unicode than one
    // engine ships could diverge here without being a plan bug.
    "txt_normalize" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000,
        |    text || ' cafe' || chr(769) || ' u' || chr(776) || 'ber'
        |  FROM documents WHERE doc_id % 10 = 0
        |)
        |SELECT doc_id, md5(nfc_normalize(text)) AS fp,
        |  nfc_normalize(text) <> text AS changed
        |FROM base""".stripMargin,
    // Duplicated 8-token spans: the window STRING is the ground-truth
    // key; the Spark side keys on the XXH64 window hash — isomorphic
    // modulo 64-bit collisions, same argument as dedup_minhash_lsh. A
    // window string occurring k ≥ 2 times flags all k (doc, pos) sites
    // on both sides; texts shorter than 8 tokens contribute their whole
    // token sequence as one window at pos 0 (the kernel's short-input
    // rule, mirrored in the CASE).
    "dedup_spans" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' graftdup' FROM documents WHERE doc_id % 10 = 0
        |), toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM base
        |), win AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, greatest(len(w) - 6, 2)),
        |      i -> struct_pack(pos := i - 1, s := array_to_string(w[i:i+7], ' ')))) AS u
        |  FROM toks
        |), flat AS (
        |  SELECT doc_id, u.pos AS pos, u.s AS s FROM win
        |)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos, df FROM (
        |  SELECT doc_id, pos, count(*) OVER (PARTITION BY s) AS df FROM flat
        |) WHERE df >= 2""".stripMargin,
    // Maximal duplicated ranges: the same planted corpus / window flags,
    // then the per-doc gaps-and-islands fold (break when the next flagged
    // position starts past the previous window's coverage) and one
    // aggregate per island. End EXCLUSIVE; window strings stand in for
    // the Spark side's XXH64 window hashes (the dedup_spans isomorphism).
    "dedup_span_ranges" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' graftdup' FROM documents WHERE doc_id % 10 = 0
        |), toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM base
        |), win AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, greatest(len(w) - 6, 2)),
        |      i -> struct_pack(pos := i - 1, s := array_to_string(w[i:i+7], ' ')))) AS u
        |  FROM toks
        |), flat AS (
        |  SELECT doc_id, u.pos AS pos, u.s AS s FROM win
        |), fl AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, count(*) OVER (PARTITION BY s) AS df FROM flat
        |  ) WHERE df >= 2
        |), brk AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |           OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
        |         THEN 1 ELSE 0 END AS b
        |  FROM fl
        |), isl AS (
        |  SELECT doc_id, pos,
        |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
        |  FROM brk
        |)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) + 8 AS BIGINT) AS span_end,
        |  CAST(max(pos) + 8 - min(pos) AS BIGINT) AS span_tokens,
        |  count(*) AS n_windows
        |FROM isl GROUP BY doc_id, g""".stripMargin,
    // ExactSubstr scrub: the ranges CTE above folded to a per-doc list,
    // every token whose 0-based position falls inside any range cut, the
    // survivors rejoined — all-occurrences removal over the normalized
    // token stream.
    "dedup_span_scrub" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' graftdup' FROM documents WHERE doc_id % 10 = 0
        |), toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM base
        |), win AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, greatest(len(w) - 6, 2)),
        |      i -> struct_pack(pos := i - 1, s := array_to_string(w[i:i+7], ' ')))) AS u
        |  FROM toks
        |), flat AS (
        |  SELECT doc_id, u.pos AS pos, u.s AS s FROM win
        |), fl AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, count(*) OVER (PARTITION BY s) AS df FROM flat
        |  ) WHERE df >= 2
        |), brk AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |           OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
        |         THEN 1 ELSE 0 END AS b
        |  FROM fl
        |), isl AS (
        |  SELECT doc_id, pos,
        |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
        |  FROM brk
        |), rng AS (
        |  SELECT doc_id, min(pos) AS a, max(pos) + 8 AS b
        |  FROM isl GROUP BY doc_id, g
        |), rl AS (
        |  SELECT doc_id, list(struct_pack(a := a, b := b)) AS rs
        |  FROM rng GROUP BY doc_id
        |)
        |SELECT doc_id,
        |  coalesce(array_to_string(kept, ' '), '') AS clean_text,
        |  CAST(n - len(kept) AS BIGINT) AS n_removed
        |FROM (
        |  SELECT t.doc_id, len(t.w) AS n,
        |    CASE WHEN rl.rs IS NULL THEN t.w
        |         ELSE list_transform(list_filter(
        |           list_transform(range(1, len(t.w) + 1),
        |             i -> struct_pack(p := i - 1, tk := t.w[i])),
        |           sx -> len(list_filter(rl.rs, r -> sx.p >= r.a AND sx.p < r.b)) = 0),
        |           sx -> sx.tk) END AS kept
        |  FROM toks t LEFT JOIN rl ON t.doc_id = rl.doc_id
        |)""".stripMargin,
    // Snapshot ⊕ changelog: highest-(ts, event_id) change per user from
    // the deterministic event_id % 3 subset wins; a winning 'error'
    // deletes the user's snapshot row, anything else replaces-or-inserts
    // it; untouched users keep their keep-first base row.
    "cdc_apply" ->
      """WITH base AS (
        |  SELECT event_id, user_id, event_type, value FROM (
        |    SELECT event_id, user_id, event_type, value,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY epoch_ns(ts) // 1000, event_id) AS rn
        |    FROM events
        |  ) WHERE rn = 1
        |), latest AS (
        |  SELECT user_id, event_id, event_type, value,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
        |  FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts) // 1000 DESC, event_id DESC) AS rn
        |    FROM events WHERE event_id % 3 = 0
        |  ) WHERE rn = 1
        |)
        |SELECT b.event_id, b.user_id, b.event_type, b.value FROM base b
        |WHERE b.user_id NOT IN (SELECT user_id FROM latest)
        |UNION ALL
        |SELECT event_id, user_id, event_type, value FROM latest WHERE op <> 'D'""".stripMargin,
    // SCD2 ground truth: same changelog, lead() over the same (µs,
    // event_id) per-key order; deletes close intervals but emit no row.
    "cdc_scd2" ->
      """WITH ch AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
        |  FROM events WHERE event_id % 3 = 0
        |), v AS (
        |  SELECT *, lead(ts) OVER (PARTITION BY user_id
        |    ORDER BY epoch_ns(ts) // 1000, event_id) AS valid_to
        |  FROM ch
        |)
        |SELECT user_id, event_id, event_type, value, ts AS valid_from,
        |  valid_to, valid_to IS NULL AS is_current
        |FROM v WHERE op <> 'D'""".stripMargin,
    // Exact per-column profile of events (ts excluded: timestamp min/max
    // is not double-expressible); non-numeric columns carry NULL min/max
    // on both sides.
    "q_profile" ->
      """SELECT 'event_id' AS col_name, count(*) AS n_rows,
        |       count(*) - count(event_id) AS n_nulls,
        |       count(DISTINCT event_id) AS n_distinct,
        |       CAST(min(event_id) AS DOUBLE) AS min_num,
        |       CAST(max(event_id) AS DOUBLE) AS max_num FROM events
        |UNION ALL
        |SELECT 'user_id', count(*), count(*) - count(user_id),
        |       count(DISTINCT user_id),
        |       CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE) FROM events
        |UNION ALL
        |SELECT 'event_type', count(*), count(*) - count(event_type),
        |       count(DISTINCT event_type),
        |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM events
        |UNION ALL
        |SELECT 'value', count(*), count(*) - count(value),
        |       count(DISTINCT value),
        |       CAST(min(value) AS DOUBLE), CAST(max(value) AS DOUBLE) FROM events
        |UNION ALL
        |SELECT 'props', count(*), count(*) - count(props),
        |       count(DISTINCT props),
        |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM events""".stripMargin,
    // The salted join must be ROW-IDENTICAL to the plain equi-join (salt
    // only changes partitioning) — the oracle runs the plain join.
    "q_salted_join" ->
      """SELECT e.event_id, e.user_id, c.c_name, c.c_acctbal, e.value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey""".stripMargin,
    // Planted scaled copies (×1.01 re-rounded to float) are the only pairs
    // that can clear cosine ≥ 0.999 on a random corpus; the LSH-bucketed
    // Spark plan recalls them exactly (scaling preserves every sign bit).
    "dedup_embed_cos" ->
      """WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 500000,
        |         list_transform(embedding, x -> CAST(x * 1.01 AS FLOAT))
        |  FROM embeddings WHERE vec_id % 20 = 0
        |)
        |SELECT vec_a, vec_b, round(score, 6) AS score FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        |      / sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))
        |           * list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))) AS score
        |  FROM base a JOIN base b ON a.vec_id < b.vec_id
        |) WHERE score >= 0.999""".stripMargin,
    // Full IVF reproduction: same deterministic centroids (every 37th
    // vector), same assignment tie-break (score DESC, cell_id ASC), same
    // nprobe=4 / k=5 — the oracle checks quantization, probing, AND the
    // final rank cut.
    "sim_topk_ivf" ->
      """WITH cent AS (
        |  SELECT vec_id AS cell_id, embedding AS c_emb FROM embeddings WHERE vec_id % 37 = 0
        |), assigned AS (
        |  SELECT vec_id, embedding, cell_id FROM (
        |    SELECT e.vec_id, e.embedding, c.cell_id,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(c.c_emb AS DOUBLE[]))
        |          / sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
        |               * list_inner_product(CAST(c.c_emb AS DOUBLE[]), CAST(c.c_emb AS DOUBLE[]))) DESC,
        |        c.cell_id ASC) AS rn
        |    FROM embeddings e CROSS JOIN cent c
        |  ) WHERE rn = 1
        |), probes AS (
        |  SELECT query_id, cell_id FROM (
        |    SELECT q.vec_id AS query_id, c.cell_id,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(c.c_emb AS DOUBLE[]))
        |          / sqrt(list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
        |               * list_inner_product(CAST(c.c_emb AS DOUBLE[]), CAST(c.c_emb AS DOUBLE[]))) DESC,
        |        c.cell_id ASC) AS rn
        |    FROM embeddings q CROSS JOIN cent c
        |    WHERE q.vec_id IN (0, 100, 200, 300, 400)
        |  ) WHERE rn <= 4
        |)
        |SELECT query_id, vec_id, score FROM (
        |  SELECT query_id, vec_id, score,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
        |  FROM (
        |    SELECT p.query_id AS query_id, a.vec_id AS vec_id,
        |      list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))
        |        / sqrt(list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
        |             * list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) AS score
        |    FROM probes p
        |    JOIN assigned a ON a.cell_id = p.cell_id
        |    JOIN embeddings q ON q.vec_id = p.query_id
        |    WHERE a.vec_id <> p.query_id
        |  ) WHERE NOT isnan(score)
        |) WHERE rn <= 5""".stripMargin,
    "txt_tokens" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '\S+')) AS n_ws_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]+')) AS n_bpe_tokens
        |FROM documents""".stripMargin,
    // Same fold as the codegen'd TextKernels: init-7 polynomial over
    // codepoints (== UTF-8 bytes on the ASCII corpus) for the whole doc;
    // init-0 per-window fold, min over all 8-char windows, for the
    // rolling fingerprint — recomputed independently per window here vs
    // Rabin-Karp rolled in the engine, so agreement checks the rolling
    // update algebra too.
    "txt_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(7 AS BIGINT),
        |      list_transform(range(1, length(text) + 1),
        |        i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fp,
        |  CASE WHEN length(text) = 0 THEN 0
        |       WHEN length(text) <= 8 THEN
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(text) + 1),
        |          i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
        |      (acc, x) -> (acc * 31 + x) % 1000000007)
        |  ELSE
        |    list_min(list_transform(range(1, length(text) - 8 + 2),
        |      i -> list_reduce(
        |        list_transform(range(i, i + 8),
        |          j -> CAST(ascii(substr(text, j, 1)) AS BIGINT)),
        |        (acc, x) -> (acc * 31 + x) % 1000000007)))
        |  END AS rolling_fp
        |FROM documents""".stripMargin,
    // CAST ... AS BIGINT on every DuckDB sum: sum(BIGINT) returns HUGEINT,
    // which pandas surfaces as float64 — the driver's hasher then sees
    // 19525.0 vs Spark's 19525 and fails (the round-3 failure mode for
    // every entry with a HUGEINT column).
    "txt_lang_dist" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  avg(length(text)) AS avg_chars
        |FROM documents GROUP BY lang""".stripMargin,
    "txt_quality" ->
      """SELECT doc_id, lang,
        |  length(text) AS n_chars,
        |  len(toks) AS n_tokens,
        |  CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS token_chars,
        |  length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
        |  len(list_filter(toks, x -> list_contains(
        |    ['the','a','an','of','to','and','in','is','it','that'], x))) AS n_stopwords
        |FROM (
        |  SELECT doc_id, lang, text,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        |  FROM documents
        |)""".stripMargin,
    // DuckDB's native ASOF JOIN is the ground truth for the union +
    // carry-forward as-of implementation.
    "q_asof_join" ->
      """SELECT e.event_id, e.user_id, c.event_id AS prior_id,
        |  CASE WHEN c.event_id IS NOT NULL
        |       THEN epoch_ns(e.ts) // 1000 - epoch_ns(c.ts) // 1000 END AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'error') e
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON e.user_id = c.user_id AND e.ts >= c.ts""".stripMargin,
    // Keyless range join: DuckDB executes the inequality join directly
    // (its optimizer picks IEJoin); the Spark side is the bucketed
    // candidate decomposition — same result by construction.
    "q_range_join" ->
      """SELECT e.event_id, e.user_id, w.window_id,
        |  epoch_ns(e.ts) // 1000 - w.lo_us AS offset_us
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
        |JOIN (SELECT event_id AS window_id, epoch_ns(ts) // 1000 AS lo_us
        |      FROM events WHERE event_type = 'signup' AND user_id % 50 = 0) w
        |  ON epoch_ns(e.ts) // 1000 >= w.lo_us
        | AND epoch_ns(e.ts) // 1000 < w.lo_us + 21600000000""".stripMargin,
    "q_set_ops" ->
      """WITH c AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day
        |           FROM events WHERE event_type = 'click'),
        |     p AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day
        |           FROM events WHERE event_type = 'purchase')
        |SELECT 'both' AS op, user_id, day FROM (SELECT * FROM c INTERSECT SELECT * FROM p)
        |UNION ALL
        |SELECT 'click_only' AS op, user_id, day FROM (SELECT * FROM c EXCEPT SELECT * FROM p)
        |UNION ALL
        |SELECT 'purchase_only' AS op, user_id, day FROM (SELECT * FROM p EXCEPT SELECT * FROM c)""".stripMargin,
    "q_full_outer" ->
      """SELECT COALESCE(c.day, p.day) AS day,
        |  COALESCE(n_click, 0) AS n_click,
        |  COALESCE(n_purchase, 0) AS n_purchase
        |FROM (SELECT date_trunc('day', ts) AS day, count(*) AS n_click
        |      FROM events WHERE event_type = 'click' AND value > 95 GROUP BY 1) c
        |FULL OUTER JOIN
        |     (SELECT date_trunc('day', ts) AS day, count(*) AS n_purchase
        |      FROM events WHERE event_type = 'purchase' AND value > 95 GROUP BY 1) p
        |  ON c.day = p.day""".stripMargin,
    // the SAME SQL text the Spark entry executes (shared constant — the
    // entry's whole point is both engines running one analyst query)
    "q_exists" -> Relational.existsSql("events", "customer"),
    "q_rollup_daily" ->
      """SELECT day, event_type, count(*) AS n_events,
        |  round(sum(value), 6) AS sum_value,
        |  CAST(GROUPING(day) AS BIGINT) AS g_day,
        |  CAST(GROUPING(event_type) AS BIGINT) AS g_type
        |FROM (SELECT date_trunc('day', ts) AS day, event_type, value FROM events)
        |GROUP BY ROLLUP(day, event_type)""".stripMargin,
    "q_cube_daily" ->
      """SELECT day, event_type, count(*) AS n_events,
        |  round(sum(value), 6) AS sum_value,
        |  CAST(GROUPING(day) AS BIGINT) AS g_day,
        |  CAST(GROUPING(event_type) AS BIGINT) AS g_type
        |FROM (SELECT date_trunc('day', ts) AS day, event_type, value FROM events)
        |GROUP BY CUBE(day, event_type)""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id""".stripMargin,
    // Hash-mod sampling is a pure function of the row, so the oracle
    // recomputes the identical keep decision (32-bit md5 prefix — conv()
    // is exact below 64 bits, see P7 for the wrap trap at 16+ chars).
    "q_sample_strat" ->
      """SELECT event_id, user_id, event_type, value FROM (
        |  SELECT event_id, user_id, event_type, value,
        |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 AS bucket,
        |    CASE event_type WHEN 'error' THEN 100 WHEN 'purchase' THEN 50
        |      WHEN 'click' THEN 10 WHEN 'view' THEN 10 WHEN 'signup' THEN 10
        |      ELSE 0 END AS rate
        |  FROM events
        |) WHERE bucket < rate""".stripMargin,
    // A-ES weighted sampling is a pure function of (doc_id, n_chars), so
    // the oracle recomputes the identical keys and applies the same
    // (key DESC, id ASC) cut the topk_by aggregate uses.
    "q_sample_weighted" ->
      """SELECT lang, doc_id, round(key, 6) AS key FROM (
        |  SELECT lang, doc_id, key,
        |    row_number() OVER (PARTITION BY lang ORDER BY key DESC, doc_id) AS rn
        |  FROM (
        |    SELECT lang, doc_id,
        |      pow((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) + 0.5)
        |            / 4294967296.0,
        |          1.0 / n_chars) AS key
        |    FROM documents
        |  )
        |) WHERE rn <= 20""".stripMargin,
    // Same md5-bucket decision as q_sample_strat, folded to cumulative
    // split boundaries.
    "q_split" ->
      """SELECT doc_id, lang,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 AS bucket
        |  FROM documents
        |)""".stripMargin,
    // Same tokenizer as every text op; slice bounds are 1-based inclusive
    // in DuckDB ([a:b]) vs (start, length) in Spark — i*24+1 : i*24+32 is
    // exactly slice(w, i*24+1, 32), both clamped at the array end.
    "txt_chunks" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, w,
        |    greatest(1, CAST(ceil((len(w) - 32) / 24.0) AS INT) + 1) AS nc
        |  FROM t
        |)
        |SELECT doc_id, i AS chunk_id,
        |  array_to_string(w[CAST(i*24+1 AS INT) : CAST(i*24+32 AS INT)], ' ') AS chunk_text,
        |  CAST(len(w[CAST(i*24+1 AS INT) : CAST(i*24+32 AS INT)]) AS BIGINT) AS n_chunk_tokens
        |FROM (SELECT doc_id, w, unnest(range(0, nc)) AS i FROM c)""".stripMargin,
    // First-fit packing replayed as a recursive CTE: each recursion step
    // advances every shard by one chunk (rn -> rn+1), carrying the exact
    // (seq, fill, pos) state of Packing.firstFitPack's fold — a genuinely
    // independent cross-engine check of the sequential recurrence
    // (budget 256, 8 hash shards, order (doc_id, chunk_id) within shard).
    "txt_pack" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, w,
        |    greatest(1, CAST(ceil((len(w) - 32) / 24.0) AS INT) + 1) AS nc
        |  FROM t
        |), chunk AS (
        |  SELECT doc_id, i AS chunk_id,
        |    CAST(len(w[CAST(i*24+1 AS INT) : CAST(i*24+32 AS INT)]) AS INT) AS n_tokens,
        |    CAST(doc_id % 8 AS INT) AS shard
        |  FROM (SELECT doc_id, w, unnest(range(0, nc)) AS i FROM c)
        |), ordered AS (
        |  SELECT shard, doc_id, chunk_id, n_tokens,
        |    row_number() OVER (PARTITION BY shard ORDER BY doc_id, chunk_id) AS rn
        |  FROM chunk
        |), packed AS (
        |  SELECT shard, rn, doc_id, chunk_id, n_tokens,
        |    CAST(0 AS BIGINT) AS seq, n_tokens AS fill, 0 AS pos
        |  FROM ordered WHERE rn = 1
        |  UNION ALL
        |  SELECT o.shard, o.rn, o.doc_id, o.chunk_id, o.n_tokens,
        |    CASE WHEN p.fill + o.n_tokens > 256 AND p.fill > 0 THEN p.seq + 1 ELSE p.seq END,
        |    CASE WHEN p.fill + o.n_tokens > 256 AND p.fill > 0 THEN o.n_tokens ELSE p.fill + o.n_tokens END,
        |    CASE WHEN p.fill + o.n_tokens > 256 AND p.fill > 0 THEN 0 ELSE p.pos + 1 END
        |  FROM packed p JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1
        |)
        |SELECT shard, doc_id, chunk_id, n_tokens,
        |  CAST(shard AS BIGINT) * 4294967296 + seq AS pack_id, pos AS pack_pos
        |FROM packed""".stripMargin,
    // Length-bucketed batch assembly: the oracle replays the identical
    // (salt, doc_id) total order as a plain per-bucket window (fine at
    // oracle scale; the Spark side lifts salted slice ranks by bounded
    // offsets instead — same order, scale-safe). All-integer except the
    // exact-ratio pad fraction.
    "txt_batch_buckets" ->
      """WITH lens AS (
        |  SELECT doc_id,
        |    greatest(len(list_filter(
        |      string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),
        |      x -> len(x) > 0)), 1) AS n_tok
        |  FROM documents
        |), keyed AS (
        |  SELECT doc_id, n_tok,
        |    ((n_tok + 15) // 16) * 16 AS bucket_len,
        |    doc_id % 32 AS salt
        |  FROM lens
        |), ranked AS (
        |  SELECT bucket_len, n_tok,
        |    row_number() OVER (PARTITION BY bucket_len ORDER BY salt, doc_id) - 1 AS grank
        |  FROM keyed
        |), batched AS (
        |  SELECT bucket_len, n_tok,
        |    grank // greatest(512 // bucket_len, 1) AS batch_id
        |  FROM ranked
        |)
        |SELECT bucket_len, batch_id, count(*) AS n_rows,
        |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
        |  bucket_len * count(*) AS padded_tokens,
        |  CAST(bucket_len * count(*) - sum(n_tok) AS DOUBLE)
        |    / (bucket_len * count(*)) AS pad_frac
        |FROM batched GROUP BY 1, 2""".stripMargin,
    // Concat-and-chunk token blocks: the global prefix sum replayed as
    // ONE window over doc_id order (the ground truth the range-bucketed
    // distributed sum must equal); token counts, starts, and spans are
    // all integers, so the manifest is hash-exact by construction.
    // Blocks of 128, one EOS slot per document.
    "txt_token_blocks" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(
        |      string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n
        |  FROM documents
        |), o AS (
        |  SELECT doc_id, n,
        |    CAST(COALESCE(SUM(n + 1) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS strt
        |  FROM c
        |), b AS (
        |  SELECT doc_id, n, strt,
        |    UNNEST(range(strt // 128, (strt + n - 1) // 128 + 1)) AS block_id
        |  FROM o WHERE n >= 1
        |)
        |SELECT block_id, doc_id,
        |  GREATEST(strt, block_id * 128) - strt AS doc_off,
        |  GREATEST(strt, block_id * 128) - block_id * 128 AS block_off,
        |  LEAST(strt + n - 1, block_id * 128 + 127)
        |    - GREATEST(strt, block_id * 128) + 1 AS len
        |FROM b""".stripMargin,
    // PMI collocations: both distributions replayed off the same
    // zip-with-successor pair projection the engine uses (unigram counts
    // = Σ over w2 of the pair table); the log's operand multiplies in
    // the engine's exact association order, 6-dp rounded before the
    // (pmi desc, w1, w2) rank — the keyness discipline.
    "txt_collocations" ->
      """WITH toks AS (
        |  SELECT list_filter(
        |    string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents
        |), pairs AS (
        |  SELECT t[i] AS w1, CASE WHEN i < len(t) THEN t[i + 1] END AS w2
        |  FROM (SELECT t, unnest(range(1, len(t) + 1)) AS i
        |        FROM toks WHERE len(t) >= 1)
        |), pc AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM pairs GROUP BY 1, 2
        |), uni AS (
        |  SELECT w1 AS w, CAST(sum(c) AS BIGINT) AS n FROM pc GROUP BY 1
        |), big AS (
        |  SELECT w1, w2, c AS n_pair FROM pc WHERE w2 IS NOT NULL
        |), tot AS (SELECT CAST(sum(n) AS DOUBLE) AS tn FROM uni),
        |   btot AS (SELECT CAST(sum(n_pair) AS DOUBLE) AS tb FROM big)
        |SELECT w1, w2, n_pair,
        |  round(ln(CAST(n_pair AS DOUBLE) * tn * tn
        |    / (tb * CAST(u1.n AS DOUBLE) * CAST(u2.n AS DOUBLE))), 6) AS pmi
        |FROM big
        |JOIN uni u1 ON big.w1 = u1.w
        |JOIN uni u2 ON big.w2 = u2.w
        |CROSS JOIN tot CROSS JOIN btot
        |WHERE n_pair >= 5
        |ORDER BY pmi DESC, w1, w2
        |LIMIT 50""".stripMargin,
    "txt_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS term
        |  FROM documents
        |)
        |SELECT term, count(DISTINCT doc_id) AS df, count(*) AS total_tf,
        |  round(ln((SELECT count(*) FROM documents) / CAST(count(DISTINCT doc_id) AS DOUBLE)), 6) AS idf
        |FROM toks GROUP BY term""".stripMargin,
    // Revenue summed as exact scaled integers (cents × (100-disc%)) so the
    // total is independent of floating-point merge order in either engine.
    "q_star_join" ->
      """SELECT n_name AS nation,
        |  sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) / 10000.0 AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q_top_per_group" ->
      """SELECT event_type, user_id, n FROM (
        |  SELECT event_type, user_id, count(*) AS n,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY count(*) DESC, user_id) AS rn
        |  FROM events GROUP BY event_type, user_id
        |) WHERE rn <= 3""".stripMargin,
    // ground truth for the custom TopKPerKeyExec: first 3 per type under
    // the TOTAL order (value DESC, event_id) — row_number, not rank, is
    // the operator's contract at ties
    "q_topk_exec" ->
      """SELECT event_id, event_type, value FROM (
        |  SELECT event_id, event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY value DESC, event_id) AS rn
        |  FROM events
        |) WHERE rn <= 3""".stripMargin,
    "q_distinct" ->
      "SELECT count(DISTINCT user_id) AS n_users, count(*) AS n_events FROM events",
    // Both engines define these as linearly-interpolated (continuous)
    // quantiles over the sorted group.
    "q_quantiles" ->
      """SELECT event_type,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.95) AS p95,
        |  quantile_cont(value, 0.99) AS p99
        |FROM events GROUP BY event_type""".stripMargin,
    // avg over exact integer counts divides the same integers in both
    // engines; the frame key is an integer day index so RANGE frames agree
    // across calendar gaps.
    "q_moving_avg" ->
      """WITH d AS (
        |  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n_events,
        |    epoch_ns(date_trunc('day', ts)) // 1000 // 86400000000 AS day_idx
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type, day, n_events,
        |  round(avg(n_events) OVER (PARTITION BY event_type ORDER BY day_idx
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS avg_n
        |FROM d""".stripMargin,
    "q_histogram" ->
      """SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bin,
        |  count(*) AS n,
        |  round(min(value), 6) AS min_v,
        |  round(max(value), 6) AS max_v
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_json_props" ->
      """SELECT event_type,
        |  count(k) AS n, CAST(sum(k) AS BIGINT) AS sum_k, avg(k) AS avg_k
        |FROM (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events
        |)
        |GROUP BY event_type""".stripMargin,
    // Salted two-phase agg must equal the plain group-by (sum rounded to
    // 6 dp: double addition order differs across engines by design).
    "agg_salted" ->
      """SELECT user_id, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY user_id""".stripMargin,
    // argmax via struct-max mirrors Spark's array_max(struct(score, lang)):
    // both compare (score, lang) lexicographically, ties → larger lang code.
    "txt_langid" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, lang, list_aggregate([
        |    {'score': len(list_filter(toks, x -> list_contains(
        |       ['the','and','is','of','to','in','it','that','was','for'], x))), 'lang': 'en'},
        |    {'score': len(list_filter(toks, x -> list_contains(
        |       ['der','die','das','und','ist','nicht','ein','mit','den','von'], x))), 'lang': 'de'},
        |    {'score': len(list_filter(toks, x -> list_contains(
        |       ['le','la','les','et','est','un','une','dans','que','pour'], x))), 'lang': 'fr'},
        |    {'score': len(list_filter(toks, x -> list_contains(
        |       ['el','la','los','las','es','un','una','que','por','para'], x))), 'lang': 'es'}
        |  ], 'max') AS best
        |  FROM t
        |)
        |SELECT doc_id, lang, best.lang AS pred_lang, best.score AS score FROM s""".stripMargin,
    // Spark's window('1 day') aligns to the epoch in UTC == date_trunc day.
    "win_agg_daily" ->
      """SELECT date_trunc('day', ts) AS win_start, event_type,
        |  count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // lag + running-sum gap rule — the batch-equivalent of the streaming
    // flatMapGroupsWithState sessionizer (30-minute gap, micros domain).
    "sess_30min" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(epoch_ns(ts) // 1000) OVER w IS NULL
        |           OR epoch_ns(ts) // 1000 - lag(epoch_ns(ts) // 1000) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g
        |)
        |SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM s GROUP BY user_id, session_id""".stripMargin,
    // Same gap rule as sess_30min (diff == gap stays in-session — Spark's
    // session_window merges touching windows, verified in
    // StatefulStreamingSpec); native end = last event + gap.
    "sess_native" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(epoch_ns(ts) // 1000) OVER w IS NULL
        |           OR epoch_ns(ts) // 1000 - lag(epoch_ns(ts) // 1000) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts, value,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g
        |)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM s GROUP BY user_id, session_id""".stripMargin,
    // The bloom-pruned join must be bit-identical to the PLAIN join (no
    // false negatives; false positives die at the join) — so the oracle
    // is simply the plain join.
    "q_bloom_join" ->
      """SELECT e.event_id, e.user_id, c.c_name, c.c_acctbal, e.value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |WHERE c.c_acctbal < 0""".stripMargin,
    // Deterministic md5-bucket negatives: the oracle recomputes the same
    // bucket, representative, occupied-bucket dense rank, and per-(id, j)
    // target-rank draw (rank ≡ bucket id when all buckets are occupied,
    // as here — the ranking exists so sparse corpora never under-fill).
    "txt_neg_pairs" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 64 AS BIGINT) AS b
        |  FROM documents
        |), reps AS (
        |  SELECT b AS rep_b, min(doc_id) AS neg_id FROM d GROUP BY b
        |), ranked AS (
        |  SELECT rep_b, neg_id, row_number() OVER (ORDER BY rep_b) - 1 AS r FROM reps
        |), rc AS (SELECT count(*) AS R FROM ranked
        |), probe AS (
        |  SELECT d.doc_id, j.j,
        |    (k.r + 1 +
        |      CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
        |        % greatest(rc.R - 1, 1)
        |    ) % rc.R AS t
        |  FROM d JOIN ranked k ON d.b = k.rep_b
        |  CROSS JOIN rc CROSS JOIN (SELECT unnest(range(4)) AS j) j
        |)
        |SELECT p.doc_id, CAST(p.j AS BIGINT) AS j, r2.neg_id
        |FROM probe p JOIN ranked r2 ON p.t = r2.r
        |WHERE r2.neg_id <> p.doc_id""".stripMargin,
    // Snapshot diff: the oracle compares payloads directly (the Spark
    // side's xxhash64 equality is payload equality absent collisions).
    "cdc_diff" ->
      """WITH b AS (
        |  SELECT event_id, user_id, event_type, value FROM events WHERE event_id % 3 <> 0
        |), a AS (
        |  SELECT event_id, user_id, event_type,
        |    CASE WHEN event_id % 7 = 0 THEN round(value * 1.1, 6) ELSE value END AS value
        |  FROM events WHERE event_id % 4 <> 0
        |)
        |SELECT event_id, change FROM (
        |  SELECT coalesce(b.event_id, a.event_id) AS event_id,
        |    CASE WHEN b.event_id IS NULL THEN 'added'
        |         WHEN a.event_id IS NULL THEN 'deleted'
        |         WHEN NOT (b.user_id = a.user_id AND b.event_type = a.event_type
        |                   AND b.value = a.value) THEN 'updated'
        |    END AS change
        |  FROM b FULL OUTER JOIN a ON b.event_id = a.event_id
        |) WHERE change IS NOT NULL""".stripMargin,
    // Expectations: violation counts recomputed literally; NULL predicate
    // results count as violations on both sides (coalesce/NOT EXISTS).
    "q_expectations" ->
      """SELECT 'event_id_not_null' AS "check",
        |  CAST(count(CASE WHEN event_id IS NULL THEN 1 END) AS BIGINT) AS violations,
        |  count(CASE WHEN event_id IS NULL THEN 1 END) = 0 AS passed FROM events
        |UNION ALL
        |SELECT 'ts_not_null',
        |  CAST(count(CASE WHEN ts IS NULL THEN 1 END) AS BIGINT),
        |  count(CASE WHEN ts IS NULL THEN 1 END) = 0 FROM events
        |UNION ALL
        |SELECT 'value_in_range',
        |  CAST(count(CASE WHEN NOT coalesce(value BETWEEN -1e6 AND 1e6, false) THEN 1 END) AS BIGINT),
        |  count(CASE WHEN NOT coalesce(value BETWEEN -1e6 AND 1e6, false) THEN 1 END) = 0 FROM events
        |UNION ALL
        |SELECT 'known_event_type',
        |  CAST(count(CASE WHEN NOT coalesce(event_type IN ('click','view','purchase','signup','error'), false) THEN 1 END) AS BIGINT),
        |  count(CASE WHEN NOT coalesce(event_type IN ('click','view','purchase','signup','error'), false) THEN 1 END) = 0 FROM events
        |UNION ALL
        |SELECT 'event_id_unique',
        |  CAST(count(event_id) - count(DISTINCT event_id) AS BIGINT),
        |  count(event_id) - count(DISTINCT event_id) = 0 FROM events
        |UNION ALL
        |SELECT 'user_fk_in_customer',
        |  CAST(count(*) AS BIGINT), count(*) = 0
        |FROM events e
        |WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)""".stripMargin,
    "q_rank_suite" ->
      """WITH byday AS (
        |  SELECT event_type, date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type, day, n,
        |  row_number()  OVER wt AS rn,
        |  rank()        OVER w  AS rnk,
        |  dense_rank()  OVER w  AS drnk,
        |  ntile(4)      OVER wt AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank
        |FROM byday
        |WINDOW w  AS (PARTITION BY event_type ORDER BY n DESC),
        |       wt AS (PARTITION BY event_type ORDER BY n DESC, day)""".stripMargin,
    "q_daily_delta" ->
      """WITH byday AS (
        |  SELECT event_type, date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type, day, n,
        |  n - lag(n) OVER w AS delta,
        |  round(CAST(n - lag(n) OVER w AS DOUBLE) / lag(n) OVER w, 6) AS pct_change
        |FROM byday
        |WINDOW w AS (PARTITION BY event_type ORDER BY day)""".stripMargin,
    // The oracle runs the LITERAL bag set-ops and re-groups to
    // multiplicities — checking the one-scan least/difference form
    // against the engine-native INTERSECT ALL / EXCEPT ALL.
    "q_set_ops_all" ->
      """WITH c AS (SELECT user_id, date_trunc('day', ts) AS day FROM events WHERE event_type = 'click'),
        |v AS (SELECT user_id, date_trunc('day', ts) AS day FROM events WHERE event_type = 'view')
        |SELECT 'intersect_all' AS op, user_id, day, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT * FROM c INTERSECT ALL SELECT * FROM v) GROUP BY 2, 3
        |UNION ALL
        |SELECT 'except_all' AS op, user_id, day, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT * FROM c EXCEPT ALL SELECT * FROM v) GROUP BY 2, 3""".stripMargin,
    "q_union_evolve" ->
      """SELECT event_id, user_id, value, NULL AS props
        |FROM events WHERE event_id % 2 = 0
        |UNION ALL
        |SELECT event_id, user_id, value, props
        |FROM events WHERE event_id % 2 = 1""".stripMargin,
    // Temperature mixing is a pure function of (doc_id, per-lang counts):
    // the oracle recomputes rate = (n_l/n_min)^(α-1) (rounded 9 dp, both
    // engines) and the same md5-uniform keep decision.
    "txt_mix" ->
      """WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |mn AS (SELECT min(n) AS n_min FROM counts),
        |rates AS (
        |  SELECT lang, round(pow(CAST(n AS DOUBLE) / n_min, -0.5), 9) AS rate
        |  FROM counts, mn
        |)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN rates r USING (lang)
        |WHERE (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) + 0.5)
        |        / 4294967296.0 < r.rate""".stripMargin,
    // Leakage-safe split: the closure over the exact-Jaccard pair set
    // (≡ the LSH pair set w.h.p., as in dedup_cc) keys every doc by its
    // near-dup component; the split buckets the COMPONENT id, so a
    // cluster can never straddle train/test.
    "q_split_leakfree" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' graftdup' FROM documents WHERE doc_id % 10 = 0
        |), toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM base
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(w) - 1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [array_to_string(w, ' ')] END AS s
        |  FROM toks
        |), pairs AS (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  ) WHERE jaccard >= 0.7
        |), e AS (
        |  SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION
        |  SELECT doc_b, doc_a FROM pairs
        |), reach(n, m) AS (
        |  SELECT u, u FROM e
        |  UNION
        |  SELECT reach.n, e.v FROM reach JOIN e ON reach.m = e.u
        |), comp AS (
        |  SELECT CAST(n AS BIGINT) AS doc_id, CAST(min(m) AS BIGINT) AS component
        |  FROM reach GROUP BY n
        |), assigned AS (
        |  SELECT b.doc_id, coalesce(c.component, b.doc_id) AS component
        |  FROM base b LEFT JOIN comp c ON b.doc_id = c.doc_id
        |)
        |SELECT doc_id, component,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id, component,
        |    CAST(('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 AS bucket
        |  FROM assigned
        |)""".stripMargin,
    // Deterministic epoch shuffle: ground truth is the global row_number
    // over (md5-prefix key, id) — the bucketed offset+rank decomposition
    // must reproduce it exactly.
    "txt_shuffle" ->
      """SELECT CAST(row_number() OVER (ORDER BY k, doc_id) - 1 AS BIGINT) AS pos, doc_id
        |FROM (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5('epoch0:' || doc_id), 1, 8)) AS UBIGINT) AS k
        |  FROM documents
        |)""".stripMargin,
    // Incremental arrival dedup: keep-first-by-id within the batch, then
    // drop fingerprints the corpus index already holds. Spark's md5 runs
    // on the UTF-8 bytes (cast binary); DuckDB's md5 on VARCHAR is the
    // same bytes.
    "dedup_incremental" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 1
        |), cfp AS (
        |  SELECT DISTINCT md5(text) AS fp FROM corpus
        |), batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM corpus WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 8 = 1
        |), firsts AS (
        |  SELECT doc_id, fp FROM (
        |    SELECT doc_id, md5(text) AS fp,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM batch
        |  ) WHERE rn = 1
        |)
        |SELECT doc_id, fp FROM firsts WHERE fp NOT IN (SELECT fp FROM cfp)""".stripMargin,
    // Incremental NEAR-dup ground truth: exact word-3-gram Jaccard between
    // every batch doc and (a) the whole corpus, (b) every smaller-id batch
    // doc — the same all-pairs string-space ground truth as
    // dedup_minhash_lsh, restricted to batch×(corpus ∪ batch). The LSH
    // probe recalls qualifying pairs w.h.p. and verification removes every
    // false positive, so survivor sets match exactly when it does.
    // Batch arms carry the fixed id window (Dedup.FixedBatchDocIdBound —
    // the round-16 fixed-|batch| fixture): non-binding at sf ≤ 0.1,
    // pins the batch to the sf0.1 arrivals at sf1/sf10.
    "dedup_incr_near" ->
      s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 1
        |), batch AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 4 = 1 AND doc_id < ${Dedup.FixedBatchDocIdBound}
        |  UNION ALL
        |  SELECT doc_id + 2000000, text || ' graftdup' FROM corpus
        |  WHERE doc_id % 10 = 0 AND doc_id < ${Dedup.FixedBatchDocIdBound}
        |  UNION ALL
        |  SELECT doc_id + 3000000, text || ' graftdup' FROM documents
        |  WHERE doc_id % 8 = 1 AND doc_id < ${Dedup.FixedBatchDocIdBound}
        |), bs AS (
        |  SELECT doc_id, text, CASE WHEN len(w) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(w) - 1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [array_to_string(w, ' ')] END AS s
        |  FROM (SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |    FROM batch)
        |), cs AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(w) - 1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [array_to_string(w, ' ')] END AS s
        |  FROM (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |    FROM corpus)
        |), cdrops AS (
        |  SELECT doc_b FROM (
        |    SELECT b.doc_id AS doc_b,
        |      CAST(len(list_intersect(b.s, c.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(b.s, c.s))) AS jaccard
        |    FROM bs b JOIN cs c ON true
        |  ) WHERE jaccard >= 0.7
        |), bdrops AS (
        |  SELECT doc_b FROM (
        |    SELECT b.doc_id AS doc_b,
        |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |    FROM bs a JOIN bs b ON a.doc_id < b.doc_id
        |  ) WHERE jaccard >= 0.7
        |)
        |SELECT doc_id, md5(text) AS fp FROM bs
        |WHERE doc_id NOT IN (SELECT doc_b FROM cdrops)
        |  AND doc_id NOT IN (SELECT doc_b FROM bdrops)""".stripMargin,
    // Arrival-time containment gate: drop batch docs near-contained in
    // the corpus (directed C(a->corpus) >= 0.9 — the excerpt-of-landed
    // path the symmetric incremental gate misses) or one-way contained in
    // a fellow arrival; mutual within-batch containments keep the
    // smallest id. Superset arrivals are kept (new content). Ground
    // truth is the all-pairs directed ratio over the same fixture.
    "dedup_incr_contain" ->
      s"""WITH docw AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM documents
        |), batch AS (
        |  SELECT doc_id, text, w FROM docw
        |  WHERE doc_id % 4 = 1 AND doc_id < ${Dedup.FixedBatchDocIdBound}
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(list_slice(w, 1, greatest(len(w) // 2, 1)), ' '),
        |    list_slice(w, 1, greatest(len(w) // 2, 1))
        |  FROM docw WHERE doc_id % 4 <> 1 AND doc_id % 10 = 0
        |    AND doc_id < ${Dedup.FixedBatchDocIdBound}
        |  UNION ALL
        |  SELECT doc_id + 2000000,
        |    array_to_string(list_slice(w, 1, greatest(len(w) // 2, 1)), ' '),
        |    list_slice(w, 1, greatest(len(w) // 2, 1))
        |  FROM docw WHERE doc_id % 8 = 1 AND doc_id < ${Dedup.FixedBatchDocIdBound}
        |), bs AS (
        |  SELECT doc_id, text, CASE WHEN len(w) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(w) - 1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [array_to_string(w, ' ')] END AS s
        |  FROM batch
        |), cs AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(w) - 1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [array_to_string(w, ' ')] END AS s
        |  FROM docw WHERE doc_id % 4 <> 1
        |), cdrops AS (
        |  SELECT doc_a FROM (
        |    SELECT a.doc_id AS doc_a,
        |      CAST(len(list_intersect(a.s, c.s)) AS DOUBLE) / len(a.s) AS cont
        |    FROM bs a JOIN cs c ON true
        |  ) WHERE cont >= 0.9
        |), bdrops AS (
        |  SELECT doc_a FROM (
        |    SELECT a.doc_id AS doc_a,
        |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS ca,
        |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(b.s) AS cb,
        |      b.doc_id AS doc_b
        |    FROM bs a JOIN bs b ON a.doc_id <> b.doc_id
        |  ) WHERE ca >= 0.9 AND (cb < 0.9 OR doc_b < doc_a)
        |)
        |SELECT doc_id, md5(text) AS fp FROM bs
        |WHERE doc_id NOT IN (SELECT doc_a FROM cdrops)
        |  AND doc_id NOT IN (SELECT doc_a FROM bdrops)""".stripMargin,
    // Sequence ground truth: row_number over the same (µs, event_id) total
    // order the Spark side sorts by (epoch_ns // 1000 ≡ Spark's µs
    // timestamps — the cdc_apply pattern), string_agg in rank order.
    "q_user_seq" ->
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts) // 1000, event_id) AS rn
        |  FROM events
        |), s AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS seq_len,
        |    string_agg(event_type, '|' ORDER BY rn) AS seq
        |  FROM r WHERE rn <= 64 GROUP BY user_id
        |), n AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id)
        |SELECT n.user_id, n.n_events, s.seq_len, s.seq
        |FROM n JOIN s USING (user_id)""".stripMargin,
    // Heavy-hitter ground truth: exact per-key counts, rank by
    // (n DESC, key ASC), share = n / total as the same IEEE division
    // rounded to 9 dp on both engines.
    "q_heavy_hitters" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
        |t AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM c)
        |SELECT user_id, n, round(CAST(n AS DOUBLE) / total, 9) AS share, rank
        |FROM (
        |  SELECT user_id, n,
        |    row_number() OVER (ORDER BY n DESC, user_id) AS rank
        |  FROM c
        |) CROSS JOIN t WHERE rank <= 10""".stripMargin,
    // Per-source quota cap: the clusterSample md5-draw convention
    // applied per source — md5(CAST(doc_id AS VARCHAR)) order, doc_id
    // tie-break, keep the first 15 of each source (the cap BINDS at every test SF).
    "txt_source_cap" ->
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents
        |) WHERE rn <= 15""".stripMargin,
    // Mergeable-histogram range quantiles, replayed end to end: same
    // fixed-edge clamped binning, same BIGINT casts (DuckDB sums land
    // HUGEINT otherwise), same cumulative/interpolation associations,
    // 6 dp. The steady entry serves the identical numbers from the
    // landed day-partitioned table.
    "q_hist_quantile" ->
      """WITH h AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    greatest(least(CAST(floor(value / 25.0) AS BIGINT), 19), 0) AS bin,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), m AS (
        |  SELECT bin, CAST(sum(n) AS BIGINT) AS n FROM h
        |  WHERE day BETWEEN DATE '2024-01-08' AND DATE '2024-01-21'
        |  GROUP BY bin
        |), c AS (
        |  SELECT bin, n,
        |    CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cum,
        |    CAST(sum(n) OVER (ORDER BY bin) - n AS BIGINT) AS cum_before,
        |    (SELECT CAST(sum(n) AS BIGINT) FROM m) AS total
        |  FROM m
        |)
        |SELECT p, round(bin * 25.0 + 25.0 * (p * total - cum_before) / n, 6) AS est,
        |  total
        |FROM c, unnest([0.5, 0.95, 0.99]) AS t(p)
        |WHERE cum_before < p * total AND p * total <= cum""".stripMargin,
    // CCNet paragraph dedup in STRING space (the Spark plan keeps first
    // by 8-byte xxhash64 block keys — identical w.h.p., the
    // dedup_minhash_lsh argument): same tokenizer, same aligned 3-token
    // blocks, global keep-first by (doc_id, idx), reassembly in idx
    // order, docs with zero survivors keep an empty clean_text.
    "dedup_paragraphs" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        |  FROM documents
        |), b AS (
        |  SELECT doc_id, CAST(ceil(len(toks) / 3.0) AS BIGINT) AS n_segs FROM d
        |), o AS (
        |  SELECT doc_id, j AS idx, array_to_string(toks[3*j+1:3*j+3], ' ') AS blk
        |  FROM d, unnest(range(CAST(ceil(len(toks) / 3.0) AS BIGINT))) AS t(j)
        |), k AS (
        |  SELECT doc_id, idx, blk FROM (
        |    SELECT doc_id, idx, blk,
        |      row_number() OVER (PARTITION BY blk ORDER BY doc_id, idx) AS rn
        |    FROM o
        |  ) WHERE rn = 1
        |), r AS (
        |  SELECT doc_id, array_to_string(list(blk ORDER BY idx), ' ') AS clean_text,
        |    count(*) AS n_kept
        |  FROM k GROUP BY doc_id
        |)
        |SELECT b.doc_id, coalesce(r.clean_text, '') AS clean_text,
        |  coalesce(r.n_kept, 0) AS n_kept,
        |  b.n_segs - coalesce(r.n_kept, 0) AS n_dropped
        |FROM b LEFT JOIN r ON b.doc_id = r.doc_id""".stripMargin,
    // DSIR importance weights, replayed end to end: the txt_hash_vectors
    // lane hash (32-bit md5 prefix mod 64), per-lane target/raw totals,
    // add-one smoothing, llr rounded 6 dp BEFORE the fold, and a
    // left-to-right list_sum fold matching Spark's sequential
    // `aggregate` — then the (weight DESC, doc_id) top-100 cut.
    "txt_dsir" ->
      """WITH d AS (
        |  SELECT doc_id, lang = 'en' AS is_target,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        |  FROM documents
        |), lanes AS (
        |  SELECT doc_id, is_target,
        |    list_transform(range(64), j -> len(list_filter(toks,
        |      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS UBIGINT) % 64 = j))) AS cnt
        |  FROM d
        |), model AS (
        |  SELECT j AS lane,
        |    sum(CASE WHEN is_target THEN cnt[CAST(j+1 AS BIGINT)] ELSE 0 END) AS tc,
        |    sum(CASE WHEN NOT is_target THEN cnt[CAST(j+1 AS BIGINT)] ELSE 0 END) AS rc
        |  FROM lanes, unnest(range(64)) AS t(j) GROUP BY j
        |), tot AS (SELECT sum(tc) AS tt, sum(rc) AS rt FROM model),
        |llr AS (
        |  SELECT list(round(ln((tc + 1.0) / (tt + 64.0)) -
        |                    ln((rc + 1.0) / (rt + 64.0)), 6) ORDER BY lane) AS l
        |  FROM model, tot
        |), scored AS (
        |  SELECT doc_id,
        |    round(list_sum(list_transform(range(64),
        |      j -> CAST(cnt[CAST(j+1 AS BIGINT)] AS DOUBLE) * l[CAST(j+1 AS BIGINT)])), 6) AS weight
        |  FROM lanes, llr WHERE NOT is_target
        |)
        |SELECT doc_id, weight, rank FROM (
        |  SELECT doc_id, weight,
        |    row_number() OVER (ORDER BY weight DESC, doc_id) AS rank
        |  FROM scored
        |) WHERE rank <= 100""".stripMargin,
    // Minimum covering window: the last-occurrence scan spelled as the
    // same q max(CASE) window columns + least + min-per-doc — pure
    // integer math, docs lacking any term excluded by the IS NOT NULL
    // gate (≡ the Spark all-contains prefilter).
    "txt_proximity" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        |  FROM documents
        |), occ AS (
        |  SELECT doc_id, j AS pos, toks[j] AS term
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS j FROM t)
        |  WHERE toks[j] IN ('vector', 'merge', 'stream')
        |), lastp AS (
        |  SELECT doc_id, pos,
        |    max(CASE WHEN term = 'vector' THEN pos END) OVER w AS l0,
        |    max(CASE WHEN term = 'merge' THEN pos END) OVER w AS l1,
        |    max(CASE WHEN term = 'stream' THEN pos END) OVER w AS l2
        |  FROM occ
        |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT doc_id, CAST(min(pos - least(l0, l1, l2) + 1) AS BIGINT) AS prox_win
        |FROM lastp
        |WHERE l0 IS NOT NULL AND l1 IS NOT NULL AND l2 IS NOT NULL
        |GROUP BY doc_id""".stripMargin,
    // Gumbel-top-k DSIR resample: the txt_dsir weight body + the
    // deterministic md5 uniform (txt_mix spelling) through
    // key = weight/2 − ln(−ln(u)), rounded 6 dp before the rank.
    "txt_dsir_gumbel" ->
      """WITH d AS (
        |  SELECT doc_id, lang = 'en' AS is_target,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        |  FROM documents
        |), lanes AS (
        |  SELECT doc_id, is_target,
        |    list_transform(range(64), j -> len(list_filter(toks,
        |      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS UBIGINT) % 64 = j))) AS cnt
        |  FROM d
        |), model AS (
        |  SELECT j AS lane,
        |    sum(CASE WHEN is_target THEN cnt[CAST(j+1 AS BIGINT)] ELSE 0 END) AS tc,
        |    sum(CASE WHEN NOT is_target THEN cnt[CAST(j+1 AS BIGINT)] ELSE 0 END) AS rc
        |  FROM lanes, unnest(range(64)) AS t(j) GROUP BY j
        |), tot AS (SELECT sum(tc) AS tt, sum(rc) AS rt FROM model),
        |llr AS (
        |  SELECT list(round(ln((tc + 1.0) / (tt + 64.0)) -
        |                    ln((rc + 1.0) / (rt + 64.0)), 6) ORDER BY lane) AS l
        |  FROM model, tot
        |), scored AS (
        |  SELECT doc_id,
        |    round(list_sum(list_transform(range(64),
        |      j -> CAST(cnt[CAST(j+1 AS BIGINT)] AS DOUBLE) * l[CAST(j+1 AS BIGINT)])), 6) AS weight
        |  FROM lanes, llr WHERE NOT is_target
        |), keyed AS (
        |  SELECT doc_id, weight,
        |    round(weight / 2.0 - ln(-ln(
        |      (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) + 0.5)
        |        / 4294967296.0)), 6) AS key
        |  FROM scored
        |)
        |SELECT doc_id, weight, key, rank FROM (
        |  SELECT doc_id, weight, key,
        |    row_number() OVER (ORDER BY key DESC, doc_id) AS rank
        |  FROM keyed
        |) WHERE rank <= 100""".stripMargin,
    // Source-level filter ground truth: same tokenizer, stopword list,
    // and greatest(len, 1) division guard as the Spark projection; the
    // 0.06 floor has ≥ 3.5e-5 margin to the nearest sf0.01 source mean.
    "txt_source_filter" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(toks, x -> list_contains(
        |      ['the','a','an','of','to','and','in','is','it','that'], x))) AS DOUBLE)
        |      / greatest(len(toks), 1) AS r
        |  FROM (
        |    SELECT doc_id, source,
        |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        |    FROM documents)
        |), kept AS (
        |  SELECT source FROM d GROUP BY source HAVING avg(r) >= 0.06
        |)
        |SELECT doc_id, source FROM d WHERE source IN (SELECT source FROM kept)""".stripMargin,
    // Decontamination ground truth in STRING space (the Spark plan joins
    // 8-byte xxhash64 gram keys — identical w.h.p., the same argument as
    // dedup_minhash_lsh): same tokenizer, same n-gram rule (windows of 8
    // advancing by 1; < 8 tokens → one whole-sequence gram), same planted
    // contamination (eval = every 37th doc; corpus docs ≡ 1 (mod 5) get
    // eval text (doc_id % 14)·37 appended).
    "txt_decontam" ->
      """WITH eval AS (
        |  SELECT doc_id, doc_id // 37 AS ei, text FROM documents WHERE doc_id % 37 = 0
        |), base AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 37 <> 0
        |), corpus AS (
        |  SELECT b.doc_id, b.text || ' ' || e.text AS text
        |  FROM base b JOIN eval e ON b.doc_id % 14 = e.ei
        |  WHERE b.doc_id % 5 = 1
        |  UNION ALL
        |  SELECT doc_id, text FROM base WHERE doc_id % 5 <> 1
        |), grams AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(w) - 7, 1) + 1),
        |      i -> array_to_string(w[i:i+7], ' '))) AS g
        |  FROM (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |    FROM corpus)
        |), egrams AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |      range(1, greatest(len(w) - 7, 1) + 1),
        |      i -> array_to_string(w[i:i+7], ' ')))) AS g
        |  FROM (SELECT
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |    FROM eval)
        |)
        |SELECT doc_id, count(*) AS n_hits
        |FROM (SELECT doc_id, unnest(g) AS g FROM grams) cg
        |JOIN egrams USING (g)
        |GROUP BY doc_id""".stripMargin,
    // Fractional contamination: the txt_decontam string-space replay
    // extended with per-doc distinct-window totals, the 6-dp fraction,
    // and the keep verdict on the exact unrounded integer ratio (the
    // hash-vs-string identity argument is txt_decontam's, applied to
    // the count as well as the membership).
    "txt_contam_frac" ->
      """WITH eval AS (
        |  SELECT doc_id, doc_id // 37 AS ei, text FROM documents WHERE doc_id % 37 = 0
        |), base AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 37 <> 0
        |), corpus AS (
        |  SELECT b.doc_id, b.text || ' ' || e.text AS text
        |  FROM base b JOIN eval e ON b.doc_id % 14 = e.ei
        |  WHERE b.doc_id % 5 = 1
        |  UNION ALL
        |  SELECT doc_id, text FROM base WHERE doc_id % 5 <> 1
        |), grams AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(w) - 7, 1) + 1),
        |      i -> array_to_string(w[i:i+7], ' '))) AS g
        |  FROM (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |    FROM corpus)
        |), egrams AS MATERIALIZED (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |      range(1, greatest(len(w) - 7, 1) + 1),
        |      i -> array_to_string(w[i:i+7], ' ')))) AS g
        |  FROM (SELECT
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |    FROM eval)
        |), hits AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM (SELECT doc_id, unnest(g) AS g FROM grams) cg
        |  JOIN egrams USING (g)
        |  GROUP BY doc_id
        |)
        |SELECT t.doc_id, t.n_grams,
        |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE)
        |    / CAST(t.n_grams AS DOUBLE), 6) AS frac,
        |  (CAST(coalesce(h.n_hits, 0) AS DOUBLE)
        |    / CAST(t.n_grams AS DOUBLE)) <= 0.05 AS keep
        |FROM (SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams FROM grams) t
        |LEFT JOIN hits h ON h.doc_id = t.doc_id""".stripMargin,
    // PII scan over the planted contact lines (doc_id % 3 = 0 → email,
    // % 3 = 1 → email + phone, % 3 = 2 → clean): patterns are plain
    // character classes + \b so Java and RE2 agree; DuckDB's
    // regexp_replace needs the explicit 'g' flag Spark applies by default.
    "txt_pii" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INT)
        |      WHEN 0 THEN text || ' contact user' || doc_id || '@example.com'
        |      WHEN 1 THEN text || ' contact user' || doc_id || '@example.com'
        |        || ' or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      ELSE text END AS text
        |  FROM documents
        |), red AS (
        |  SELECT doc_id, text,
        |    regexp_replace(regexp_replace(text,
        |      '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |      '\b555-[0-9]{4}\b', '<PHONE>', 'g') AS r
        |  FROM planted
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\b555-[0-9]{4}\b')) AS INT) AS n_phones,
        |  CAST(length(r) AS INT) AS redacted_chars,
        |  md5(r) AS redacted_md5
        |FROM red""".stripMargin,
    // Repetition ground truth in bigram-STRING space (Spark groups on
    // xxhash64 of the bigram — identical w.h.p.); sums cast back to
    // BIGINT because DuckDB widens sum() to HUGEINT.
    "txt_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) AS b
        |  FROM toks WHERE len(w) >= 2
        |), cnt AS (
        |  SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b
        |)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  count(*) AS n_distinct,
        |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_frac,
        |  round(1.0 - CAST(count(*) AS DOUBLE) / sum(c), 6) AS dup_frac
        |FROM cnt GROUP BY doc_id""".stripMargin,
    // Multimodal decode is a DETERMINISTIC STUB (no codecs in the
    // container): every "decoded" property is fixed arithmetic on the
    // byte count, so the oracle recomputes it from length(text) (ASCII —
    // chars == bytes). mm_features' oracle is generated above
    // (mmFeaturesOracleSql).
    "mm_decode" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |    CAST(length(text) AS BIGINT) AS n_bytes
        |  FROM documents
        |)
        |SELECT media_id, media_type, n_bytes,
        |  CASE WHEN media_type IN ('image','video') THEN 64 + (n_bytes * 7) % 1856 END AS width,
        |  CASE WHEN media_type IN ('image','video') THEN 64 + (n_bytes * 13) % 1016 END AS height,
        |  CASE WHEN media_type = 'audio' THEN 16000 END AS sample_rate,
        |  CASE WHEN media_type = 'audio' THEN n_bytes * 20
        |       WHEN media_type = 'video' THEN n_bytes * 40 END AS duration_ms,
        |  CASE WHEN media_type = 'video' THEN n_bytes % 240 + 1 END AS n_frames
        |FROM m""".stripMargin,
    // Aspect-fit resize: identical integer/double arithmetic on both
    // sides (products < 2^53, IEEE double division + floor), thumbnail
    // slice length recomputed from text (ASCII: chars == payload bytes).
    "mm_resize" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |    CAST(length(text) AS BIGINT) AS n_bytes, text
        |  FROM documents
        |), g AS (
        |  SELECT media_id, media_type, text,
        |    64 + (n_bytes * 7) % 1856 AS width,
        |    64 + (n_bytes * 13) % 1016 AS height
        |  FROM m WHERE media_type IN ('image', 'video')
        |), f AS (
        |  SELECT media_id, media_type, width, height,
        |    CASE WHEN width * 224 >= height * 224
        |         THEN least(224, width)
        |         ELSE least(CAST(floor(width * 224 / height) AS BIGINT), width) END AS out_width,
        |    CASE WHEN width * 224 >= height * 224
        |         THEN least(CAST(floor(height * 224 / width) AS BIGINT), height)
        |         ELSE least(224, height) END AS out_height,
        |    text
        |  FROM g
        |)
        |SELECT media_id, media_type, width, height, out_width, out_height,
        |  length(substr(text, 1, CAST((out_width * out_height) % 256 + 1 AS INT))) AS n_thumb_bytes
        |FROM f""".stripMargin,
    "mm_frames" ->
      """SELECT media_id, frame_id,
        |  length(substr(text, CAST(frame_id * 16 + 1 AS INT), 16)) AS n_frame_bytes
        |FROM (
        |  SELECT doc_id AS media_id, text,
        |    unnest(range(0, CAST(length(text) AS BIGINT) % 240 + 1, 5)) AS frame_id
        |  FROM documents WHERE doc_id % 3 = 2
        |)""".stripMargin,
    // Same ratio arithmetic as the Spark side (single division of the same
    // integers → bit-identical doubles → identical keep decisions).
    "txt_quality_filter" ->
      """SELECT doc_id, lang, n_chars, n_tokens, token_chars, n_punct, n_stopwords,
        |  (n_chars >= 20 AND n_tokens >= 5
        |   AND (CAST(token_chars AS DOUBLE) / n_tokens) BETWEEN 2.0 AND 12.0
        |   AND (CAST(n_punct AS DOUBLE) / n_chars) <= 0.2
        |   AND (CAST(n_stopwords AS DOUBLE) / n_tokens) >= 0.01) AS keep
        |FROM (
        |  SELECT doc_id, lang,
        |    length(text) AS n_chars,
        |    len(toks) AS n_tokens,
        |    CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS token_chars,
        |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
        |    len(list_filter(toks, x -> list_contains(
        |      ['the','a','an','of','to','and','in','is','it','that'], x))) AS n_stopwords
        |  FROM (
        |    SELECT doc_id, lang, text,
        |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        |    FROM documents
        |  )
        |)""".stripMargin,
    // zip = decimal string of the 128-bit int(md5hex, 16), rebuilt from two
    // unsigned-64 halves (DuckDB's md5_number uses a different byte order).
    "p7_normalize" ->
      """SELECT
        |  'Ms. ' || c_name || ' ' || c_mktsegment AS name,
        |  CASE WHEN c_custkey % 2 = 0 THEN 'female' ELSE 'male' END AS gender,
        |  CAST(c_custkey AS VARCHAR) || ', ' || c_name AS address,
        |  c_mktsegment AS city,
        |  'Nation-' || CAST(c_nationkey AS VARCHAR) AS nation,
        |  (CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 16)) AS UBIGINT)::UHUGEINT
        |     * 18446744073709551616::UHUGEINT
        |   + CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 17, 16)) AS UBIGINT)::UHUGEINT
        |  )::VARCHAR AS zip,
        |  TRY_CAST(CASE WHEN c_custkey % 7 = 0 THEN 'bad'
        |                ELSE CAST(c_custkey AS VARCHAR) END AS DOUBLE) AS latitude,
        |  TRY_CAST(CASE WHEN c_custkey % 5 = 0 THEN ''
        |                ELSE CAST(c_nationkey AS VARCHAR) END AS DOUBLE) AS longitude,
        |  c_name || '@example.com' AS email
        |FROM customer""".stripMargin,
  )
}
