package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.etl.Entities
import graft.pipelines._
import graft.curated.Aggregations
import graft.io._
import graft.llm._
import graft.ops._
import graft.orchestrate.EndToEnd
import graft.plans._
import graft.sources._
import graft.sql._
import graft.streaming.{EventsStream, Sessionize}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Every entry pairs a Spark DataFrame query with DuckDB oracle SQL
  * over the same fixture parquet (OracleSql); outputs are totally
  * ordered and arithmetic-deterministic so the driver's hash compare
  * is exact.
  */
object SparkEntry {

  /** One registered query: the Spark builder and its DuckDB oracle SQL.
    * The oracle is by-name and memoized, so looking up a builder never
    * initializes oracle strings, and every statement passes through
    * [[graft.sql.OracleSql.materializeSharedCtes]] once — shared-CTE
    * MATERIALIZED hints keep the DuckDB oracle pass inside its time
    * budget (see that method's scaladoc); the hint never changes a
    * result set, only the evaluation strategy. */
  private final class Query(val build: (SparkSession, String) => DataFrame, sql: => String) {
    lazy val oracle: String = OracleSql.materializeSharedCtes(sql)
  }

  private def q(build: (SparkSession, String) => DataFrame, sql: => String): Query =
    new Query(build, sql)

  /** A registry entry. The query is by-name as well, so building the
    * registry links one closure per name, as a bare builder map does; a
    * name's builder and oracle closures are linked on its first use.
    * Linking all of them up front made a cold JVM's first `queries`
    * lookup ~0.2 s slower (~0.45 ms per closure, 4-core host). */
  private final class Entry(query: => Query) { lazy val get: Query = query }

  private implicit class Declare(name: String) {
    def ~>(query: => Query): (String, Entry) = name -> new Entry(query)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    salesTransactions(spark, "/root/testdata/sf0.001")

  // ---- pipeline-backed queries ----

  private def sales(s: SparkSession, dir: String): DataFrame =
    PlanCache(s, "sales", dir) {
      SalesRevenue.run(
        Entities.orders(s, dir), Entities.orderItems(s, dir),
        Entities.products(s, dir))
    }

  /** (order_id, line_number) is not unique in the fixture: the full
    * tuple makes the output ordering total. */
  private def salesTransactions(s: SparkSession, dir: String): DataFrame =
    sales(s, dir).orderBy("order_id", "line_number", "product_id",
      "supplier_id", "quantity", "unit_price")

  private def enriched(s: SparkSession, dir: String): DataFrame =
    PlanCache(s, "enriched", dir) {
      CustomerFeedback.enrich(
        Entities.feedback(s, dir), Entities.customers(s, dir),
        Entities.orders(s, dir), CustomerFeedback.ratingIcons(s))
    }

  private def recon(s: SparkSession, dir: String): DataFrame =
    PlanCache(s, "recon", dir) {
      InventoryReconciliation.run(
        Entities.inventoryOld(s, dir), Entities.inventoryNew(s, dir),
        Entities.products(s, dir))
    }

  private def marketing(s: SparkSession, dir: String): DataFrame =
    PlanCache(s, "marketing", dir) {
      MarketingRoi.run(Entities.marketing(s, dir))
    }

  private def delivery(s: SparkSession, dir: String): DataFrame =
    PlanCache(s, "delivery", dir) {
      DeliveryPerformance.run(Entities.orders(s, dir))
    }

  /** A curated-zone table: the six are queries in their own right and
    * the views the Athena-layer SQL reads. */
  private def curated(name: String, order: String)(
      build: (SparkSession, String) => DataFrame): (String, Entry) =
    name ~> q(build, OracleSql.withCtes(s"SELECT * FROM $name $order"))

  private val curatedTables: Seq[(String, Entry)] = Seq(
    curated("curated_revenue_by_category", "ORDER BY category")(
      (s, d) => Aggregations.revenueByCategory(sales(s, d))),
    curated("curated_campaign_performance_summary", "ORDER BY campaign_id, channel")(
      (s, d) => Aggregations.campaignPerformanceSummary(marketing(s, d))),
    curated("curated_delivery_partner_performance", "ORDER BY delivery_partner_id")(
      (s, d) => Aggregations.deliveryPartnerPerformance(delivery(s, d))),
    curated("curated_area_feedback_metrics", "ORDER BY avg_rating DESC, area")(
      (s, d) => CustomerFeedback.areaMetrics(enriched(s, d))),
    curated("curated_category_inventory_impact", "ORDER BY category")(
      (s, d) => Aggregations.categoryInventoryImpact(recon(s, d))),
    curated("curated_product_inventory_discrepancies", "ORDER BY product_id")(
      (s, d) => Aggregations.productInventoryDiscrepancies(recon(s, d))))

  /** An Athena-layer query: one SQL text for both engines. The Spark
    * side registers the curated tables the statement names as temp
    * views (lazy plans — only what the query reads executes); the
    * oracle runs it over the curated CTEs. */
  private def athena(sql: => String): Query = q((s, d) => {
    curatedTables.foreach { case (name, t) =>
      if (sql.contains(name)) Views.register(d, name, t.get.build(s, d)) }
    s.sql(sql)
  }, OracleSql.withCtes(sql))

  /** Every implemented operator (SURVEY.md §2), each declared once. */
  private val registry: Map[String, Entry] =
    curatedTables.toMap ++ AthenaQueries.all.map { case (n, sql) => n ~> athena(sql) } ++ Map(
    "sales_transactions" ~> q(salesTransactions, OracleSql.salesTransactions),
    "rating_icon_join" ~> q((s, d) =>
      CustomerFeedback.cleanFeedback(Entities.feedback(s, d))
        .join(broadcast(CustomerFeedback.ratingIcons(s)), Seq("rating"), "left")
        .select("feedback_id", "rating", "rating_icon")
        .orderBy("feedback_id"), OracleSql.ratingIconJoin),
    "customer_feedback_enriched" ~> q((s, d) => enriched(s, d).orderBy("feedback_id"),
      OracleSql.customerFeedbackEnriched),
    // Determinism sorts live HERE, not in the pipelines' run(): run()
    // also feeds the write path (EndToEnd → Writers.processed), where a
    // total-ordering range shuffle at fact grain would be pure waste at
    // scale (the writer REBALANCEs on partition columns anyway).
    "marketing_performance" ~> q(
      (s, d) => marketing(s, d).orderBy("campaign_id", "date", "event_id"),
      OracleSql.marketingPerformance),
    "inventory_reconciliation" ~> q((s, d) => recon(s, d).orderBy("product_id", "date"),
      OracleSql.inventoryReconciliation),
    "delivery_performance" ~> q((s, d) => delivery(s, d).orderBy("order_id"),
      OracleSql.deliveryPerformance),
    // 100 TB variant (HLL-sketched distinct counts) surfaced through
    // its relational bounds AUDIT: the sketch value can't hash-match a
    // DuckDB oracle, but the within-bound flags + exact columns can —
    // so the approximate operator is oracle-gated like everything else
    // (the raw approx query remains available as
    // Aggregations.revenueByCategoryApprox; ApproxBoundsSpec bounds it
    // directly).
    "curated_revenue_by_category_approx_audit" ~> q(
      (s, d) => Aggregations.revenueByCategoryApproxAudit(sales(s, d)),
      OracleSql.withCtes("""SELECT category, total_orders, unique_customers,
           1 AS orders_within_bound, 1 AS customers_within_bound,
           1 AS exact_columns_match
         FROM curated_revenue_by_category ORDER BY category""")),
    // The reference's full unit of work as ONE timed query: CSV drop
    // -> routing -> five pipelines -> zone writes -> crawl -> the six
    // Athena queries -> exact-digest summary (VERDICT r7 #4).
    "pipeline_end_to_end" ~> q(EndToEnd.pipelineEndToEnd, EndToEnd.pipelineEndToEndOracle),
    // the same unit of work, lakehouse-native: curated zone lands in
    // ledger tables via write-audit-publish; the six queries read the
    // PUBLISHED catalog state; a failed audit aborts cleanly.
    "pipeline_end_to_end_ledger" ~> q(EndToEnd.pipelineEndToEndLedger,
      EndToEnd.pipelineEndToEndLedgerOracle),
    "text_stats" ~> q(TextAnalysis.textStats, TextAnalysis.textStatsOracle),
    "text_language_id" ~> q(TextAnalysis.languageId, TextAnalysis.languageIdOracle),
    "text_repetition" ~> q(TextAnalysis.repetition, TextAnalysis.repetitionOracle),
    "text_bpe_tokens" ~> q(TextAnalysis.bpeTokens, TextAnalysis.bpeTokensOracle),
    "text_top_terms" ~> q(TextAnalysis.topTerms, TextAnalysis.topTermsOracle),
    "text_pii_scan" ~> q(TextAnalysis.piiScan, TextAnalysis.piiScanOracle),
    "text_normalized" ~> q(TextAnalysis.normalized, TextAnalysis.normalizedOracle),
    "text_hashed_classifier" ~> q(TextAnalysis.hashedClassifier,
      TextAnalysis.hashedClassifierOracle),
    "classifier_lift_gains" ~> q(TextAnalysis.classifierLiftGains,
      TextAnalysis.classifierLiftGainsOracle),
    "classifier_optimal_threshold" ~> q(TextAnalysis.classifierOptimalThreshold,
      TextAnalysis.classifierOptimalThresholdOracle),
    "source_simpson_diversity" ~> q(TextAnalysis.sourceSimpsonDiversity,
      TextAnalysis.sourceSimpsonDiversityOracle),
    "quality_length_kendall" ~> q(TextAnalysis.qualityLengthKendall,
      TextAnalysis.qualityLengthKendallOracle),
    "text_classifier_auc" ~> q(TextAnalysis.classifierAuc, TextAnalysis.classifierAucOracle),
    "text_repeat_spectrum" ~> q(TextAnalysis.repeatSpectrum, TextAnalysis.repeatSpectrumOracle),
    "text_top_repeats" ~> q(TextAnalysis.topRepeats, TextAnalysis.topRepeatsOracle),
    "text_source_novelty" ~> q(TextAnalysis.sourceNovelty, TextAnalysis.sourceNoveltyOracle),
    "text_negative_sampling" ~> q(TextAnalysis.negativeSampling,
      TextAnalysis.negativeSamplingOracle),
    "text_source_entropy" ~> q(TextAnalysis.sourceEntropy, TextAnalysis.sourceEntropyOracle),
    "customers_l_diversity" ~> q(Profile.lDiversity, Profile.lDiversityOracle),
    "table_write_plan" ~> q(Profile.writePlan, Profile.writePlanOracle),
    "text_classifier_calibration" ~> q(TextAnalysis.classifierCalibration,
      TextAnalysis.classifierCalibrationOracle),
    "classifier_train_gd" ~> q(TextAnalysis.classifierTrainGd,
      TextAnalysis.classifierTrainGdOracle),
    "classifier_train_apply" ~> q(TextAnalysis.classifierTrainApply,
      TextAnalysis.classifierTrainApplyOracle),
    "text_collocations" ~> q(TextAnalysis.collocations, TextAnalysis.collocationsOracle),
    "text_skipgram_pmi" ~> q(TextAnalysis.skipgramPmi, TextAnalysis.skipgramPmiOracle),
    "text_dsir_weights" ~> q(TextAnalysis.dsirWeights, TextAnalysis.dsirWeightsOracle),
    "text_doc_keywords" ~> q(TextAnalysis.docKeywords, TextAnalysis.docKeywordsOracle),
    "text_term_burstiness" ~> q(TextAnalysis.termBurstiness, TextAnalysis.termBurstinessOracle),
    "text_ttr_by_length" ~> q(TextAnalysis.ttrByLength, TextAnalysis.ttrByLengthOracle),
    "text_token_fertility" ~> q(TextAnalysis.tokenFertility, TextAnalysis.tokenFertilityOracle),
    "text_unigram_viterbi" ~> q(LanguageModel.unigramViterbi, LanguageModel.unigramViterbiOracle),
    "text_unigram_em_step" ~> q(LanguageModel.unigramEmStep, LanguageModel.unigramEmStepOracle),
    "text_unigram_prune_iter" ~> q(LanguageModel.unigramPruneIter,
      LanguageModel.unigramPruneIterOracle),
    "text_tokenizer_compare" ~> q(LanguageModel.tokenizerCompare,
      LanguageModel.tokenizerCompareOracle),
    "dedup_containment_banded" ~> q(PrefixJoin.containmentPairs, PrefixJoin.containmentPairsOracle),
    "events_range_window" ~> q(EventsStream.rangeWindowSum, EventsStream.rangeWindowSumOracle),
    "events_type_pivot" ~> q(EventsStream.eventTypePivot, EventsStream.eventTypePivotOracle),
    "events_type_drift" ~> q(EventsStream.typeDrift, EventsStream.typeDriftOracle),
    "events_watermark_lateness" ~> q(EventsStream.watermarkLateness,
      EventsStream.watermarkLatenessOracle),
    "orders_cube" ~> q(Extras.ordersCube, Extras.ordersCubeOracle),
    "text_sentences" ~> q(TextAnalysis.sentences, TextAnalysis.sentencesOracle),
    "text_char_diversity" ~> q(TextAnalysis.charDiversity, TextAnalysis.charDiversityOracle),
    "retrieval_rrf_fusion" ~> q(Retrieval.rrfFusion, Retrieval.rrfFusionOracle),
    "cluster_top_terms" ~> q(Retrieval.clusterTopTerms, Retrieval.clusterTopTermsOracle),
    "text_vocabulary" ~> q(TextAnalysis.vocabulary, TextAnalysis.vocabularyOracle),
    "text_contamination" ~> q(TextAnalysis.contamination, TextAnalysis.contaminationOracle),
    "text_quality_gate" ~> q(TextAnalysis.qualityGate, TextAnalysis.qualityGateOracle),
    "corpus_quality_funnel" ~> q(Curation.qualityFunnel, Curation.qualityFunnelOracle),
    "corpus_funnel_v2" ~> q(Curation.funnelV2, Curation.funnelV2Oracle),
    "corpus_datacard" ~> q(Curation.datacard, Curation.datacardOracle),
    "corpus_quality_calibrated" ~> q(Curation.qualityCalibrated, Curation.qualityCalibratedOracle),
    "corpus_perplexity_buckets" ~> q(Curation.perplexityBuckets, Curation.perplexityBucketsOracle),
    "corpus_mix_temperature" ~> q(Curation.mixTemperature, Curation.mixTemperatureOracle),
    "corpus_context_fit" ~> q(Curation.contextFit, Curation.contextFitOracle),
    "corpus_split_psi" ~> q(Curation.splitPsi, Curation.splitPsiOracle),
    "corpus_source_ablation" ~> q(Curation.sourceAblation, Curation.sourceAblationOracle),
    "corpus_signal_spearman" ~> q(Curation.signalSpearman, Curation.signalSpearmanOracle),
    "corpus_budget_planner" ~> q(Curation.budgetPlanner, Curation.budgetPlannerOracle),
    "corpus_shard_plan" ~> q(Curation.shardPlan, Curation.shardPlanOracle),
    "corpus_content_manifest" ~> q(Curation.contentManifest, Curation.contentManifestOracle),
    "corpus_cluster_split" ~> q(Curation.clusterSplit, Curation.clusterSplitOracle),
    "doc_chop_boundaries" ~> q(Curation.chopBoundaries, Curation.chopBoundariesOracle),
    "dedup_edit_distance" ~> q(Dedup.editDistancePairs, Dedup.editDistancePairsOracle),
    "corpus_split" ~> q(Curation.sampleSplit, Curation.sampleSplitOracle),
    "corpus_curated" ~> q(Curation.curatedCorpus, Curation.curatedCorpusOracle),
    "doc_chunks" ~> q(Curation.docChunks, Curation.docChunksOracle),
    "corpus_source_quota" ~> q(Curation.sourceQuota, Curation.sourceQuotaOracle),
    "doc_pack_sequences" ~> q(Curation.packSequences, Curation.packSequencesOracle),
    "corpus_mix_weights" ~> q(Curation.mixWeights, Curation.mixWeightsOracle),
    "corpus_embedding_coverage" ~> q(Curation.embeddingCoverage, Curation.embeddingCoverageOracle),
    "text_term_spectrum" ~> q(TextAnalysis.termSpectrum, TextAnalysis.termSpectrumOracle),
    "text_length_quantiles" ~> q(TextAnalysis.lengthQuantiles, TextAnalysis.lengthQuantilesOracle),
    "orders_retention_cohorts" ~> q(Extras.retentionCohorts, Extras.retentionCohortsOracle),
    "revenue_by_nation" ~> q(Extras.revenueByNation, Extras.revenueByNationOracle),
    "curated_incremental_refresh" ~> q(Extras.incrementalRefresh, Extras.incrementalRefreshOracle),
    "orders_priority_islands" ~> q(Extras.priorityIslands, Extras.priorityIslandsOracle),
    "orders_cdc_apply" ~> q(Extras.cdcApply, Extras.cdcApplyOracle),
    "orders_join_view_delta" ~> q(Extras.ordersJoinViewDelta, Extras.ordersJoinViewDeltaOracle),
    "lineitem_price_tiers" ~> q(Extras.priceTierJoin, Extras.priceTierJoinOracle),
    "customers_all_urgent" ~> q(Extras.customersAllUrgent, Extras.customersAllUrgentOracle),
    "events_session_window" ~> q(EventsStream.sessionWindows, EventsStream.sessionWindowsOracle),
    "events_top_values" ~> q(EventsStream.topValuesPerType, EventsStream.topValuesPerTypeOracle),
    "text_tfidf_pairs" ~> q(TextAnalysis.tfidfPairs, TextAnalysis.tfidfPairsOracle),
    "doc_fingerprints" ~> q(TextAnalysis.fingerprints, TextAnalysis.fingerprintsOracle),
    "dedup_exact" ~> q(Dedup.exactDedup, Dedup.exactDedupOracle),
    "dedup_minhash_signatures" ~> q(Dedup.minhashSignatures, Dedup.minhashSignaturesOracle),
    "dedup_minhash_pairs" ~> q(Dedup.minhashPairs, Dedup.minhashPairsOracle),
    "dedup_clusters" ~> q(Dedup.dedupClusters, Dedup.dedupClustersOracle),
    // contraction must reproduce dedup_clusters' labels exactly
    "dedup_cc_contraction" ~> q(Dedup.dedupCcContraction, Dedup.dedupClustersOracle),
    "dedup_cluster_sizes" ~> q(Dedup.dedupClusterSizes, Dedup.dedupClusterSizesOracle),
    "corpus_deduped" ~> q(Dedup.dedupedCorpus, Dedup.dedupedCorpusOracle),
    "dedup_simhash" ~> q(Dedup.simhashSignatures, Dedup.simhashSignaturesOracle),
    "dedup_simhash_pairs" ~> q(Dedup.simhashPairs, Dedup.simhashPairsOracle),
    "dedup_ngram_jaccard" ~> q(Dedup.ngramJaccardPairs, Dedup.ngramJaccardPairsOracle),
    "dedup_embedding" ~> q(Dedup.embeddingNearDup, Dedup.embeddingNearDupOracle),
    "dedup_incremental" ~> q(Dedup.incrementalDedup, Dedup.incrementalDedupOracle),
    "ann_cosine_topk" ~> q(Similarity.cosineTopK, Similarity.cosineTopKOracle),
    "ann_lsh_buckets" ~> q(Similarity.lshBuckets, Similarity.lshBucketsOracle),
    "ann_lsh_topk" ~> q(Similarity.lshTopK, Similarity.lshTopKOracle),
    "ann_ivf_cells" ~> q(Similarity.ivfCells, Similarity.ivfCellsOracle),
    "ann_ivf_topk" ~> q(Similarity.ivfTopK, Similarity.ivfTopKOracle),
    "ann_ivf_kmeans_step" ~> q(Similarity.ivfKmeansStep, Similarity.ivfKmeansStepOracle),
    "ann_ivf_kmeans_refined" ~> q(Similarity.ivfKmeansRefined, Similarity.ivfKmeansRefinedOracle),
    "ann_ivf_topk_refined" ~> q(Similarity.ivfTopKRefined, Similarity.ivfTopKRefinedOracle),
    "ann_ivf_topk_probe2" ~> q(Similarity.ivfTopKMultiProbe, Similarity.ivfTopKMultiProbeOracle),
    "ann_recall" ~> q(Similarity.annRecall, Similarity.annRecallOracle),
    "ann_pq_codes" ~> q(Similarity.pqCodes, Similarity.pqCodesOracle),
    "ann_pq_adc_topk" ~> q(Similarity.pqAdcTopK, Similarity.pqAdcTopKOracle),
    "ann_pq_recall" ~> q(Similarity.pqRecall, Similarity.pqRecallOracle),
    "ann_ivfpq_topk" ~> q(Similarity.ivfPqTopK, Similarity.ivfPqTopKOracle),
    "ann_knn_graph" ~> q(Similarity.knnGraph, Similarity.knnGraphOracle),
    "ann_graph_topk" ~> q(Similarity.graphSearchTopK, Similarity.graphSearchTopKOracle),
    "corpus_semantic_prune" ~> q(Similarity.semanticPrune, Similarity.semanticPruneOracle),
    "ann_graph_recall" ~> q(Similarity.graphSearchRecall, Similarity.graphSearchRecallOracle),
    "ann_incremental_assign" ~> q(Similarity.incrementalAssign, Similarity.incrementalAssignOracle),
    "dedup_semantic_clusters" ~> q(Similarity.semanticClusters, Similarity.semanticClustersOracle),
    "dedup_semantic_modularity" ~> q(Similarity.semanticModularity,
      Similarity.semanticModularityOracle),
    "ann_probe_sweep" ~> q(Similarity.probeSweep, Similarity.probeSweepOracle),
    "embedding_split_drift" ~> q(Quantize.splitDrift, Quantize.splitDriftOracle),
    "corpus_coverage_selection" ~> q(Similarity.coverageSelection,
      Similarity.coverageSelectionOracle),
    "embedding_label_outliers" ~> q(Similarity.labelOutliers, Similarity.labelOutliersOracle),
    "embedding_int8_quant" ~> q(Quantize.int8Quant, Quantize.int8QuantOracle),
    "embedding_random_projection" ~> q(Quantize.randomProjection, Quantize.randomProjectionOracle),
    "embedding_projection_audit" ~> q(Quantize.projectionAudit, Quantize.projectionAuditOracle),
    "embedding_pca_power" ~> q(Quantize.pcaPower, Quantize.pcaPowerOracle),
    "embedding_anisotropy" ~> q(Quantize.anisotropy, Quantize.anisotropyOracle),
    "ann_binary_topk" ~> q(Quantize.binaryTopK, Quantize.binaryTopKOracle),
    "ann_cell_balance" ~> q(Quantize.cellBalance, Quantize.cellBalanceOracle),
    "embedding_text_corr" ~> q(Quantize.embeddingTextCorr, Quantize.embeddingTextCorrOracle),
    "ann_matryoshka_recall" ~> q(Quantize.matryoshkaRecall, Quantize.matryoshkaRecallOracle),
    "multimodal_media_summary" ~> q(Multimodal.mediaSummary, Multimodal.mediaSummaryOracle),
    "multimodal_header_meta" ~> q(Multimodal.headerMeta, Multimodal.headerMetaOracle),
    "multimodal_pixel_stats" ~> q(Multimodal.pixelStats, Multimodal.pixelStatsOracle),
    "multimodal_pixel_histogram" ~> q(Multimodal.pixelHistogram, Multimodal.pixelHistogramOracle),
    "multimodal_hist_similarity" ~> q(Multimodal.histSimilarity, Multimodal.histSimilarityOracle),
    "multimodal_ahash_pairs" ~> q(Multimodal.ahashPairs, Multimodal.ahashPairsOracle),
    "multimodal_motion_energy" ~> q(Multimodal.motionEnergy, Multimodal.motionEnergyOracle),
    "multimodal_wav_stats" ~> q(Multimodal.wavStats, Multimodal.wavStatsOracle),
    "multimodal_wav_clipping" ~> q(Multimodal.wavClipping, Multimodal.wavClippingOracle),
    "multimodal_video_stats" ~> q(Multimodal.videoStats, Multimodal.videoStatsOracle),
    "multimodal_jpeg_stats" ~> q(Multimodal.jpegStats, Multimodal.jpegStatsOracle),
    "multimodal_thumbnail" ~> q(Multimodal.pixelThumbnail, Multimodal.pixelThumbnailOracle),
    "multimodal_wav_zcr" ~> q(Multimodal.wavZcr, Multimodal.wavZcrOracle),
    "multimodal_flac_stats" ~> q(Multimodal.flacStats, Multimodal.flacStatsOracle),
    "multimodal_edge_energy" ~> q(Multimodal.edgeEnergy, Multimodal.edgeEnergyOracle),
    "multimodal_wht_bands" ~> q(Multimodal.whtBandEnergy, Multimodal.whtBandEnergyOracle),
    "multimodal_dft_bins" ~> q(Multimodal.dftBinEnergy, Multimodal.dftBinEnergyOracle),
    "multimodal_gif_stats" ~> q(Multimodal.gifStats, Multimodal.gifStatsOracle),
    "ann_kmeanspp_seed" ~> q(Similarity.kmeansParallelSeed, Similarity.kmeansParallelSeedOracle),
    "embedding_label_silhouette" ~> q(Similarity.labelSilhouette, Similarity.labelSilhouetteOracle),
    "ann_filtered_topk" ~> q(Similarity.filteredTopK, Similarity.filteredTopKOracle),
    "embedding_hard_negatives" ~> q(Similarity.hardNegatives, Similarity.hardNegativesOracle),
    "text_zipf_slope" ~> q(TextAnalysis.zipfSlope, TextAnalysis.zipfSlopeOracle),
    "rfm_customer_scores" ~> q(Analytics.customerRfm, Analytics.customerRfmOracle),
    "lineitem_mahalanobis_outliers" ~> q(Analytics.lineitemMahalanobis,
      Analytics.lineitemMahalanobisOracle),
    "lineitem_winsorized_stats" ~> q(Analytics.lineitemWinsorized,
      Analytics.lineitemWinsorizedOracle),
    "table_profile" ~> q(Profile.tableProfile, Profile.tableProfileOracle),
    "table_profile_approx_audit" ~> q(Profile.tableProfileApproxAudit,
      Profile.tableProfileApproxAuditOracle),
    "lineitem_moment_corr" ~> q(Profile.momentCorr, Profile.momentCorrOracle),
    "lineitem_spearman" ~> q(Profile.spearmanCorr, Profile.spearmanCorrOracle),
    "doc_truncation_loss" ~> q(Curation.truncationLoss, Curation.truncationLossOracle),
    "dedup_tier_agreement" ~> q(Dedup.dedupTierAgreement, Dedup.dedupTierAgreementOracle),
    "lineitem_key_skew" ~> q(Profile.keySkew, Profile.keySkewOracle),
    "table_checksum" ~> q(Profile.tableChecksum, Profile.tableChecksumOracle),
    "fk_integrity" ~> q(Profile.fkIntegrity, Profile.fkIntegrityOracle),
    "table_expectations" ~> q(Profile.tableExpectations, Profile.tableExpectationsOracle),
    "customers_k_anonymity" ~> q(Profile.kAnonymity, Profile.kAnonymityOracle),
    "customers_t_closeness" ~> q(Profile.tCloseness, Profile.tClosenessOracle),
    "customers_dp_release" ~> q(Profile.dpRelease, Profile.dpReleaseOracle),
    "corpus_preference_pairs" ~> q(Similarity.preferencePairs, Similarity.preferencePairsOracle),
    "dedup_source_kmv_jaccard" ~> q(Dedup.sourceKmvJaccard, Dedup.sourceKmvJaccardOracle),
    "text_heavyhitters_audit" ~> q(TextAnalysis.heavyHittersAudit,
      TextAnalysis.heavyHittersAuditOracle),
    "lineitem_rollup_rewrite" ~> q(RollupRewrite.rewriteQuery, RollupRewrite.rewriteQueryOracle),
    "rfm_column_lineage" ~> q(Lineage.rfmLineage, Lineage.rfmLineageOracle),
    "events_asof_native" ~> q(AsOfJoin.lastClickNative, AsOfJoin.lastClickNativeOracle),
    "events_daily_gap_fill" ~> q(EventsStream.dailyGapFill, EventsStream.dailyGapFillOracle),
    "events_carry_forward" ~> q(EventsStream.purchaseCarryForward,
      EventsStream.purchaseCarryForwardOracle),
    "events_sliding_window" ~> q(EventsStream.slidingWindowAgg,
      EventsStream.slidingWindowAggOracle),
    "lineitem_price_histogram" ~> q(Profile.priceHistogram, Profile.priceHistogramOracle),
    "dedup_containment_pairs" ~> q(Dedup.containmentPairs, Dedup.containmentPairsOracle),
    "doc_chunk_boilerplate" ~> q(Curation.chunkBoilerplate, Curation.chunkBoilerplateOracle),
    "text_oov_rate" ~> q(TextAnalysis.oovRate, TextAnalysis.oovRateOracle),
    "corpus_epoch_plan" ~> q(Curation.epochPlan, Curation.epochPlanOracle),
    "corpus_training_manifest" ~> q(Curation.trainingManifest, Curation.trainingManifestOracle),
    "dedup_canonical_quality" ~> q(Dedup.canonicalByQuality, Dedup.canonicalByQualityOracle),
    "dedup_rate_by_source" ~> q(Dedup.dupRateBySource, Dedup.dupRateBySourceOracle),
    "dedup_source_overlap" ~> q(Dedup.sourceOverlap, Dedup.sourceOverlapOracle),
    "dedup_lsh_planner" ~> q(Dedup.lshPlanner, Dedup.lshPlannerOracle),
    "retrieval_eval_metrics" ~> q(Retrieval.evalMetrics, Retrieval.evalMetricsOracle),
    "retrieval_mmr_topk" ~> q(Retrieval.mmrTopK, Retrieval.mmrTopKOracle),
    "dedup_degree_histogram" ~> q(Dedup.dedupDegreeHistogram, Dedup.dedupDegreeHistogramOracle),
    "text_lang_confusion" ~> q(TextAnalysis.langConfusion, TextAnalysis.langConfusionOracle),
    "text_pii_redacted" ~> q(TextAnalysis.piiRedacted, TextAnalysis.piiRedactedOracle),
    "dedup_triangles" ~> q(Dedup.dedupTriangles, Dedup.dedupTrianglesOracle),
    "dedup_clustering_coeff" ~> q(Dedup.clusteringCoeff, Dedup.clusteringCoeffOracle),
    "dedup_cluster_ari" ~> q(Dedup.clusterAri, Dedup.clusterAriOracle),
    "dedup_lsh_recall" ~> q(Dedup.lshRecall, Dedup.lshRecallOracle),
    "corpus_dedup_savings" ~> q(Dedup.dedupSavings, Dedup.dedupSavingsOracle),
    "events_user_deciles" ~> q(EventsStream.userValueDeciles, EventsStream.userValueDecilesOracle),
    "events_rolling_7d" ~> q(EventsStream.rolling7d, EventsStream.rolling7dOracle),
    "events_moving_avg" ~> q(EventsStream.movingAvg3, EventsStream.movingAvg3Oracle),
    "events_user_growth" ~> q(EventsStream.userGrowth, EventsStream.userGrowthOracle),
    "customers_year_set_ops" ~> q(Extras.customerYearSetOps, Extras.customerYearSetOpsOracle),
    "orders_time_rollup" ~> q(Extras.ordersTimeRollup, Extras.ordersTimeRollupOracle),
    "orders_table_diff" ~> q(Extras.tableDiff, Extras.tableDiffOracle),
    "parts_hierarchy_rollup" ~> q(Extras.partsHierarchyRollup, Extras.partsHierarchyRollupOracle),
    "nations_supplier_roster" ~> q(Extras.supplierRoster, Extras.supplierRosterOracle),
    "orders_benford_digits" ~> q(Extras.benfordDigits, Extras.benfordDigitsOracle),
    "parts_brand_copurchase" ~> q(Extras.brandCopurchase, Extras.brandCopurchaseOracle),
    "parts_brand_triples" ~> q(Extras.brandTriples, Extras.brandTriplesOracle),
    "rfm_segment_rollup" ~> q(Analytics.rfmSegments, Analytics.rfmSegmentsOracle),
    "parts_skyline" ~> q(Analytics.partsSkyline, Analytics.partsSkylineOracle),
    "nation_revenue_lorenz" ~> q(Analytics.nationRevenueLorenz,
      Analytics.nationRevenueLorenzOracle),
    "customer_scd2" ~> q(Analytics.customerScd2, Analytics.customerScd2Oracle),
    "customer_scd2_merged" ~> q(Analytics.customerScd2Merged, Analytics.customerScd2MergedOracle),
    "lineitem_pit_priority" ~> q(Analytics.lineitemPitPriority,
      Analytics.lineitemPitPriorityOracle),
    "parts_association_rules" ~> q(Analytics.brandAssociationRules,
      Analytics.brandAssociationRulesOracle),
    "events_chi_square" ~> q(Analytics.eventsChiSquare, Analytics.eventsChiSquareOracle),
    "events_mann_whitney" ~> q(Analytics.eventsMannWhitney, Analytics.eventsMannWhitneyOracle),
    "events_daily_autocorr" ~> q(Analytics.eventsDailyAutocorr,
      Analytics.eventsDailyAutocorrOracle),
    "daily_revenue_trend" ~> q(Analytics.dailyRevenueTrend, Analytics.dailyRevenueTrendOracle),
    "daily_revenue_backtest" ~> q(Analytics.dailyRevenueBacktest,
      Analytics.dailyRevenueBacktestOracle),
    "daily_revenue_conformal" ~> q(Analytics.dailyRevenueConformal,
      Analytics.dailyRevenueConformalOracle),
    "lineitem_trimmed_mean" ~> q(Analytics.lineitemTrimmedMean,
      Analytics.lineitemTrimmedMeanOracle),
    "daily_revenue_mann_kendall" ~> q(Analytics.dailyRevenueMannKendall,
      Analytics.dailyRevenueMannKendallOracle),
    "daily_revenue_runs_test" ~> q(Analytics.dailyRevenueRunsTest,
      Analytics.dailyRevenueRunsTestOracle),
    "daily_revenue_pinball_quantile" ~> q(Analytics.dailyRevenuePinballQuantile,
      Analytics.dailyRevenuePinballQuantileOracle),
    "daily_revenue_decomposition" ~> q(Analytics.dailyRevenueDecomposition,
      Analytics.dailyRevenueDecompositionOracle),
    "lineitem_regression_2f" ~> q(Analytics.lineitemRegression2f,
      Analytics.lineitemRegression2fOracle),
    "docs_anova_length" ~> q(Analytics.docsAnovaLength, Analytics.docsAnovaLengthOracle),
    "docs_ks_lengths" ~> q(Analytics.docsKsLengths, Analytics.docsKsLengthsOracle),
    "orders_bootstrap_ci" ~> q(Analytics.ordersBootstrapCi, Analytics.ordersBootstrapCiOracle),
    "events_cuped_ab" ~> q(Analytics.eventsCupedAb, Analytics.eventsCupedAbOracle),
    "lineitem_median_ci" ~> q(Analytics.lineitemMedianCi, Analytics.lineitemMedianCiOracle),
    "text_langid_kappa" ~> q(TextAnalysis.langIdKappa, TextAnalysis.langIdKappaOracle),
    "orders_join_size_sketch" ~> q(Sketches.joinSizeSketch, Sketches.joinSizeSketchOracle),
    "parts_returns_wilson" ~> q(Analytics.brandReturnsWilson, Analytics.brandReturnsWilsonOracle),
    "orders_open_backlog" ~> q(Analytics.ordersOpenBacklog, Analytics.ordersOpenBacklogOracle),
    "monthly_revenue_theilsen" ~> q(Analytics.monthlyRevenueTheilSen,
      Analytics.monthlyRevenueTheilSenOracle),
    "docs_source_diversity" ~> q(Analytics.docsSourceDiversity,
      Analytics.docsSourceDiversityOracle),
    "docs_lang_source_independence" ~> q(Analytics.docsLangSourceIndependence,
      Analytics.docsLangSourceIndependenceOracle),
    "lineitem_promo_did" ~> q(Analytics.lineitemPromoDid, Analytics.lineitemPromoDidOracle),
    "customer_survival_km" ~> q(Analytics.customerSurvivalKm, Analytics.customerSurvivalKmOracle),
    "daily_revenue_outliers" ~> q(Analytics.dailyRevenueOutliers,
      Analytics.dailyRevenueOutliersOracle),
    "daily_revenue_changepoints" ~> q(Analytics.dailyRevenueChangepoints,
      Analytics.dailyRevenueChangepointsOracle),
    "parts_union_evolved" ~> q(Extras.partsUnionEvolved, Extras.partsUnionEvolvedOracle),
    "lineitem_zorder_locality" ~> q(Scale.zorderLocality, Scale.zorderLocalityOracle),
    "events_type_transitions" ~> q(EventsStream.typeTransitions,
      EventsStream.typeTransitionsOracle),
    "events_markov_stationary" ~> q(EventsStream.markovStationary,
      EventsStream.markovStationaryOracle),
    "events_bot_score" ~> q(EventsStream.botScore, EventsStream.botScoreOracle),
    "events_windowed_agg" ~> q(EventsStream.hourlyAggBatch, EventsStream.hourlyAggBatchOracle),
    "events_hourly_anomaly" ~> q(EventsStream.hourlyAnomaly, EventsStream.hourlyAnomalyOracle),
    "events_purchase_attribution" ~> q(EventsStream.purchaseAttributionBatch,
      EventsStream.purchaseAttributionBatchOracle),
    "events_last_click_asof" ~> q(EventsStream.purchaseAttributionAsOf,
      EventsStream.purchaseAttributionAsOfOracle),
    "events_type_totals_salted" ~> q(EventsStream.typeTotalsSalted,
      EventsStream.typeTotalsSaltedOracle),
    "events_adaptive_salted" ~> q(Scale.adaptiveSaltedTotals, Scale.adaptiveSaltedTotalsOracle),
    "lineitem_promo_uplift" ~> q(RangeJoin.promoUplift, RangeJoin.promoUpliftOracle),
    "dedup_kcore" ~> q(Graph.docKcore, Graph.docKcoreOracle),
    "migration_validation" ~> q(IoChecks.migrationValidation, IoChecks.migrationValidationOracle),
    "events_salted_join" ~> q(EventsStream.saltedJoinTotals, EventsStream.saltedJoinTotalsOracle),
    "events_props_json" ~> q(EventsStream.propsJsonMetrics, EventsStream.propsJsonMetricsOracle),
    "events_props_variant" ~> q(EventsStream.propsVariantMetrics,
      EventsStream.propsVariantMetricsOracle),
    "events_sessionized" ~> q(Sessionize.sessionsBatch, Sessionize.sessionsBatchOracle),
    "events_top_paths" ~> q(Sessionize.topPaths, Sessionize.topPathsOracle),
    "events_funnel" ~> q(EventsStream.funnelBatch, EventsStream.funnelBatchOracle),
    "events_funnel_latency" ~> q(EventsStream.funnelLatency, EventsStream.funnelLatencyOracle),
    "sales_cube" ~> q(Extras.salesCube, Extras.salesCubeOracle),
    "campaign_rank_by_channel" ~> athena(Extras.campaignRankSql),
    "campaign_distribution" ~> athena(Extras.campaignDistributionSql),
    "inventory_union" ~> q(Extras.inventoryUnion, Extras.inventoryUnionOracle),
    "sales_rollup" ~> q(Extras.salesRollup, Extras.salesRollupOracle),
    "sales_grouping_sets" ~> q(Extras.salesGroupingSets, Extras.salesGroupingSetsOracle),
    "category_quantity_quartiles" ~> q(Extras.categoryQuantityQuartiles,
      Extras.categoryQuantityQuartilesOracle),
    "category_quantity_quartiles_disc" ~> q(Extras.categoryQuantityQuartilesDisc,
      Extras.categoryQuantityQuartilesDiscOracle),
    // GK-sketch variant surfaced through its bounds audit (see the
    // revenue_by_category_approx_audit note; raw approx query remains
    // as Extras.categoryQuantityQuartilesApprox + ApproxQuartilesSpec)
    "category_quantity_quartiles_approx_audit" ~> q(Extras.categoryQuantityQuartilesApproxAudit,
      Extras.categoryQuantityQuartilesApproxAuditOracle),
    "orders_null_safe_join" ~> q(Extras.nullSafeJoin, Extras.nullSafeJoinOracle),
    "orders_typed_revenue" ~> q(Typed.typedRevenue, Typed.typedRevenueOracle),
    "events_user_first_last" ~> q(EventsStream.userFirstLast, EventsStream.userFirstLastOracle),
    "events_decay_engagement" ~> q(EventsStream.decayEngagement,
      EventsStream.decayEngagementOracle),
    "events_user_fano" ~> q(EventsStream.userFano, EventsStream.userFanoOracle),
    "events_type_count_map" ~> q(EventsStream.typeCountMap, EventsStream.typeCountMapOracle),
    "lineitem_decimal_revenue" ~> q(Extras.decimalRevenue, Extras.decimalRevenueOracle),
    "lineitem_bloom_join" ~> q(Scale.bloomJoin, Scale.bloomJoinOracle),
    "orders_weekday_seasonality" ~> q(Extras.weekdaySeasonality, Extras.weekdaySeasonalityOracle),
    "lineitem_ship_delay" ~> q(Extras.shipDelayByPriority, Extras.shipDelayByPriorityOracle),
    "suppliers_top_by_nation" ~> q(Extras.topSuppliersByNation, Extras.topSuppliersByNationOracle),
    "orders_above_customer_avg" ~> q(Extras.ordersAboveCustomerAvg,
      Extras.ordersAboveCustomerAvgOracle),
    "corpus_stratified_sample" ~> q(Curation.stratifiedSample, Curation.stratifiedSampleOracle),
    "parts_abc_analysis" ~> q(Extras.partsAbcAnalysis, Extras.partsAbcAnalysisOracle),
    "parts_abc_xyz" ~> q(Extras.partsAbcXyz, Extras.partsAbcXyzOracle),
    "parts_arc_elasticity" ~> q(Extras.partsArcElasticity, Extras.partsArcElasticityOracle),
    "customer_balance_quartiles" ~> q(Extras.customerBalanceQuartiles,
      Extras.customerBalanceQuartilesOracle),
    "parts_brand_summary" ~> q(Extras.partsBrandSummary, Extras.partsBrandSummaryOracle),
    "revenue_share_of_parent" ~> q(Extras.revenueShareOfParent, Extras.revenueShareOfParentOracle),
    "orders_top_line_lateral" ~> q(Extras.topLineLateral, Extras.topLineLateralOracle),
    "customers_without_orders" ~> q(Extras.customersWithoutOrders,
      Extras.customersWithoutOrdersOracle),
    "customers_with_orders_by_segment" ~> q(Extras.customersWithOrdersBySegment,
      Extras.customersWithOrdersBySegmentOracle),
    "sales_pivot_by_status" ~> q(Extras.salesPivotByStatus, Extras.salesPivotByStatusOracle),
    "sales_unpivot" ~> q(Extras.salesUnpivot, Extras.salesUnpivotOracle),
    "file_provenance" ~> q(Extras.fileProvenance, Extras.fileProvenanceOracle),
    "csv_quarantine_split" ~> q(IoChecks.csvQuarantineSplit, IoChecks.csvQuarantineSplitOracle),
    "compaction_roundtrip" ~> q(IoChecks.compactionRoundtrip, IoChecks.compactionRoundtripOracle),
    "format_roundtrips" ~> q(IoChecks.formatRoundtrips, IoChecks.formatRoundtripsOracle),
    // classic decision-support shapes (TPC-H Q1..Q22 adapted; sql/Classics.scala)
    "classic_pricing_summary" ~> q(Classics.pricingSummary, Classics.pricingSummaryOracle()),
    "classic_shipping_priority" ~> q(Classics.shippingPriority, Classics.shippingPriorityOracle),
    "classic_forecast_revenue" ~> q(Classics.forecastRevenue, Classics.forecastRevenueOracle),
    "classic_bilateral_trade" ~> q(Classics.bilateralTrade, Classics.bilateralTradeOracle),
    "nation_supplier_hhi" ~> q(Classics.nationSupplierHhi, Classics.nationSupplierHhiOracle),
    "classic_market_share" ~> q(Classics.marketShare, Classics.marketShareOracle),
    "classic_returned_revenue" ~> q(Classics.returnedRevenue, Classics.returnedRevenueOracle),
    "classic_order_distribution" ~> q(Classics.customerOrderDistribution,
      Classics.customerOrderDistributionOracle),
    "classic_promo_share" ~> q(Classics.promoRevenueShare, Classics.promoRevenueShareOracle),
    "classic_top_supplier" ~> q(Classics.topSupplierByRevenue, Classics.topSupplierByRevenueOracle),
    "classic_small_order_revenue" ~> q(Classics.smallOrderRevenue,
      Classics.smallOrderRevenueOracle),
    "classic_large_orders" ~> q(Classics.largeQuantityOrders, Classics.largeQuantityOrdersOracle),
    "classic_disjunctive_bands" ~> q(Classics.disjunctiveBandRevenue,
      Classics.disjunctiveBandRevenueOracle),
    "classic_lapsed_rich" ~> q(Classics.lapsedRichCustomers, Classics.lapsedRichCustomersOracle),
    "classic_min_cost_supplier" ~> q(Classics.minCostSupplier, Classics.minCostSupplierOracle),
    "classic_late_order_priority" ~> q(Classics.lateOrderPriority,
      Classics.lateOrderPriorityOracle),
    "classic_product_profit" ~> q(Classics.productTypeProfit, Classics.productTypeProfitOracle),
    "classic_important_value" ~> q(Classics.importantPartValue, Classics.importantPartValueOracle),
    "classic_ship_lag_priority" ~> q(Classics.shipLagPriority, Classics.shipLagPriorityOracle),
    "classic_supplier_part_counts" ~> q(Classics.supplierPartCounts,
      Classics.supplierPartCountsOracle),
    "classic_dominant_supplier" ~> q(Classics.dominantSupplier, Classics.dominantSupplierOracle),
    "classic_waiting_supplier" ~> q(Classics.waitingSupplier, Classics.waitingSupplierOracle),
    "lineitem_zorder_layout" ~> q(Layout.zorderLayout, Layout.zorderLayoutOracle),
    "lineitem_zorder_pruning" ~> q(Layout.zorderPruning, Layout.zorderPruningOracle),
    // round-6 additions: sketching, LM scoring, graph analytics,
    // weighted sampling, content-defined chunking
    "events_cms_heavy_hitters" ~> q(Sketches.cmsHeavyHitters, Sketches.cmsHeavyHittersOracle),
    "events_sliding_distinct" ~> q(Sketches.slidingDistinct, Sketches.slidingDistinctOracle),
    "events_stickiness" ~> q(Sketches.stickiness, Sketches.stickinessOracle),
    "events_kmv_distinct" ~> q(Sketches.kmvDistinct, Sketches.kmvDistinctOracle),
    "text_bigram_lm" ~> q(LanguageModel.bigramScore, LanguageModel.bigramScoreOracle),
    "text_kn_bigram" ~> q(LanguageModel.knBigramScore, LanguageModel.knBigramScoreOracle),
    "nation_pagerank" ~> q(Graph.nationPagerank, Graph.nationPagerankOracle),
    "nation_bfs_hops" ~> q(Graph.nationBfsHops, Graph.nationBfsHopsOracle),
    "corpus_weighted_sample" ~> q(Curation.weightedSample, Curation.weightedSampleOracle),
    "doc_cdc_chunks" ~> q(Chunking.cdcChunks, Chunking.cdcChunksOracle),
    "doc_cdc_shared" ~> q(Chunking.cdcSharedChunks, Chunking.cdcSharedChunksOracle),
    "dedup_edit_join_pairs" ~> q(EditJoin.editDistancePairs, EditJoin.editDistancePairsOracle),
    "dsv2_synthetic_agg" ~> q(SyntheticSource.syntheticAgg, SyntheticSource.syntheticAggOracle),
    "dsv2_runtime_pruned_join" ~> q(SyntheticSource.runtimePrunedJoin,
      SyntheticSource.runtimePrunedJoinOracle),
    "dsv2_agg_pushdown_audit" ~> q(SyntheticSource.aggPushdownAudit,
      SyntheticSource.aggPushdownAuditOracle),
    "dsv2_sink_roundtrip" ~> q(LedgerRoundtrip.sinkRoundtrip, LedgerRoundtrip.sinkRoundtripOracle),
    "dsv2_catalog_sql_roundtrip" ~> q(CatalogRoundtrip.catalogSqlRoundtrip,
      CatalogRoundtrip.catalogSqlRoundtripOracle),
    "dsv2_function_catalog" ~> q(CatalogRoundtrip.functionCatalogQuery,
      CatalogRoundtrip.functionCatalogQueryOracle),
    "dsv2_stream_sink_roundtrip" ~> q(LedgerRoundtrip.streamSinkRoundtrip,
      LedgerRoundtrip.streamSinkRoundtripOracle),
    "dsv2_time_travel" ~> q(LedgerRoundtrip.timeTravelRoundtrip,
      LedgerRoundtrip.timeTravelRoundtripOracle),
    "dsv2_timestamp_travel" ~> q(LedgerRoundtrip.timestampTravel,
      LedgerRoundtrip.timestampTravelOracle),
    "dsv2_metadata_tables" ~> q(MetadataTables.metadataTables, MetadataTables.metadataTablesOracle),
    "dsv2_equality_upsert" ~> q(LedgerRoundtrip.equalityUpsert,
      LedgerRoundtrip.equalityUpsertOracle),
    "dsv2_stream_equality_upsert" ~> q(LedgerLifecycle.streamEqualityUpsert,
      LedgerLifecycle.streamEqualityUpsertOracle),
    "dsv2_merge_upsert" ~> q(LedgerRoundtrip.mergeUpsertRoundtrip,
      LedgerRoundtrip.mergeUpsertRoundtripOracle),
    "dsv2_merge_mor" ~> q(LedgerRoundtrip.mergeMoRRoundtrip,
      LedgerRoundtrip.mergeMoRRoundtripOracle),
    "dsv2_version_history" ~> q(LedgerRoundtrip.versionHistory,
      LedgerRoundtrip.versionHistoryOracle),
    "dsv2_partition_pruning" ~> q(LedgerLifecycle.partitionPruning,
      LedgerLifecycle.partitionPruningOracle),
    "dsv2_schema_evolution" ~> q(LedgerLifecycle.schemaEvolution,
      LedgerLifecycle.schemaEvolutionOracle),
    "dsv2_type_widening" ~> q(LedgerLifecycle.typeWidening, LedgerLifecycle.typeWideningOracle),
    "dsv2_add_column_default" ~> q(LedgerLifecycle.addColumnDefault,
      LedgerLifecycle.addColumnDefaultOracle),
    "dsv2_compaction" ~> q(LedgerLifecycle.compaction, LedgerLifecycle.compactionOracle),
    "dsv2_commit_volume" ~> q(LedgerLifecycle.commitVolume, LedgerLifecycle.commitVolumeOracle),
    "dsv2_cdc_incremental_dedup" ~> q(LedgerLifecycle.cdcIncrementalDedup,
      LedgerLifecycle.cdcIncrementalDedupOracle),
    "dsv2_stream_replication" ~> q(LedgerLifecycle.streamReplication,
      LedgerLifecycle.streamReplicationOracle),
    "dsv2_sorted_compaction" ~> q(LedgerLifecycle.sortedCompaction,
      LedgerLifecycle.sortedCompactionOracle),
    "dsv2_spj_join" ~> q(LedgerLifecycle.spjJoin, LedgerLifecycle.spjJoinOracle),
    "dsv2_transform_partitioning" ~> q(LedgerLifecycle.transformPartitioning,
      LedgerLifecycle.transformPartitioningOracle),
    "dsv2_mor_delete" ~> q(LedgerLifecycle.morDelete, LedgerLifecycle.morDeleteOracle),
    "dsv2_mor_update" ~> q(LedgerLifecycle.morUpdate, LedgerLifecycle.morUpdateOracle),
    "dsv2_agg_pushdown_ledger" ~> q(LedgerLifecycle.aggPushdown, LedgerLifecycle.aggPushdownOracle),
    "dsv2_bloom_skipping" ~> q(LedgerLifecycle.bloomSkipping, LedgerLifecycle.bloomSkippingOracle),
    "dsv2_stream_upsert" ~> q(LedgerLifecycle.streamUpsert, LedgerLifecycle.streamUpsertOracle),
    "dedup_kill_list_mor" ~> q(LedgerLifecycle.dedupKillListMoR,
      LedgerLifecycle.dedupKillListMoROracle),
    "dsv2_cdf_stream_replication" ~> q(LedgerLifecycle.cdfStreamReplication,
      LedgerLifecycle.cdfStreamReplicationOracle),
    "dsv2_cdc_row_level" ~> q(LedgerLifecycle.cdcRowLevel, LedgerLifecycle.cdcRowLevelOracle),
    "dsv2_restore_expire" ~> q(LedgerLifecycle.restoreExpire, LedgerLifecycle.restoreExpireOracle),
    "dsv2_wap_publish" ~> q(LedgerLifecycle.wapPublish, LedgerLifecycle.wapPublishOracle),
    "dsv2_check_constraints" ~> q(LedgerLifecycle.checkConstraints,
      LedgerLifecycle.checkConstraintsOracle),
    "dsv2_spec_evolution" ~> q(LedgerLifecycle.specEvolution, LedgerLifecycle.specEvolutionOracle),
    "dsv2_metadata_log" ~> q(LedgerLifecycle.metadataLog, LedgerLifecycle.metadataLogOracle),
    "dsv2_branch_ff" ~> q(LedgerLifecycle.branchFastForward,
      LedgerLifecycle.branchFastForwardOracle),
    "dsv2_call_procedures" ~> q(LedgerLifecycle.callProcedures,
      LedgerLifecycle.callProceduresOracle),
    "corpus_source_shrinkage" ~> q(Curation.sourceShrinkage, Curation.sourceShrinkageOracle),
    "doc_span_corruption_plan" ~> q(Curation.spanCorruptionPlan, Curation.spanCorruptionPlanOracle),
    "corpus_budget_waterfill" ~> q(Curation.budgetWaterfill, Curation.budgetWaterfillOracle),
    "dedup_prefix_filter_pairs" ~> q(PrefixJoin.prefixFilterPairs,
      PrefixJoin.prefixFilterPairsOracle),
    "dedup_prefix_filter_topk" ~> q(PrefixJoin.prefixFilterTopK, PrefixJoin.prefixFilterTopKOracle),
    "text_tfidf_topk" ~> q(TextAnalysis.tfidfTopKPartners, TextAnalysis.tfidfTopKOracle),
    "dedup_duplicate_spans" ~> q(Spans.duplicateSpans, Spans.duplicateSpansOracle),
    "doc_dup_span_coverage" ~> q(Spans.dupSpanCoverage, Spans.dupSpanCoverageOracle),
    "doc_dup_span_intervals" ~> q(Spans.dupSpanIntervals, Spans.dupSpanIntervalsOracle),
    "dedup_incremental_spans" ~> q(Spans.incrementalSpans, Spans.incrementalSpansOracle),
    "corpus_split_leakage" ~> q(Spans.splitLeakage, Spans.splitLeakageOracle),
    "text_bpe_merge_step" ~> q(LanguageModel.bpeMergeStep, LanguageModel.bpeMergeStepOracle),
    "text_bpe_train" ~> q(LanguageModel.bpeTrain, LanguageModel.bpeTrainOracle),
    "text_bpe_encode" ~> q(LanguageModel.bpeEncode, LanguageModel.bpeEncodeOracle),
    "text_tokenizer_fertility" ~> q(LanguageModel.tokenizerFertility,
      LanguageModel.tokenizerFertilityOracle),
    "multimodal_ahash" ~> q(Multimodal.pixelAhash, Multimodal.pixelAhashOracle),
    "text_posting_lists" ~> q(LanguageModel.postingLists, LanguageModel.postingListsOracle),
    "text_bm25_topk" ~> q(LanguageModel.bm25TopK, LanguageModel.bm25TopKOracle),
    "events_cusum_drift" ~> q(Analytics.eventsCusumDrift, Analytics.eventsCusumDriftOracle),
    "doc_cdc_savings" ~> q(Chunking.cdcSavings, Chunking.cdcSavingsOracle))

  /** Bench-mode preparation (no-op unless PlanCache is enabled):
    * materialize the shared dedup state — feature side-table, band
    * candidates, verified pairs, cluster labels — ONCE before queries
    * are timed. This is the staged-zone pattern the reference runs on
    * (Athena queries read curated tables a prior job wrote; they don't
    * re-run the ETL per query), applied to the dedup feature table its
    * own scaladoc names. Bench reports the cost as a separate `prep`
    * figure. */
  def prepare(spark: SparkSession, dir: String): Unit =
    if (PlanCache.enabled(spark)) {
      // Each entry stages one multi-consumer shared relation:
      //  - dedup feature/pair/cluster chain, exact prefix-filter pair
      //    set, TF-IDF sims (2+ consumers each, staged since r9-r12);
      //  - the TRAINED artifacts (r13): BPE merge table + encoded
      //    type sequence, unigram forward DP + pruned-EM second pass,
      //    GD classifier weights, KN bigram model — before this,
      //    whichever consumer ran FIRST alphabetically paid the whole
      //    training loop inside its timed window (text_bpe_encode
      //    5.1 s vs text_bpe_train 0.3 s reusing it);
      //  - the remaining multi-consumer prefixes (r13): semantic
      //    cluster labels, graph-search visited pool, simhash
      //    signatures, CDC chunk table, per-order brand sets, span
      //    windows + coverage, normalized-text fingerprints;
      //  - the raw CSV zone for the end-to-end composites.
      // The builders are mutually independent, so they run from a
      // small thread pool (guide §2.6): one builder's straggler tail
      // back-fills with the next builder's tasks instead of idling
      // 31 cores — measured 87 s serial → ~45 s at pool size 4.
      // PlanCache's TrieMap is atomic per key, and the rare
      // double-build of a nested shared key just persists a plan the
      // CacheManager dedupes.
      val builders: Seq[(String, () => Unit)] = Seq(
        "dedup_clusters" -> (() => Dedup.dedupClusters(spark, dir).count(): Unit),
        "prefix_pairs" -> (() => PrefixJoin.verifiedPairs(spark, dir).count(): Unit),
        "tfidf_sims" -> (() => TextAnalysis.tfidfSims(spark, dir).count(): Unit),
        "bpe_artifacts" -> (() => LanguageModel.bpeTrain(spark, dir).count(): Unit),
        "uni_forward" -> (() => LanguageModel.unigramPruneIter(spark, dir).count(): Unit),
        "gd_weights" -> (() => TextAnalysis.classifierTrainGd(spark, dir).count(): Unit),
        "kn_model" -> (() => LanguageModel.knBigramScore(spark, dir).count(): Unit),
        "semantic_labels" -> (() => Similarity.semanticClusters(spark, dir).count(): Unit),
        "graph_visited" -> (() => Similarity.graphSearchTopK(spark, dir).count(): Unit),
        "simhash_sigs" -> (() => Dedup.simhashSignatures(spark, dir).count(): Unit),
        "cdc_chunks" -> (() => Chunking.cdcSavings(spark, dir).count(): Unit),
        "order_brand_sets" -> (() => Extras.brandCopurchase(spark, dir).count(): Unit),
        "span_coverage" -> (() => Spans.dupSpanCoverage(spark, dir).count(): Unit),
        "raw_zone" -> (() => EndToEnd.stageRawZone(spark, dir): Unit))
      // pool width 6 — r13 measured 87 s serial → ~45 s at width 4;
      // the builders are mostly stage-latency-bound chains, so on ≥16
      // cores two more in-flight builders back-fill idle executors
      // (guide §2.6). r14 measured (this host, sf0.1): width 4 = 56 s,
      // width 6 = 45-47 s; the serial ~30-40 s training chains
      // (uni_forward, prefix_pairs, bpe) bound the tail, so width
      // beyond 6 can only shave the small-builder queue.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try {
        val futs = builders.map { case (name, build) =>
          scala.concurrent.Future {
            // Description is a thread-local on a REUSED pool thread:
            // clear it in finally or this builder's label leaks onto
            // whichever builder runs next on the thread (ADVICE r13).
            spark.sparkContext.setJobDescription(s"prep: $name")
            try build() finally spark.sparkContext.setJobDescription(null)
          }
        }
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(futs),
          scala.concurrent.duration.Duration(30, "min")): Unit
      } finally pool.shutdown()
    }

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, e) => n -> ((s: SparkSession, d: String) => e.get.build(s, d)) }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables, built once per query (see `Query`). */
  def oracleSql: Map[String, String] = registry.view.mapValues(_.get.oracle).toMap
}
