package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 (coverage checklist)
  * and §7 (build plan). Every entry in [[queries]] has an ANSI-SQL
  * oracle in [[oracleSql]] that DuckDB runs on the same parquet tables;
  * column names/arithmetic are mirrored exactly (SURVEY.md §6).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001 (driver smoke-checks
    * rows>0): the reference's signature flow — encode the corpus as
    * hashing-TF vectors and retrieve cosine top-k via an inverted-index
    * join (SURVEY.md §2, pipeline_hashing_search). */
  def entry(spark: SparkSession): DataFrame =
    Encoders.hashingSearch(spark, "/root/testdata/sf0.001")

  /** The declared queries whose contract is to write and read back
    * inside the call: each of their calls runs its operator. */
  val PerCall: Set[String] = Set("source_roundtrip_events_csv",
    "source_roundtrip_docs_jsonl", "source_roundtrip_docs_orc")

  /** One entry per implemented operator from SURVEY.md §2; every query
    * outside [[PerCall]] is served from its prepared plan. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.map { case (name, op) => name -> (if (PerCall(name)) op else prepared(name, op)) }

  /** `op` served from a prepared plan: the analyzed logical plan of the
    * frame `op` builds, memoized ([[Memo.Prepared]]) per application,
    * query, corpus directory, corpus [[Fingerprint]] and the session's
    * SQL conf (its explicit settings that differ from their registered
    * defaults, [[Bridge.nonDefaultConfs]]). Every call gets a new DataFrame over that plan, so a call
    * with an unchanged corpus skips operator construction, analysis and
    * the tables' source resolution, and its action still optimizes,
    * plans and runs every job. The corpus is listed once per call. */
  private def prepared(name: String,
                       op: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (spark, dir) => Bridge.ofRows(spark, Fingerprint.within(spark, dir) {
      Memo(spark, Memo.Prepared, dir, name, Bridge.nonDefaultConfs(spark))(
        op(spark, dir).queryExecution.analyzed)
    })

  private def operators: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Relational/analytics surface
    "q1_agg" -> ((s, d) => Relational.q1Agg(s, d)),
    "q3_join_agg" -> ((s, d) => Relational.q3JoinAgg(s, d)),
    "q_window_topn" -> ((s, d) => Relational.windowTopN(s, d)),
    "q_distinct_count" -> ((s, d) => Relational.distinctCounts(s, d)),
    "q_latest_by_key" -> ((s, d) => Relational.latestByKey(s, d)),
    "q_asof_join" -> ((s, d) => Relational.asofJoin(s, d)),
    "q_range_join" -> ((s, d) => Relational.rangeJoin(s, d)),
    "q_semi_anti_join" -> ((s, d) => Relational.semiAntiJoin(s, d)),
    "q_small_qty_revenue" -> ((s, d) => Relational.smallQtyRevenue(s, d)),
    "q_top_supplier" -> ((s, d) => Relational.topSupplier(s, d)),
    "pivot_daily" -> ((s, d) => Relational.pivotDaily(s, d)),
    // Events behavioral analytics
    "events_funnel" -> ((s, d) => EventsAnalytics.funnel(s, d)),
    "events_retention" -> ((s, d) => EventsAnalytics.retention(s, d)),
    "events_histogram" -> ((s, d) => EventsAnalytics.histogram(s, d)),
    "events_props_extract" -> ((s, d) => EventsAnalytics.propsExtract(s, d)),
    "events_anomaly" -> ((s, d) => EventsAnalytics.anomalies(s, d)),
    "events_moving_avg" -> ((s, d) => EventsAnalytics.movingAvg(s, d)),
    "events_session_stats" -> ((s, d) => EventsAnalytics.sessionStats(s, d)),
    "events_top_users" -> ((s, d) => EventsAnalytics.topUsers(s, d)),
    "events_active_users" -> ((s, d) => EventsAnalytics.activeUsers(s, d)),
    // Vector core
    "v_dot_product" -> ((s, d) => VectorCore.dotProduct(s, d)),
    "v_cosine_similarity" -> ((s, d) => VectorCore.cosineSim(s, d)),
    "v_l2_norm" -> ((s, d) => VectorCore.l2NormQ(s, d)),
    "v_l2_normalize" -> ((s, d) => VectorCore.l2NormalizeQ(s, d)),
    "v_euclidean_dist" -> ((s, d) => VectorCore.euclidDist(s, d)),
    "v_centroids" -> ((s, d) => VectorCore.centroids(s, d)),
    "v_quantize_int8" -> ((s, d) => VectorCore.quantizeInt8(s, d)),
    "v_gram_matrix" -> ((s, d) => VectorCore.gramMatrix(s, d)),
    // Search
    "knn_bruteforce" -> ((s, d) => Knn.bruteForce(s, d)),
    "knn_cosine_topk" -> ((s, d) => Knn.cosineTopK(s, d)),
    "knn_metadata_filter" -> ((s, d) => Knn.metadataFilter(s, d)),
    "knn_range_search" -> ((s, d) => Knn.rangeSearch(s, d)),
    "ann_lsh_hyperplane" -> ((s, d) => Ann.lshHyperplane(s, d)),
    "ann_ivf" -> ((s, d) => Ann.ivf(s, d)),
    "ann_ivf_indexed" -> ((s, d) => Ann.ivfViaIndex(s, d)),
    "ann_pq_encode" -> ((s, d) => Ann.pqEncode(s, d)),
    "ann_pq_search" -> ((s, d) => Ann.pqSearch(s, d)),
    "ann_pq_indexed" -> ((s, d) => Ann.pqViaIndex(s, d)),
    "ann_lsh_filtered" -> ((s, d) => Ann.lshFiltered(s, d)),
    "ann_ivf_filtered" -> ((s, d) => Ann.ivfFiltered(s, d)),
    "ann_ivf_pq" -> ((s, d) => Ann.ivfPq(s, d)),
    "ann_ivf_pq_indexed" -> ((s, d) => Ann.ivfPqViaIndex(s, d)),
    "ann_sq8_search" -> ((s, d) => Ann.sq8Search(s, d)),
    "ann_sq8_indexed" -> ((s, d) => Ann.sq8ViaIndex(s, d)),
    // √N-centroid IVF (Lloyd-trained nlist ≈ √N, nprobe ≈ √nlist) —
    // the deployment sizing rule as a runnable query, in its SERVING
    // split: memoized trained-layout build, stored-grid AutoProbe
    // search (bit-identical to the in-plan Ann.ivfSqrtN, spec'd). The
    // fit is iterative, so no SQL oracle (rows-only driver check);
    // Round13Spec pins determinism/shape/recall/equality.
    "ann_ivf_sqrtn" -> ((s, d) => Ann.ivfSqrtNViaIndex(s, d)),
    // NN-Descent graph ANN: iterative build — not SQL-expressible, so
    // no oracleSql entry; the driver records the weaker rows-only
    // check (per the contract) and KnnGraphSpec carries the recall/
    // determinism assertions.
    "ann_graph_search" -> ((s, d) => KnnGraph.searchOrdered(s, d)),
    // measured beam-search recall vs the exact cosine top-k (rows-only
    // for the same reason; the analog of eval_ann_recall_{lsh,ivf,pq})
    "eval_ann_recall_graph" -> ((s, d) => KnnGraph.searchRecall(s, d)),
    // Retrieval evaluation
    "eval_precision_at_k" -> ((s, d) => Eval.precisionAtK(s, d)),
    "eval_recall_at_k" -> ((s, d) => Eval.recallAtK(s, d)),
    "eval_map" -> ((s, d) => Eval.meanAveragePrecision(s, d)),
    "eval_ann_recall_lsh" -> ((s, d) => Eval.annRecallLsh(s, d)),
    "eval_ann_recall_ivf" -> ((s, d) => Eval.annRecallIvf(s, d)),
    "eval_ann_recall_pq" -> ((s, d) => Eval.annRecallPq(s, d)),
    "eval_ann_recall_opq" -> ((s, d) => Eval.annRecallOpq(s, d)),
    "ann_pq_trained" -> ((s, d) => Ann.pqSearchTrained(s, d)),
    "eval_ann_recall_pq_trained" -> ((s, d) => Eval.annRecallPqTrained(s, d)),
    "eval_ann_recall_opq_trained" -> ((s, d) => Eval.annRecallOpqTrained(s, d)),
    "eval_ann_recall_opq_refined" -> ((s, d) => Eval.annRecallOpqRefined(s, d)),
    "eval_ann_recall_sq8" -> ((s, d) => Eval.annRecallSq8(s, d)),
    "eval_ann_recall_sweep" -> ((s, d) => Eval.annRecallIvfSweep(s, d)),
    "eval_ndcg_at_k" -> ((s, d) => Eval.ndcgAtK(s, d)),
    "eval_mrr" -> ((s, d) => Eval.mrr(s, d)),
    // Encoders
    "enc_hashing_tf" -> ((s, d) => Encoders.hashingTf(s, d)),
    "enc_tfidf" -> ((s, d) => Encoders.tfIdf(s, d)),
    "enc_mean_pooling" -> ((s, d) => Encoders.meanPooling(s, d)),
    "pipeline_hashing_search" -> ((s, d) => Encoders.hashingSearch(s, d)),
    "pipeline_indexed_search" -> ((s, d) => Encoders.hashingSearchViaIndex(s, d)),
    "pipeline_indexed_dense" -> ((s, d) => Encoders.hashingSearchDenseViaIndex(s, d)),
    "pipeline_experiment_summary" -> ((s, d) => Experiment.summary(s, d)),
    "pipeline_experiment_matrix" -> ((s, d) => Experiment.matrix(s, d)),
    "pipeline_experiment_sizes" -> ((s, d) => Experiment.sizes(s, d)),
    "pipeline_tfidf_search" -> ((s, d) => Encoders.tfIdfSearch(s, d)),
    "pipeline_tfidf_indexed" -> ((s, d) => Encoders.tfIdfSearchViaIndex(s, d)),
    "text_bm25_topk" -> ((s, d) => Encoders.bm25TopK(s, d)),
    "pipeline_hybrid_search" -> ((s, d) => Encoders.hybridSearch(s, d)),
    "pipeline_hybrid_alpha" -> ((s, d) => Encoders.hybridAlphaSearch(s, d)),
    // Report/analysis layer over the experiment grids
    "report_model_by_size" -> ((s, d) => Report.modelBySize(s, d)),
    "report_mode_lift" -> ((s, d) => Report.modeLift(s, d)),
    "report_filter_funnel" -> ((s, d) => Report.filterFunnel(s, d)),
    // Sliding-window chunking + chunk-level passage retrieval
    "text_chunk_sliding" -> ((s, d) => Chunking.chunkSliding(s, d)),
    "pipeline_chunk_search" -> ((s, d) => Chunking.chunkSearch(s, d)),
    "pipeline_chunk_indexed" -> ((s, d) => Chunking.chunkSearchViaIndex(s, d)),
    "dedup_chunk_boilerplate" -> ((s, d) => Chunking.chunkDedup(s, d)),
    // Deduplication
    "dedup_exact" -> ((s, d) => Dedup.exact(s, d)),
    "dedup_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(s, d)),
    "dedup_minhash_lsh" -> ((s, d) => Dedup.minhashLsh(s, d)),
    "dedup_simhash" -> ((s, d) => Dedup.simhash(s, d)),
    "dedup_simhash_pairs" -> ((s, d) => Dedup.simhashPairs(s, d)),
    "dedup_embedding_cosine" -> ((s, d) => Dedup.embeddingCosine(s, d)),
    "dedup_embedding_lsh" -> ((s, d) => Dedup.embeddingLsh(s, d)),
    "dedup_cross_corpus" -> ((s, d) => Dedup.crossCorpus(s, d)),
    "dedup_source_matrix" -> ((s, d) => Dedup.sourceMatrix(s, d)),
    "dedup_cluster_labels" -> ((s, d) => Dedup.clusterLabels(s, d)),
    "dedup_incremental" -> ((s, d) => Dedup.incremental(s, d)),
    "dedup_span_coverage" -> ((s, d) => Dedup.spanCoverage(s, d)),
    "text_dedup_span_scrub" -> ((s, d) => Dedup.spanScrub(s, d)),
    "dedup_span_incremental" -> ((s, d) => Dedup.spanIncremental(s, d)),
    // SemDeDup over the NN-Descent graph: iterative build, so no SQL
    // oracle (rows-only driver check); KnnGraphSpec pins precision/
    // recall against the exact above-threshold pair set
    "dedup_semantic_graph" -> ((s, d) => Dedup.semanticGraph(s, d)),
    // Text analysis
    "text_token_count" -> ((s, d) => TextAnalysis.tokenCount(s, d)),
    "text_tokenizer_stats" -> ((s, d) => TextAnalysis.tokenizerStats(s, d)),
    "text_lang_id" -> ((s, d) => TextAnalysis.langId(s, d)),
    "text_quality_score" -> ((s, d) => TextAnalysis.qualityScore(s, d)),
    "text_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(s, d)),
    "text_normalize" -> ((s, d) => TextAnalysis.normalize(s, d)),
    "text_ngram_freq" -> ((s, d) => TextAnalysis.ngramFreq(s, d)),
    "text_pii_scrub" -> ((s, d) => TextAnalysis.piiScrub(s, d)),
    "text_vocab_coverage" -> ((s, d) => TextAnalysis.vocabCoverage(s, d)),
    "text_repetition" -> ((s, d) => TextAnalysis.repetitionStats(s, d)),
    "eval_lang_confusion" -> ((s, d) => TextAnalysis.langConfusion(s, d)),
    "text_entropy" -> ((s, d) => TextAnalysis.entropy(s, d)),
    "text_keyword_extract" -> ((s, d) => Encoders.keywordExtract(s, d)),
    "text_bigram_lm" -> ((s, d) => TextAnalysis.bigramLmScore(s, d)),
    // Corpus shaping
    "sample_stratified" -> ((s, d) => Shaping.stratifiedSample(s, d)),
    "sample_importance" -> ((s, d) => Shaping.importanceSample(s, d)),
    "shard_assignment" -> ((s, d) => Shaping.shardAssignment(s, d)),
    "corpus_mixture_weights" -> ((s, d) => Shaping.mixtureWeights(s, d)),
    "corpus_quality_calibration" -> ((s, d) => Shaping.qualityCalibration(s, d)),
    "corpus_query_gen" -> ((s, d) => Shaping.queryGen(s, d)),
    // the four text queries score the SAME generated query set — each
    // rides the session-memoized std arm (bit-equal to the direct
    // generic calls, Round13Spec)
    "pipeline_text_query_search" -> ((s, d) => Encoders.hashingTextStd(s, d)),
    "pipeline_tfidf_text_search" -> ((s, d) => Encoders.tfIdfTextStd(s, d)),
    "pipeline_bm25_text_search" -> ((s, d) => Encoders.bm25TextStd(s, d)),
    "pipeline_hybrid_text_search" -> ((s, d) => Encoders.hybridTextStd(s, d)),
    "sample_reservoir" -> ((s, d) => Shaping.reservoirSample(s, d)),
    "pack_sequences" -> ((s, d) => Shaping.packSequences(s, d)),
    "pipeline_quality_filter" -> ((s, d) => Shaping.qualityFilterPipeline(s, d)),
    "corpus_source_stats" -> ((s, d) => Shaping.sourceStats(s, d)),
    "audit_corpus_integrity" -> ((s, d) => Shaping.corpusIntegrity(s, d)),
    // Perf/ops analytics
    "latency_percentiles" -> ((s, d) => PerfStats.latencyPercentiles(s, d)),
    "ingest_throughput" -> ((s, d) => PerfStats.ingestThroughput(s, d)),
    "index_drift_stats" -> ((s, d) => Drift.indexDriftStats(s, d)),
    "index_refit_advice" -> ((s, d) => Drift.refitAdvice(s, d)),
    "run_summary_groupby" -> ((s, d) => PerfStats.runSummary(s, d)),
    "run_summary_rollup" -> ((s, d) => PerfStats.runSummaryRollup(s, d)),
    "stats_paired_tests" -> ((s, d) => PerfStats.pairedTests(s, d)),
    "events_salted_sum" -> ((s, d) => PerfStats.saltedSum(s, d)),
    "events_salted_join" -> ((s, d) => PerfStats.saltedJoinStats(s, d)),
    // Multimodal plumbing
    "mm_binary_meta" -> ((s, d) => Multimodal.binaryMeta(s, d)),
    "mm_frame_features" -> ((s, d) => Multimodal.frameFeaturesQ(s, d)),
    "mm_embed_search" -> ((s, d) => Multimodal.embedSearch(s, d)),
    "mm_modality_route" -> ((s, d) => Multimodal.modalityRoute(s, d)),
    // Windowed event analytics
    "stream_windowed_agg" -> ((s, d) => EventsAnalytics.windowedAgg(s, d)),
    "stream_sliding_agg" -> ((s, d) => EventsAnalytics.slidingAgg(s, d)),
    "stream_sessionize" -> ((s, d) => EventsAnalytics.sessionize(s, d)),
    "stream_topk_trending" -> ((s, d) => EventsAnalytics.trendingTopK(s, d)),
    "stream_histogram" -> ((s, d) => EventsAnalytics.windowedHistogram(s, d)),
    // Source round-trips (CSV / JSONL wired through verified plans)
    "source_roundtrip_events_csv" -> ((s, d) => graft.sources.Sources.roundTripEventsCsv(s, d)),
    "source_roundtrip_docs_jsonl" -> ((s, d) => graft.sources.Sources.roundTripDocsJsonl(s, d)),
    "source_roundtrip_docs_orc" -> ((s, d) => graft.sources.Sources.roundTripDocsOrc(s, d)),
  )

  /** DuckDB oracle SQL per query key (same column names, same math). */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" -> Relational.SqlOracle.q1Agg,
    "q3_join_agg" -> Relational.SqlOracle.q3JoinAgg,
    "q_window_topn" -> Relational.SqlOracle.windowTopN,
    "q_distinct_count" -> Relational.SqlOracle.distinctCounts,
    "q_latest_by_key" -> Relational.SqlOracle.latestByKey,
    "q_asof_join" -> Relational.SqlOracle.asofJoin(),
    "q_range_join" -> Relational.SqlOracle.rangeJoin(),
    "q_semi_anti_join" -> Relational.SqlOracle.semiAntiJoin,
    "q_small_qty_revenue" -> Relational.SqlOracle.smallQtyRevenue,
    "q_top_supplier" -> Relational.SqlOracle.topSupplier,
    "pivot_daily" -> Relational.SqlOracle.pivotDaily,
    "events_funnel" -> EventsAnalytics.SqlOracle.funnel,
    "events_retention" -> EventsAnalytics.SqlOracle.retention,
    "events_histogram" -> EventsAnalytics.SqlOracle.histogram,
    "events_props_extract" -> EventsAnalytics.SqlOracle.propsExtract,
    "events_anomaly" -> EventsAnalytics.SqlOracle.anomalies(),
    "events_moving_avg" -> EventsAnalytics.SqlOracle.movingAvg(),
    "events_session_stats" -> EventsAnalytics.SqlOracle.sessionStats,
    "events_top_users" -> EventsAnalytics.SqlOracle.topUsers(),
    "events_active_users" -> EventsAnalytics.SqlOracle.activeUsers,
    "v_dot_product" -> VectorCore.SqlOracle.dotProduct,
    "v_cosine_similarity" -> VectorCore.SqlOracle.cosineSim,
    "v_l2_norm" -> VectorCore.SqlOracle.l2Norm,
    "v_l2_normalize" -> VectorCore.SqlOracle.l2Normalize,
    "v_euclidean_dist" -> VectorCore.SqlOracle.euclidDist,
    "v_centroids" -> VectorCore.SqlOracle.centroids,
    "v_quantize_int8" -> VectorCore.SqlOracle.quantizeInt8,
    "v_gram_matrix" -> VectorCore.SqlOracle.gramMatrix,
    "knn_bruteforce" -> Knn.SqlOracle.bruteForce,
    "knn_cosine_topk" -> Knn.SqlOracle.cosineTopK,
    "knn_metadata_filter" -> Knn.SqlOracle.metadataFilter,
    "knn_range_search" -> Knn.SqlOracle.rangeSearch(),
    "ann_lsh_hyperplane" -> Ann.SqlOracle.lshHyperplane,
    "ann_ivf" -> Ann.SqlOracle.ivf,
    // the DPP-pruned stored layout returns ivf's exact results
    // (same centroids, same candidate lists) — shared oracle
    "ann_ivf_indexed" -> Ann.SqlOracle.ivf,
    "ann_pq_encode" -> Ann.SqlOracle.pqEncode,
    "ann_pq_search" -> Ann.SqlOracle.pqSearch,
    // the persisted-layout form shares the in-plan oracle (same fit,
    // same codes — bit-identical by construction, spec'd)
    "ann_pq_indexed" -> Ann.SqlOracle.pqSearch,
    "ann_lsh_filtered" -> Ann.SqlOracle.lshFiltered,
    "ann_ivf_filtered" -> Ann.SqlOracle.ivfFiltered,
    "eval_precision_at_k" -> Eval.SqlOracle.precisionAtK,
    "eval_recall_at_k" -> Eval.SqlOracle.recallAtK,
    "eval_map" -> Eval.SqlOracle.meanAveragePrecision,
    "eval_ann_recall_lsh" -> Eval.SqlOracle.annRecall(Ann.SqlOracle.lshHyperplane),
    "eval_ann_recall_ivf" -> Eval.SqlOracle.annRecall(Ann.SqlOracle.ivf),
    "eval_ann_recall_pq" -> Eval.SqlOracle.annRecall(Ann.SqlOracle.pqSearch),
    "eval_ann_recall_sq8" -> Eval.SqlOracle.annRecall(Ann.SqlOracle.sq8Search),
    "eval_ann_recall_sweep" -> Eval.SqlOracle.annRecallIvfSweep(),
    "eval_ndcg_at_k" -> Eval.SqlOracle.ndcgAtK,
    "eval_mrr" -> Eval.SqlOracle.mrr,
    "ann_ivf_pq" -> Ann.SqlOracle.ivfPq,
    // the persisted composed layout is bit-identical to the in-plan
    // form (same frozen fits, same candidates, same fixed-point ADC)
    "ann_ivf_pq_indexed" -> Ann.SqlOracle.ivfPq,
    "ann_sq8_search" -> Ann.SqlOracle.sq8Search,
    // indexed SQ8 is bit-identical to the in-plan search (same fit,
    // same codes, same fixed-point ADC) — shared oracle
    "ann_sq8_indexed" -> Ann.SqlOracle.sq8Search,
    "enc_hashing_tf" -> Encoders.SqlOracle.hashingTf(),
    "enc_tfidf" -> Encoders.SqlOracle.tfIdf(),
    "enc_mean_pooling" -> Encoders.SqlOracle.meanPooling,
    "pipeline_hashing_search" -> Encoders.SqlOracle.hashingSearch(),
    // the indexed path is bit-identical to the in-plan search by
    // construction (same integer counts/norms), so it shares its oracle
    "pipeline_indexed_search" -> Encoders.SqlOracle.hashingSearch(),
    // the dense join-free serving scan is bit-identical too: same
    // integer inner product (order-free), same candidate set (ip > 0
    // iff the pair shares a bucket), same IEEE division
    "pipeline_indexed_dense" -> Encoders.SqlOracle.hashingSearch(),
    "pipeline_experiment_summary" -> Experiment.SqlOracle.summary(),
    "pipeline_experiment_matrix" -> Experiment.SqlOracle.matrix(),
    "pipeline_experiment_sizes" -> Experiment.SqlOracle.sizes(),
    "pipeline_tfidf_search" -> Encoders.SqlOracle.tfIdfSearch(),
    // indexed TF-IDF is bit-identical to the in-plan search (stored
    // doubles round-trip exactly; fixed-point scoring) — shared oracle
    "pipeline_tfidf_indexed" -> Encoders.SqlOracle.tfIdfSearch(),
    "text_bm25_topk" -> Encoders.SqlOracle.bm25TopK(),
    "pipeline_hybrid_search" -> Encoders.SqlOracle.hybridSearch(),
    "pipeline_hybrid_alpha" -> Encoders.SqlOracle.hybridAlphaSearch(),
    "report_model_by_size" -> Report.SqlOracle.modelBySize,
    "report_mode_lift" -> Report.SqlOracle.modeLift(),
    "report_filter_funnel" -> Report.SqlOracle.filterFunnel(),
    "text_chunk_sliding" -> Chunking.SqlOracle.chunkSliding(),
    "pipeline_chunk_search" -> Chunking.SqlOracle.chunkSearch(),
    // indexed chunk retrieval is bit-identical to the in-plan search
    // (exact integer counts/norms in both layouts) — shared oracle
    "pipeline_chunk_indexed" -> Chunking.SqlOracle.chunkSearch(),
    "dedup_chunk_boilerplate" -> Chunking.SqlOracle.chunkDedup(),
    "dedup_exact" -> Dedup.SqlOracle.exact,
    "dedup_ngram_jaccard" -> Dedup.SqlOracle.ngramJaccard(),
    "dedup_minhash_lsh" -> Dedup.SqlOracle.minhashLsh(),
    "dedup_simhash" -> Dedup.SqlOracle.simhash,
    "dedup_simhash_pairs" -> Dedup.SqlOracle.simhashPairs(),
    "dedup_embedding_cosine" -> Dedup.SqlOracle.embeddingCosine(),
    "dedup_embedding_lsh" -> Dedup.SqlOracle.embeddingLsh(),
    "dedup_cross_corpus" -> Dedup.SqlOracle.crossCorpus(),
    "dedup_source_matrix" -> Dedup.SqlOracle.sourceMatrix(),
    "dedup_cluster_labels" -> Dedup.SqlOracle.clusterLabels(),
    "dedup_incremental" -> Dedup.SqlOracle.incremental,
    "dedup_span_coverage" -> Dedup.SqlOracle.spanCoverage(),
    "text_dedup_span_scrub" -> Dedup.SqlOracle.spanScrub(),
    "dedup_span_incremental" -> Dedup.SqlOracle.spanIncremental(),
    "text_token_count" -> TextAnalysis.SqlOracle.tokenCount,
    "text_tokenizer_stats" -> TextAnalysis.SqlOracle.tokenizerStats,
    "text_lang_id" -> TextAnalysis.SqlOracle.langId,
    "text_quality_score" -> TextAnalysis.SqlOracle.qualityScore,
    "text_fingerprint" -> TextAnalysis.SqlOracle.fingerprint,
    "text_normalize" -> TextAnalysis.SqlOracle.normalize,
    "text_ngram_freq" -> TextAnalysis.SqlOracle.ngramFreq(),
    "text_pii_scrub" -> TextAnalysis.SqlOracle.piiScrub,
    "text_vocab_coverage" -> TextAnalysis.SqlOracle.vocabCoverage(),
    "text_repetition" -> TextAnalysis.SqlOracle.repetitionStats,
    "eval_lang_confusion" -> TextAnalysis.SqlOracle.langConfusion,
    "text_entropy" -> TextAnalysis.SqlOracle.entropy,
    "text_keyword_extract" -> Encoders.SqlOracle.keywordExtract(),
    "text_bigram_lm" -> TextAnalysis.SqlOracle.bigramLmScore(),
    "sample_stratified" -> Shaping.SqlOracle.stratifiedSample,
    "sample_importance" -> Shaping.SqlOracle.importanceSample,
    "shard_assignment" -> Shaping.SqlOracle.shardAssignment(),
    "corpus_mixture_weights" -> Shaping.SqlOracle.mixtureWeights,
    "corpus_quality_calibration" -> Shaping.SqlOracle.qualityCalibration,
    "corpus_query_gen" -> Shaping.SqlOracle.queryGen(),
    "pipeline_text_query_search" -> Encoders.SqlOracle.textQuerySearch(),
    "pipeline_tfidf_text_search" -> Encoders.SqlOracle.tfIdfTextSearch(),
    "pipeline_bm25_text_search" -> Encoders.SqlOracle.bm25TextTopK(),
    "pipeline_hybrid_text_search" -> Encoders.SqlOracle.hybridTextSearch(),
    "sample_reservoir" -> Shaping.SqlOracle.reservoirSample(),
    "pack_sequences" -> Shaping.SqlOracle.packSequences,
    "pipeline_quality_filter" -> Shaping.SqlOracle.qualityFilterPipeline(),
    "corpus_source_stats" -> Shaping.SqlOracle.sourceStats,
    "audit_corpus_integrity" -> Shaping.SqlOracle.corpusIntegrity,
    "latency_percentiles" -> PerfStats.SqlOracle.latencyPercentiles,
    "ingest_throughput" -> PerfStats.SqlOracle.ingestThroughput,
    "index_drift_stats" -> Drift.SqlOracle.indexDriftStats(),
    "index_refit_advice" -> Drift.SqlOracle.refitAdvice(),
    "run_summary_groupby" -> PerfStats.SqlOracle.runSummary,
    "run_summary_rollup" -> PerfStats.SqlOracle.runSummaryRollup,
    "stats_paired_tests" -> PerfStats.SqlOracle.pairedTests(),
    "events_salted_sum" -> PerfStats.SqlOracle.saltedSum,
    "events_salted_join" -> PerfStats.SqlOracle.saltedJoinStats,
    "mm_binary_meta" -> Multimodal.SqlOracle.binaryMeta,
    "mm_frame_features" -> Multimodal.SqlOracle.frameFeatures,
    "mm_embed_search" -> Multimodal.SqlOracle.embedSearch,
    "mm_modality_route" -> Multimodal.SqlOracle.modalityRoute,
    "stream_windowed_agg" -> EventsAnalytics.SqlOracle.windowedAgg,
    "stream_sliding_agg" -> EventsAnalytics.SqlOracle.slidingAgg,
    "stream_sessionize" -> EventsAnalytics.SqlOracle.sessionize,
    "stream_topk_trending" -> EventsAnalytics.SqlOracle.trendingTopK,
    "stream_histogram" -> EventsAnalytics.SqlOracle.windowedHistogram,
    "source_roundtrip_events_csv" -> graft.sources.Sources.SqlOracle.roundTripEventsCsv,
    "source_roundtrip_docs_jsonl" -> graft.sources.Sources.SqlOracle.roundTripDocsJsonl,
    "source_roundtrip_docs_orc" -> graft.sources.Sources.SqlOracle.roundTripDocsOrc,
  )
}
