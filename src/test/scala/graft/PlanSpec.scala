package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.operators._

/** Physical-plan audits: the properties that make these operators hold
  * up at 100 TB are asserted, not assumed (SURVEY.md §5).
  */
class PlanSpec extends AnyFunSuite with Matchers with SharedSpark {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  // ---------- the ordering contract of every declared query ----------
  // A result pays for order only where its contract needs it. The
  // reference returns ranked top-k lists and scores them as sets.
  //  - ranked: top-k lists, rank columns, orderBy(...).limit(n) —
  //    ordered;
  //  - series: rows along a time or batch axis — ordered;
  //  - set: per-row projections, per-key aggregates, pair lists and
  //    samples — no order: no top-level sort, and the oracle has no
  //    top-level ORDER BY, so crosscheck compares it as a multiset.
  // A ranked result bounded by construction (a top-k tail, at most
  // k rows per key) is sorted in the top-k stage's one task
  // (`Knn.ranked`) and plans no range-partitioning exchange.

  private val ranked: Set[String] = Set(
    "knn_bruteforce", "knn_cosine_topk", "knn_metadata_filter",
    "ann_lsh_hyperplane", "ann_lsh_filtered", "ann_ivf", "ann_ivf_filtered",
    "ann_ivf_indexed", "ann_ivf_sqrtn", "ann_ivf_pq", "ann_ivf_pq_indexed",
    "ann_pq_search", "ann_pq_indexed", "ann_pq_trained", "ann_sq8_search",
    "ann_sq8_indexed", "ann_graph_search", "mm_embed_search",
    "pipeline_hashing_search", "pipeline_indexed_search", "pipeline_indexed_dense",
    "pipeline_tfidf_search", "pipeline_tfidf_indexed", "pipeline_chunk_search",
    "pipeline_chunk_indexed", "pipeline_hybrid_search", "pipeline_hybrid_alpha",
    "pipeline_text_query_search", "pipeline_tfidf_text_search",
    "pipeline_bm25_text_search", "pipeline_hybrid_text_search", "text_bm25_topk",
    "sample_reservoir", "events_top_users", "q3_join_agg", "text_ngram_freq",
    "q_window_topn", "text_keyword_extract", "report_model_by_size",
    "corpus_query_gen", "stream_topk_trending")

  private val series: Set[String] = Set(
    "events_retention", "events_active_users", "pivot_daily", "ingest_throughput",
    "stream_windowed_agg", "stream_sliding_agg", "stream_histogram")

  /** The ordered results that keep Spark's range sort, each with the
    * reason it is not a bounded top-k tail. */
  private val rangeSorted: Map[String, String] = Map(
    "q_window_topn" -> "ranked per customer: customers x 3 rows, corpus-sized",
    "text_keyword_extract" -> "ranked per document: documents x k rows, corpus-sized",
    "stream_topk_trending" -> "ranked per window: windows x k rows, grows with the log's span",
    "events_retention" -> "series over cohort days, grows with the log's span",
    "events_active_users" -> "series over days, grows with the log's span",
    "pivot_daily" -> "series over days, grows with the log's span",
    "ingest_throughput" -> "series over batches of 256 events, corpus-sized",
    "stream_windowed_agg" -> "series over windows, grows with the log's span",
    "stream_sliding_agg" -> "series over windows, grows with the log's span",
    "stream_histogram" -> "series over windows, grows with the log's span")

  /** The executed plan of `df` under a `noop` write, the action that
    * materializes every row and column. */
  private def executedUnderNoop(df: DataFrame): SparkPlan = {
    val done = scala.concurrent.Promise[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.isInstanceOf[V2WriteCommand]) done.trySuccess(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        if (qe.analyzed.isInstanceOf[V2WriteCommand]) done.tryFailure(exception)
    }
    spark.listenerManager.register(listener)
    try {
      df.write.format("noop").mode("overwrite").save()
      scala.concurrent.Await.result(done.future, scala.concurrent.duration.Duration(60, "s"))
    } finally spark.listenerManager.unregister(listener)
  }

  /** The plan's output comes out of a global sort: below the write,
    * only order-preserving wrappers and projections sit over it. */
  private def topLevelSort(p: SparkPlan): Boolean = p match {
    case s: SortExec => s.global
    case a: AdaptiveSparkPlanExec => topLevelSort(a.executedPlan)
    case q: QueryStageExec => topLevelSort(q.plan)
    case _ if p.children.size == 1 && Set("WholeStageCodegen", "InputAdapter", "Project",
        "ColumnarToRow", "OverwriteByExpression", "AppendData").exists(p.nodeName.startsWith) =>
      topLevelSort(p.children.head)
    case _ => false
  }

  test("ordering contract: every declared query is ranked, series or set, in its cheapest plan") {
    val all = SparkEntry.queries.keySet
    (ranked ++ series) -- all shouldBe empty
    ranked intersect series shouldBe empty
    rangeSorted.keySet -- (ranked ++ series) shouldBe empty
    val sets = all -- ranked -- series
    val faults = all.toSeq.sorted.flatMap { name =>
      val p = executedUnderNoop(SparkEntry.queries(name)(spark, sfDir))
      val range = p.toString.contains("rangepartitioning")
      if (sets(name) && (range || topLevelSort(p)))
        Some(s"$name: a set result that sorts (range exchange=$range)")
      else if (!sets(name) && !rangeSorted.contains(name) && range)
        Some(s"$name: a bounded ranked result that range-sorts")
      else if (rangeSorted.contains(name) && !range)
        Some(s"$name: listed as range-sorted but plans no range exchange")
      else None
    }
    faults shouldBe empty
  }

  test("fused experiment grids scan the corpus far fewer times than their unioned forms") {
    // r12 fusions: a regression back to one-corpus-pass-per-leg would
    // multiply scan counts; results stay bit-identical (Round5Spec),
    // so the SHAPE is what needs its own pin
    def scans(df: DataFrame): Int =
      "FileScan".r.findAllIn(plan(df)).size
    scans(Experiment.sizes(spark, sfDir)) should be <
      scans(Experiment.sizesUnioned(spark, sfDir)) / 2
    scans(Experiment.matrix(spark, sfDir)) should be <
      scans(Experiment.matrixUnioned(spark, sfDir))
    scans(Eval.annRecallIvfSweep(spark, sfDir)) should be <
      scans(Eval.annRecallIvfSweepUnioned(spark, sfDir)) / 2
  }

  test("q1_agg: filter pushed to the parquet scan, unused columns pruned") {
    val p = plan(Relational.q1Agg(spark, sfDir))
    p should include("PushedFilters")
    p should include("GreaterThan(l_quantity")
    // scan must not read columns the query never touches
    p should not include "l_shipdate"
    p should not include "l_partkey"
  }

  test("q3_join_agg: dimension joins broadcast (no shuffle join)") {
    val p = plan(Relational.q3JoinAgg(spark, sfDir))
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
  }

  test("knn: query side broadcast, topk via partial aggregation (no window sort)") {
    val p = plan(Knn.bruteForce(spark, sfDir))
    p should include("BroadcastNestedLoopJoin")
    (p.toLowerCase should include("topkbyscore"))
    // partial aggregation: the aggregate appears in a partial mode
    p.toLowerCase should include("partial_topkbyscore")
    p should not include "Window"
  }

  test("hashingTf: two shuffles only (groupBy + window), codegen covers the map side") {
    val df = Encoders.hashingTf(spark, sfDir)
    df.collect() // finalize the adaptive plan so codegen stages appear
    // AQE prints "final plan == Initial Plan ==" sections; audit the final
    val p = plan(df).split("== Initial Plan ==").head
    p should include("*(") // whole-stage-codegen stage markers
    // the groupBy(doc,bucket) exchange and the window-by-doc
    // exchange; a set result has no presentation sort
    "Exchange".r.findAllIn(p).size should be <= 3
  }

  test("metadata filter is applied before scoring (pushed below the join)") {
    val p = plan(Knn.metadataFilter(spark, sfDir))
    // the label/id predicate must sit under the scan, not above the join
    p should include("PushedFilters")
    p should include("In(label")
  }

  test("ivf: in-row assignment and probes, no cross join, no window") {
    val p = plan(Ann.ivf(spark, sfDir))
    p should not include "Window"
    // no docs × centroids product and no per-doc argmin aggregate:
    // the only aggregate left is the re-rank's top-k
    p should not include "BroadcastNestedLoopJoin"
    p.toLowerCase should not include "min_by"
    p.toLowerCase should include("codebook_assign")
    p.toLowerCase should include("partial_topkbyscore")
  }

  test("pq encode: in-row codes, one scan, no shuffle, no window") {
    val p = plan(Ann.pqEncode(spark, sfDir))
    p should not include "Window"
    p.toLowerCase should not include "min_by"
    p.toLowerCase should include("codebook_assign")
    // the codebook is pinned on the driver: the plan scans the data
    // once and shuffles nothing
    "FileScan".r.findAllIn(p).size shouldBe 1
    "Exchange".r.findAllIn(p).size shouldBe 0
  }

  test("IVF/PQ/OPQ queries: no nested-loop join, no assignment aggregate") {
    val names = SparkEntry.queries.keySet.filter(n =>
      n.startsWith("ann_ivf") || n.startsWith("ann_pq") ||
        n.contains("opq") || n == "eval_ann_recall_ivf" || n == "eval_ann_recall_sweep")
    names should contain allOf ("ann_ivf", "ann_ivf_indexed", "ann_ivf_pq_indexed",
      "ann_pq_trained", "eval_ann_recall_opq_refined", "eval_ann_recall_sweep")
    val faults = names.toSeq.sorted.flatMap { name =>
      val p = executedUnderNoop(SparkEntry.queries(name)(spark, sfDir)).toString
      Seq("BroadcastNestedLoopJoin", "min_by").filter(p.contains)
        .map(what => s"$name: $what")
    }
    faults shouldBe empty
  }

  test("pq search: ADC scores partial-aggregate map-side, no per-pair collect_list") {
    val p = plan(Ann.pqSearch(spark, sfDir))
    p.toLowerCase should include("partial_sum")
    p should not include "collect_list"
    p should not include "Window"
  }

  test("latest-by-key compaction: partial max_by, no window sort of the log") {
    val p = plan(Relational.latestByKey(spark, sfDir))
    p should not include "Window"
    p.toLowerCase should include("partial_max_by")
  }

  test("filtered ANN: metadata predicate pushed into the doc-side scan") {
    val p = plan(Ann.lshFiltered(spark, sfDir))
    p should include("PushedFilters")
    p should include("In(label")
    p should not include "Window"
  }

  test("minhash LSH: no cartesian product anywhere") {
    val p = plan(Dedup.minhashLsh(spark, sfDir))
    p should not include "CartesianProduct"
  }

  test("embedding LSH dedup: no cartesian product, single signature pass") {
    val p = plan(Dedup.embeddingLsh(spark, sfDir))
    p should not include "CartesianProduct"
    p should not include "Window"
  }

  test("block self-joins reuse one exchange: the expensive input computes once") {
    // the alias self-join makes both join sides the same canonical
    // subplan; once the join is a shuffle join (as it is at scale — at
    // test size AQE broadcasts instead, so force it), the adaptive plan
    // must contain a ReusedExchange — i.e. shingling/fingerprinting ran
    // once, not once per side
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for (df <- Seq(Dedup.simhashPairs(spark, sfDir),
          Dedup.ngramJaccard(spark, sfDir))) {
        df.collect()
        val p = plan(df)
        p should include("ReusedExchange")
        p should not include "CartesianProduct"
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("normalization runs as the codegen'd byte loop, not regex") {
    // the two java.util.regex passes were the entire cost of the
    // quality-filter family at 500k docs (22.26s -> 1.15s, SURVEY §5);
    // keep them from creeping back into any normalized-text plan
    for (df <- Seq(Shaping.qualityFilterPipeline(spark, sfDir),
        Shaping.sourceStats(spark, sfDir),
        TextAnalysis.normalize(spark, sfDir))) {
      val p = plan(df)
      p.toLowerCase should not include "regexp_replace"
      p.toLowerCase should include("normalizeascii")
    }
  }

  test("stratified sample: pure scan-side filter, no exchange at all") {
    val p = plan(Shaping.stratifiedSample(spark, sfDir))
    // the quota filter is per-row arithmetic and a sample is a set:
    // nothing shuffles
    "Exchange".r.findAllIn(p).size shouldBe 0
    p should not include "Window"
  }

  test("sequence packing: the only window is shard-partitioned") {
    val df = Shaping.packSequences(spark, sfDir)
    val p = plan(df)
    p should include("Window")
    // the window must be keyed by shard — never an unpartitioned sort
    p should include("windowspecdefinition(shard")
    df.count() should be > 0L
  }

  test("partitioned IVF index: probes prune partitions dynamically, results equal ivf") {
    val tmp = tempDir("graft-ivfidx")
    Ann.writeIvfIndex(spark, sfDir, tmp)
    val indexed = Ann.ivfIndexed(spark, sfDir, tmp)
    val p = plan(indexed)
    // the index scan must carry a runtime pruning subquery on c_id —
    // i.e. only the probed centroid directories are read
    p.toLowerCase should include("dynamicpruning")
    val direct = Ann.ivf(spark, sfDir)
    indexed.exceptAll(direct).count() shouldBe 0
    direct.exceptAll(indexed).count() shouldBe 0
  }

  test("range join plans as an equi-join on time buckets, never a nested loop") {
    val p = plan(Relational.rangeJoin(spark, sfDir))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("quality-filter pipeline: dedup via partial min_by, no window, no cartesian") {
    val p = plan(Shaping.qualityFilterPipeline(spark, sfDir))
    p should not include "Window"
    p should not include "CartesianProduct"
    // the min-doc_id survivor per norm_hash is a map-side combined
    // aggregate, not a sort
    p.toLowerCase should include("partial_min_by")
  }

  test("decontamination: eval shingles broadcast, corpus never self-joins") {
    val p = plan(Dedup.crossCorpus(spark, sfDir))
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    p should not include "CartesianProduct"
  }

  test("events_funnel: no unaggregated log self-join, no cartesian pair expansion") {
    val p = plan(EventsAnalytics.funnel(spark, sfDir))
    p should not include "CartesianProduct"
    // stage frames are per-user aggregates before each join
    p.toLowerCase should include("partial_min")
  }

  test("events_histogram: share window runs over the aggregated frame only") {
    val df = EventsAnalytics.histogram(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // groupBy exchange + window-by-type exchange + final sort — the
    // window never sees the raw log
    "Exchange".r.findAllIn(p).size should be <= 3
    p should include("Window")
  }

  test("events_anomaly: stats broadcast back over the log, no shuffle join") {
    val p = plan(EventsAnalytics.anomalies(spark, sfDir))
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
  }

  test("v_centroids: map-side partial aggregation after the explode") {
    val p = plan(VectorCore.centroids(spark, sfDir))
    p.toLowerCase should include("partial_count")
    p should not include "Window"
  }

  test("sample_reservoir: bounded-heap top-k partials, no window sort") {
    val p = plan(Shaping.reservoirSample(spark, sfDir))
    p.toLowerCase should include("partial_topkbyscore")
    p should not include "Window"
  }

  test("pivot_daily: explicit pivot values compile to ONE aggregation pass") {
    val p = plan(Relational.pivotDaily(spark, sfDir))
    // no extra distinct job to learn the pivot columns: only the
    // groupBy(day) exchange and the presentation orderBy
    "Exchange".r.findAllIn(p).size should be <= 2
    p should not include "Window"
  }

  test("text_entropy: pure per-row map, nothing shuffles") {
    val p = plan(TextAnalysis.entropy(spark, sfDir))
    "Exchange".r.findAllIn(p).size shouldBe 0
    p should not include "Window"
  }

  test("mm_modality_route: partition-local routing, nothing shuffles") {
    val p = plan(Multimodal.modalityRoute(spark, sfDir))
    "Exchange".r.findAllIn(p).size shouldBe 0
  }

  test("dedup_incremental: fingerprint store aggregated before the batch joins") {
    val p = plan(Dedup.incremental(spark, sfDir))
    p should not include "CartesianProduct"
    // the corpus side reduces to distinct hashes (an aggregate), and
    // the within-batch survivor is a map-side min
    p.toLowerCase should include("partial_min")
  }

  test("keyword extract: per-doc top-k via partial aggregation, vocab broadcast, no window") {
    val p = plan(Encoders.keywordExtract(spark, sfDir))
    p.toLowerCase should include("partial_topkbyscore")
    p should include("BroadcastHashJoin")
    p should not include "Window"
  }

  test("moving average: windows only over per-user partitions, never one partition") {
    val p = plan(EventsAnalytics.movingAvg(spark, sfDir))
    p should include("hashpartitioning(user_id")
    p should not include "SinglePartition"
  }

  test("small-qty revenue: decorrelated into keyed joins, never a per-row re-scan") {
    val p = plan(Relational.smallQtyRevenue(spark, sfDir))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("bigram LM: keyed count joins, no pair expansion, map-side combine") {
    val p = plan(TextAnalysis.bigramLmScore(spark, sfDir))
    // the only nested-loop join is the single-row vocab-size broadcast
    p should not include "CartesianProduct"
    "BroadcastNestedLoopJoin".r.findAllIn(p).size should be <= 1
    p.toLowerCase should include("partial_count")
    // both vocab joins are pinned shuffle-hash: the static estimate
    // can't price the explode, so an unhinted plan BROADCASTS the
    // exploded doc-bigram stream (measured: the whole 10× stream
    // collected to the driver; an OOM at real scale)
    p should not include "BroadcastHashJoin"
    "ShuffledHashJoin".r.findAllIn(p).size shouldBe 2
  }

  test("shard assignment and importance sample: pure per-row maps ahead of one reduce") {
    val ps = plan(Shaping.shardAssignment(spark, sfDir))
    // one groupBy exchange; the total-count row broadcasts
    "hashpartitioning".r.findAllIn(ps).size should be <= 1
    ps should not include "rangepartitioning"
    val pi = plan(Shaping.importanceSample(spark, sfDir))
    pi should not include "Window"
    "Exchange".r.findAllIn(pi).size shouldBe 0
  }

  test("span dedup: no cartesian product, island window partitioned by doc only") {
    val p = plan(Dedup.spanCoverage(spark, sfDir))
    p should not include "CartesianProduct"
    // every Window operator is doc-partitioned (frames bounded by one
    // doc's duplicated positions, never the corpus)
    "Window".r.findAllIn(p).toSeq.size should be >= 1
    p.linesIterator.filter(_.contains("Window")).foreach(l =>
      l should include("doc_id"))
    val ps = plan(Dedup.spanScrub(spark, sfDir))
    ps should not include "CartesianProduct"
  }

  test("sq8: fit and query scalars broadcast, ADC partial-aggregates map-side") {
    val p = plan(Ann.sq8Search(spark, sfDir))
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
    // the fixed-point ADC sum partial-aggregates before the shuffle
    p.toLowerCase should include("partial_sum")
  }

  test("hybrid alpha fusion: arm windows run on <=k-row frames, no cartesian") {
    val p = plan(Encoders.hybridAlphaSearch(spark, sfDir))
    p should not include "CartesianProduct"
  }

  test("gram matrix: GramTriangle typed aggregate, zero row expansion before it") {
    val p = plan(VectorCore.gramMatrix(spark, sfDir))
    // the r9 rewrite's point: the corpus reduces through the
    // partial-combinable GramTriangle aggregate — a regression back to
    // the (i, j) pair explode would drop the aggregate name and
    // reintroduce a Generate BEFORE the aggregation
    p.toLowerCase should include("partial_gramtriangle")
    // the only Generate is the presentation posexplode of the 2080-slot
    // result AFTER the aggregate: above the scan there is exactly one
    val gens = "Generate".r.findAllIn(p).size
    gens should be <= 1
    p should not include "CartesianProduct"
    // one shuffle for the global aggregate only
    "Exchange".r.findAllIn(p).size should be <= 1
  }

  test("quality calibration: corpus collapses to the histogram before any window") {
    val p = plan(Shaping.qualityCalibration(spark, sfDir))
    // the lang/quality groupBy partial-aggregates map-side; windows
    // run on the aggregated histogram
    p.toLowerCase should include("partial_count")
    p should not include "CartesianProduct"
  }

  test("latency percentiles: no exact percentile() buffer — bounded histogram instead") {
    // the exact Percentile aggregate buffers a value→count map PER
    // GROUP (O(distinct values) in one buffer — the scale-killer class);
    // the rewrite collapses the log to a 1e4 fixed-point histogram with
    // map-side partial aggregation, then interpolates on the bounded
    // frame (VERDICT r12 §next-1)
    for (df <- Seq(PerfStats.latencyPercentiles(spark, sfDir),
        PerfStats.runSummary(spark, sfDir))) {
      val p = plan(df)
      p should not include "percentile"
      p should not include "Percentile"
      p.toLowerCase should include("partial_count")
      // histogram shuffle + one keys shuffle (windows and the final
      // groupBy share it)
      "Exchange".r.findAllIn(p).size should be <= 2
    }
  }
}
