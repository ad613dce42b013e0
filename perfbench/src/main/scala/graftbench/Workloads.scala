package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.DataGen

/** A workload: how its corpus is generated, the declared queries it
  * calls, each with the operator module that declares it, and how many warm
  * passes settle the JVM before the timed ones. The seed is the `DataGen`
  * seed and also sets the call order of every pass. Why each workload
  * exists is in perfbench/README.md. */
final case class Workload(name: String, corpus: String,
                          generate: (SparkSession, String, Long) => Unit,
                          modules: Seq[(String, String)],
                          settlePasses: Int, timedPasses: Int) {
  def queries: Seq[String] = modules.map(_._2)
}

object Workloads {
  /** Untimed call that ends the set-up: the query `SparkEntry.entry`
    * runs, pointed at the run's own corpus. */
  val WarmUp = "pipeline_hashing_search"

  /** The `data` corpus, in the layout `DataGen.writeSfDataset` writes:
    * the three TPC-H tables `q3_join_agg` reads at sf0.1 sizes (about 600k
    * lineitem rows), 20k documents and 8k embeddings. Only the tables the
    * queries read are generated: generation is most of the set-up. */
  private def dataCorpus(spark: SparkSession, dir: String, seed: Long): Unit = {
    def put(t: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    put("customer", DataGen.customer(spark, 15000L, seed))
    put("orders", DataGen.orders(spark, 150000L, 15000L, seed))
    put("lineitem", DataGen.lineitem(spark, 150000L, 20000L, 1000L, seed))
    DataGen.writeDataset(spark, dir, nDocs = 20000L, nVecs = 8000L, seed = seed)
  }

  val byName: Map[String, Workload] = Seq(
    // fixed per-call cost: the three non-TPC-H tables at their sf0.01
    // sizes, and one cheap query from each of nine operator modules
    Workload("floor", "DataGen.writeDataset(nDocs = 500, nVecs = 200, nEvents = 10000)",
      (spark, dir, seed) => DataGen.writeDataset(spark, dir, nDocs = 500L,
        nVecs = 200L, seed = seed, nEvents = 10000L),
      Seq("EventsAnalytics" -> "events_top_users",
        "VectorCore" -> "v_cosine_similarity",
        "Knn" -> "knn_cosine_topk",
        "Chunking" -> "text_chunk_sliding",
        "Dedup" -> "dedup_simhash",
        "TextAnalysis" -> "text_quality_score",
        "Shaping" -> "sample_stratified",
        "PerfStats" -> "ingest_throughput",
        "Sources" -> "source_roundtrip_docs_jsonl"),
      // its passes keep getting faster for a minute as the JIT compiles
      // Catalyst and the scheduler; the first passes are the steepest part
      settlePasses = 2, timedPasses = 8),
    // task work: a three-table join, quality scoring of 20k documents,
    // and a memoized IVF index build over 8k embeddings that the cold pass
    // pays for and warm passes reuse; fewer, heavier calls than `floor`
    Workload("data", "customer, orders, lineitem at sf0.1; 20k documents; 8k embeddings",
      dataCorpus,
      Seq("Relational" -> "q3_join_agg",
        "TextAnalysis" -> "text_quality_score",
        "Ann" -> "ann_ivf_indexed"),
      settlePasses = 1, timedPasses = 6),
  ).map(w => w.name -> w).toMap

  /** The operator module that declares each workload query. */
  val module: Map[String, String] =
    byName.values.flatMap(_.modules).map { case (m, q) => q -> m }.toMap

  /** Operator families. Every workload has a query in each, so the
    * per-family figures are measured in every run; per-module sums are
    * in the per-query records. */
  val family: Map[String, String] = Map(
    "Relational" -> "table", "EventsAnalytics" -> "table", "Shaping" -> "table",
    "PerfStats" -> "table", "Sources" -> "table",
    "VectorCore" -> "vector", "Knn" -> "vector", "Ann" -> "vector",
    "Chunking" -> "text", "Dedup" -> "text", "TextAnalysis" -> "text")

  require(byName.values.forall(w => w.modules.map(m => family(m._1)).toSet ==
    family.values.toSet), "every workload needs a query in every operator family")
}
