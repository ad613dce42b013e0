package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions._
import graft.functions.{Sql => S}

/** Exact top-k vector search (ref: local_db/mock.py:31-39
  * `query_vector_search` — brute-force dot-product scores, argsort,
  * top-k ids; experiments/auto_run_tests.py:115-160 `offline_search` —
  * chunked scan with a bounded heap).
  *
  * Spark shape: the query set is small (ref samples 100-200 queries) so
  * it is **broadcast**; scoring is a map-side broadcast nested-loop
  * join over the (arbitrarily large) doc side — no shuffle to score.
  * The per-query top-k prune is two-phase: a per-input-partition prune
  * first (map-side, mirrors the ref's per-chunk heap), then a global
  * prune over ≤ k·P survivors — the shuffle carries k rows per query
  * per partition instead of the full N·Q cross product.
  *
  * Ranking is deterministic: (score desc, doc id asc); scores are
  * bit-identical with the oracle (sequential double folds both sides).
  */
object Knn {
  val K = 10
  val NQueries = 20

  /** Split of the embeddings table into queries (vec_id < nQueries) and
    * docs (the rest) — the ref regenerates queries from the doc corpus
    * (auto_run_tests.py:260-268); here they come from the same table. */
  def querySet(spark: SparkSession, dir: String, nQueries: Int = NQueries): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("label").as("q_label"))

  def docSet(spark: SparkSession, dir: String, nQueries: Int = NQueries): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("doc_id"), col("embedding").as("doc_vec"),
        col("label").as("doc_label"))

  /** Top-k per q_id over a scored frame (q_id, doc_id, score), via the
    * bounded-heap [[graft.functions.TopKByScore]] aggregate: map-side
    * partial aggregation reduces each partition to ≤k entries per query
    * before the single shuffle — no global sort, no window pass.
    * Equal to [[topKPerQueryWindow]] (asserted in KnnSpec). */
  def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    topKPerKey(scored, Seq("q_id"), k)

  /** [[topKPerQuery]] generalized to a composite key — e.g.
    * (corpus_cap, q_id) for the fused experiment grid, where one scored
    * frame carries every sub-corpus leg and each (cap, query) group
    * keeps its own top-k. Same bounded-heap partial aggregation, same
    * (score desc, doc_id asc) tie-break determinism. */
  def topKPerKey(scored: DataFrame, keys: Seq[String], k: Int): DataFrame =
    scored.groupBy(keys.map(col): _*)
      .agg(graft.functions.TopKAgg.topKBy(col("score"), col("doc_id"), k).as("tk"))
      .select(keys.map(col) :+ posexplode(col("tk")).as(Seq("pos", "e")): _*)
      .select(keys.map(col) ++ Seq(col("e.id").as("doc_id"),
        col("e.score").as("score"),
        (col("pos") + 1).cast("long").as("rank")): _*)

  /** Presentation order of a result bounded by construction — at most
    * k rows per key of a top-k aggregate ([[topKPerKey]],
    * `TopKAgg.topKBy`/`topKByDistinct`) — used as
    * `.transform(ranked("q_id", "rank"))` directly over that
    * aggregate. The aggregate's stage already starts at a shuffle
    * read, so one task sorts its output: no range-partitioning
    * sample job, no extra exchange. Never put it over a stage that
    * scans a corpus; corpus-sized ordered results keep `orderBy`. */
  def ranked(keys: String*)(topK: DataFrame): DataFrame =
    topK.coalesce(1).sortWithinPartitions(keys.map(col): _*)

  /** Window-based two-phase formulation (the declarative spec the
    * DuckDB oracles mirror). */
  def topKPerQueryWindow(scored: DataFrame, k: Int): DataFrame = {
    val phase1 = Window.partitionBy(col("q_id"), col("_pid"))
      .orderBy(col("score").desc, col("doc_id"))
    val phase2 = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("_pid", spark_partition_id())
      .withColumn("_r1", row_number().over(phase1))
      .filter(col("_r1") <= k)
      .withColumn("rank", row_number().over(phase2).cast("long"))
      .filter(col("rank") <= k)
      .drop("_pid", "_r1")
  }

  private def scoredFrame(queries: DataFrame, docs: DataFrame, scoreCol: Column): DataFrame =
    docs.crossJoin(broadcast(queries))
      .select(col("q_id"), col("doc_id"), scoreCol.as("score"))

  /** Exact top-k by dot product (the ref's scoring function). */
  def bruteForce(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    topKPerQuery(
      scoredFrame(querySet(spark, dir), docSet(spark, dir),
        dot(col("q_vec"), col("doc_vec"))), k)
      .select(col("q_id"), col("rank"), col("doc_id"),
        rnd(col("score"), 4).as("score"))
      .transform(ranked("q_id", "rank"))

  /** Exact top-k by cosine similarity. */
  def cosineTopK(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    topKPerQuery(
      scoredFrame(querySet(spark, dir), docSet(spark, dir),
        cosine(col("q_vec"), col("doc_vec"))), k)
      .select(col("q_id"), col("rank"), col("doc_id"),
        rnd(col("score"), 4).as("score"))
      .transform(ranked("q_id", "rank"))

  /** The (q_id, doc_id) ground-truth rows of [[bruteForce]] (dot) or
    * [[cosineTopK]] (cosine), memoized per (dir, k, metric): the exact
    * top-k is an eval FIXTURE — every recall/precision metric compares
    * a different approximate retrieval against the SAME ground-truth
    * set. Row order is NOT part of the contract — consumers join on the
    * set. */
  def exactSet(spark: SparkSession, dir: String, k: Int = K,
               byCosine: Boolean = false): DataFrame =
    graft.Memo(spark, "exact", dir, k, byCosine)(
      (if (byCosine) cosineTopK(spark, dir, k) else bruteForce(spark, dir, k))
        .select(col("q_id"), col("doc_id")).localCheckpoint(true))

  /** Range search: every doc whose similarity clears a threshold (the
    * score-cutoff companion to top-k; no per-query limit). Same
    * broadcast-scored map side; the filter runs before any shuffle so
    * output size is the only cost. */
  def rangeSearch(spark: SparkSession, dir: String, minScore: Double = 0.35): DataFrame =
    scoredFrame(querySet(spark, dir), docSet(spark, dir),
      dot(col("q_vec"), col("doc_vec")))
      .filter(col("score") >= minScore)
      .select(col("q_id"), col("doc_id"), rnd(col("score"), 4).as("score"))

  /** The ref's `query_vector_search` API shape (local_db/mock.py:29):
    * caller-supplied query vectors against any doc frame (doc_id,
    * doc_vec). Queries become a broadcast literal frame — same plan as
    * the table-sourced search. */
  def searchVectors(docs: DataFrame, queries: Seq[(Long, Array[Float])],
                    k: Int = K): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val q = queries.toDF("q_id", "q_vec")
    topKPerQuery(
      docs.crossJoin(broadcast(q))
        .select(col("q_id"), col("doc_id"),
          dot(col("q_vec"), col("doc_vec")).as("score")), k)
      .select(col("q_id"), col("rank"), col("doc_id"),
        rnd(col("score"), 4).as("score"))
      .transform(ranked("q_id", "rank"))
  }

  /** The metadata predicate shared by exact and ANN filtered search
    * (ref's `where` filters on category/id). */
  val metaPredicate: Column = col("doc_label").isin(1, 2, 3) && col("doc_id") % 2 === 0

  /** Metadata-filtered search (ref: evaluation/search_eval.py:30-37
    * `metadata_filter_fn` / weaviate `where` filters): the doc-side
    * predicate is applied *before* scoring so it pushes into the scan. */
  def metadataFilter(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    topKPerQuery(
      scoredFrame(querySet(spark, dir),
        docSet(spark, dir).filter(metaPredicate),
        dot(col("q_vec"), col("doc_vec"))), k)
      .select(col("q_id"), col("rank"), col("doc_id"),
        rnd(col("score"), 4).as("score"))
      .transform(ranked("q_id", "rank"))

  object SqlOracle {
    val Dim = VectorCore.Dim

    def queriesCte(n: Int = NQueries): String =
      s"(SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label FROM embeddings WHERE vec_id < $n)"

    def docsCte(n: Int = NQueries): String =
      s"(SELECT vec_id AS doc_id, embedding AS doc_vec, label AS doc_label FROM embeddings WHERE vec_id >= $n)"

    /** Ranked CTE body shared by the knn oracles and the eval oracles. */
    def rankedSql(score: String, docFilter: String = "TRUE"): String =
      s"""WITH q AS ${queriesCte()},
         |d AS ${docsCte()},
         |scored AS (
         |  SELECT q_id, doc_id, $score AS score
         |  FROM d CROSS JOIN q WHERE $docFilter),
         |ranked AS (
         |  SELECT q_id, doc_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
         |  FROM scored)""".stripMargin

    private def topkSelect(k: Int = K): String =
      s"""SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, (floor((score) * 1e4 + 0.5e0) / 1e4) AS score
         |FROM ranked WHERE rank <= $k
         |ORDER BY q_id, rank""".stripMargin

    val bruteForce: String =
      rankedSql(S.dot("q_vec", "doc_vec", Dim)) + "\n" + topkSelect()

    val cosineTopK: String =
      rankedSql(S.cosine("q_vec", "doc_vec", Dim)) + "\n" + topkSelect()

    /** SQL mirror of [[Knn.metaPredicate]]. */
    val metaPredicate: String = "doc_label IN (1, 2, 3) AND doc_id % 2 = 0"

    val metadataFilter: String =
      rankedSql(S.dot("q_vec", "doc_vec", Dim), metaPredicate) + "\n" + topkSelect()

    def rangeSearch(minScore: Double = 0.35): String =
      s"""WITH q AS ${queriesCte()},
         |d AS ${docsCte()},
         |scored AS (
         |  SELECT q_id, doc_id, ${S.dot("q_vec", "doc_vec", Dim)} AS score
         |  FROM d CROSS JOIN q)
         |SELECT q_id, doc_id, ${S.rnd("score", 4)} AS score
         |FROM scored WHERE score >= $minScore""".stripMargin
  }
}
