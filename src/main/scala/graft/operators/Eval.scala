package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions._
import graft.functions.{Sql => S}

/** Retrieval-quality evaluation (ref: evaluation/metrics.py).
  *
  * Ground truth (qrels): a doc is relevant to a query iff it shares the
  * query's cluster `label` (the embeddings table's generative label
  * stands in for the ref's synthetic qrels, auto_run_tests.py:260-268).
  * Retrievals are the exact dot-product top-k of [[Knn.bruteForce]].
  *
  * Semantics match metrics.py exactly:
  *  - precision@k = |top-k ∩ rel| / k            (metrics.py:6-12)
  *  - recall@k    = |top-k ∩ rel| / |rel|        (metrics.py:15-19)
  *  - AP = mean over *hit positions* of precision-at-that-position
  *    (metrics.py:36-48 — divides by the number of retrieved hits, not
  *    |rel|; 0.0 when nothing relevant was retrieved); MAP = mean AP.
  *
  * All joins against the (small) query set broadcast; everything else
  * is window/groupBy with map-side partials.
  */
object Eval {
  val K = Knn.K
  /** Retrieval depth = max evaluated k — the ref evaluates k ∈
    * {5, 10, 20} (metrics.py:22 `k_values=[5, 10, 20]`). */
  val Ks: Seq[Int] = Seq(5, 10, 20)
  val KMax: Int = Ks.max

  /** top-KMax retrievals annotated with relevance (shared plan). */
  private def hits(spark: SparkSession, dir: String): DataFrame = {
    val ranked = Knn.topKPerQuery(
      Knn.docSet(spark, dir).crossJoin(broadcast(Knn.querySet(spark, dir)))
        .select(col("q_id"), col("doc_id"),
          dot(col("q_vec"), col("doc_vec")).as("score")), KMax)
    ranked
      .join(broadcast(Knn.querySet(spark, dir).select("q_id", "q_label")), "q_id")
      .join(broadcast(Knn.docSet(spark, dir).select("doc_id", "doc_label")), "doc_id")
      .withColumn("rel", (col("q_label") === col("doc_label")).cast("long"))
  }

  def precisionAtK(spark: SparkSession, dir: String): DataFrame =
    hits(spark, dir)
      .groupBy("q_id")
      .agg(
        rnd(sum(when(col("rank") <= Ks.head, col("rel")).otherwise(0L)) / Ks.head.toDouble, 4)
          .as(s"p_at_${Ks.head}"),
        Ks.tail.map(k =>
          rnd(sum(when(col("rank") <= k, col("rel")).otherwise(0L)) / k.toDouble, 4)
            .as(s"p_at_$k")): _*)

  def recallAtK(spark: SparkSession, dir: String): DataFrame = {
    val relCounts = Knn.docSet(spark, dir)
      .join(broadcast(Knn.querySet(spark, dir).select("q_id", "q_label")),
        col("doc_label") === col("q_label"))
      .groupBy("q_id").agg(count(lit(1)).as("n_rel"))
    hits(spark, dir)
      .groupBy("q_id")
      .agg(
        sum(when(col("rank") <= Ks.head, col("rel")).otherwise(0L)).as(s"hits_${Ks.head}"),
        Ks.tail.map(k =>
          sum(when(col("rank") <= k, col("rel")).otherwise(0L)).as(s"hits_$k")): _*)
      .join(broadcast(relCounts), Seq("q_id"), "left")
      .select(col("q_id") +: Ks.map(k =>
        rnd(col(s"hits_$k") / col("n_rel"), 4).as(s"r_at_$k")): _*)
  }

  /** ANN quality vs ground truth: fraction of the *exact* dot-product
    * top-k that an ANN method retrieved (overlap@k — the standard
    * ANN-recall metric; the ref runs the same evaluate_all over its
    * HNSW retrievals, evaluation/search_eval.py:20-44). Quantifies the
    * recall each approximate index trades for its pruning. */
  def annRecall(spark: SparkSession, dir: String, ann: DataFrame,
                k: Int = Knn.K): DataFrame = {
    val exact = Knn.exactSet(spark, dir, k)
    val hit = exact.join(ann.select(col("q_id"), col("doc_id")), Seq("q_id", "doc_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
    Knn.querySet(spark, dir).select("q_id")
      .join(hit, Seq("q_id"), "left")
      .select(col("q_id"),
        rnd(coalesce(col("n_hit"), lit(0L)) / k.toDouble, 4).as("recall"))
  }

  /** nprobe values swept by [[annRecallIvfSweep]] — the grid a tuner
    * actually uses (VERDICT r12 §next-8): up through every-cell-probed
    * (nprobe = NCentroids = exact search, recall 1 by construction),
    * so the recall-vs-cost curve brackets its knee instead of stopping
    * below it. The fused prefix-property plan makes the wider grid
    * near-free: one assignment pass, one probe ranking at max nprobe,
    * per-leg filters. */
  val SweepProbes: Seq[Int] = Seq(1, 2, 4, 8, 16)

  /** Recall-vs-nprobe sweep — the IVF tuning table (FAISS's standard
    * recall/latency trade-off curve): mean recall-vs-exact of the same
    * index probed at 1, 2 and 4 lists. This is what turns the ANN
    * parameter choice from a guess into a measured decision before a
    * 100 TB index build.
    *
    * FUSED (r12, the sizes-grid trick): a probe-np candidate set is by
    * construction a PREFIX of the probe-max one (the top-np probed
    * cells are the first np of the top-max list), so the sweep runs as
    * ONE plan — doc→cell assignment once, query probes ranked once at
    * the largest nprobe, the exact ground truth once — with each leg a
    * probe_rank filter + bounded-heap top-k keyed (nprobe, q_id).
    * [[annRecallIvfSweepUnioned]] (one [[annRecall]]+[[Ann.ivf]] leg
    * per nprobe) is the equivalence baseline, bit-equality spec'd. */
  def annRecallIvfSweep(spark: SparkSession, dir: String,
                        probes: Seq[Int] = SweepProbes): DataFrame = {
    import spark.implicits._
    val k = Knn.K
    val maxProbe = probes.max
    val probeKeys = probes.map(_.toLong).toDF("nprobe")
    // the settings as an in-row literal: each candidate and query
    // fans out to them without a nested-loop join
    val probeList = array(probes.map(p => lit(p.toLong)): _*)
    // Ann.ivf's exact assignment/probe shapes, computed once
    val grid = Ann.pinGrid(Ann.seedCentroids(spark, dir))
    val docs = grid.assign(Knn.docSet(spark, dir), "doc_vec")
    val qs = Knn.querySet(spark, dir)
      .select(col("q_id"), col("q_vec"),
        posexplode(grid.top(col("q_vec"), maxProbe)).as(Seq("p", "c_id")))
      .select(col("q_id"), col("q_vec"), col("c_id"),
        (col("p") + 1).as("probe_rank"))
    val cands = docs.join(broadcast(qs), Seq("c_id"))
      .select(col("q_id"), col("doc_id"),
        dot(col("q_vec"), col("doc_vec")).as("score"), col("probe_rank"))
      .withColumn("nprobe", explode(probeList))
      .filter(col("probe_rank") <= col("nprobe"))
    val annAll = Knn.topKPerKey(cands, Seq("nprobe", "q_id"), k)
    val exact = Knn.exactSet(spark, dir, k)
    val hit = exact
      .join(annAll.select("nprobe", "q_id", "doc_id"), Seq("q_id", "doc_id"))
      .groupBy("nprobe", "q_id").agg(count(lit(1)).as("n_hit"))
    val agg = Knn.querySet(spark, dir)
      .select(explode(probeList).as("nprobe"), col("q_id"))
      .join(hit, Seq("nprobe", "q_id"), "left")
      .select(col("nprobe"),
        rnd(coalesce(col("n_hit"), lit(0L)) / k.toDouble, 4).as("recall"))
      .groupBy("nprobe").agg(rnd(fxAvg(col("recall"), 6), 4).as("mean_recall"))
    // empty query set (0-row embeddings): the unioned form's global
    // agg still yields one (nprobe, null) row per setting — re-attach
    // (no broadcast hint: the preserved side of a left join cannot be
    // the build side, so Spark would drop it with a warning)
    probeKeys.join(agg, Seq("nprobe"), "left")
  }

  /** The pre-round-12 one-leg-per-nprobe formulation — kept as the
    * equivalence baseline for the fused [[annRecallIvfSweep]]. */
  def annRecallIvfSweepUnioned(spark: SparkSession, dir: String,
                               probes: Seq[Int] = SweepProbes): DataFrame =
    probes.map { np =>
      annRecall(spark, dir, Ann.ivf(spark, dir, nProbe = np))
        .agg(rnd(fxAvg(col("recall"), 6), 4).as("mean_recall"))
        .select(lit(np.toLong).as("nprobe"), col("mean_recall"))
    }.reduce(_ unionByName _).orderBy("nprobe")

  def annRecallLsh(spark: SparkSession, dir: String): DataFrame =
    annRecall(spark, dir, Ann.lshHyperplane(spark, dir))
  def annRecallIvf(spark: SparkSession, dir: String): DataFrame =
    annRecall(spark, dir, Ann.ivf(spark, dir))
  def annRecallPq(spark: SparkSession, dir: String): DataFrame =
    annRecall(spark, dir, Ann.pqSearch(spark, dir))
  /** Recall of the OPQ-rotated PQ search at the same code budget —
    * read beside [[annRecallPq]], the pair measures what the fitted
    * rotation buys (VERDICT r13 §next-5). */
  def annRecallOpq(spark: SparkSession, dir: String): DataFrame =
    annRecall(spark, dir, Opq.opqSearch(spark, dir))
  /** Recall of the Lloyd-TRAINED-codebook PQ search at the same code
    * budget — the third member of the PQ recall trio (seeds /
    * rotation / training), the measured answer to "what does training
    * buy". */
  def annRecallPqTrained(spark: SparkSession, dir: String): DataFrame =
    annRecall(spark, dir, Ann.pqSearchTrained(spark, dir))
  /** Recall of FULL OPQ (rotation + rotated-space training) — the
    * fourth corner of the {seeds, trained} × {identity, rotation}
    * table. */
  def annRecallOpqTrained(spark: SparkSession, dir: String): DataFrame =
    annRecall(spark, dir, Opq.opqTrainedSearch(spark, dir))
  /** Recall of FULL OPQ after ONE non-parametric rotation↔codebook
    * alternation (Ge et al. Algorithm 1) — the FIFTH cell, the
    * measured answer to whether the alternation repairs the r14
    * finding that the parametric rotation hurts trained codebooks. */
  def annRecallOpqRefined(spark: SparkSession, dir: String): DataFrame =
    annRecall(spark, dir, Opq.opqRefinedSearch(spark, dir))
  def annRecallSq8(spark: SparkSession, dir: String): DataFrame =
    annRecall(spark, dir, Ann.sq8Search(spark, dir))

  /** Position-discount table 1/log2(p+1) for p = 1..KMax, computed ONCE
    * in Scala and embedded as the same literal array in the Spark plan
    * and the oracle SQL — neither engine evaluates a log, so the math
    * is bit-identical by construction (the plane-literal technique). */
  val discounts: IndexedSeq[Double] =
    (1 to KMax).map(p => 1.0 / (math.log(p + 1.0) / math.log(2.0)))
  /** Ideal-DCG prefix sums: idcg(m) = sum of the first m discounts. */
  val idcgTable: IndexedSeq[Double] = discounts.scanLeft(0.0)(_ + _).tail

  /** NDCG@k per query, k ∈ {5, 10, 20} (binary relevance — the ref's
    * qrels are binary): DCG sums the literal discount at each relevant
    * rank (order-free fixed-point fold), IDCG is the literal prefix-sum
    * table indexed at min(n_rel, k), NDCG = DCG/IDCG (0 if no
    * relevant docs exist). The standard ranking metric alongside the
    * ref's p/r/MAP (evaluation/metrics.py). */
  def ndcgAtK(spark: SparkSession, dir: String): DataFrame = {
    val discLit = array(discounts.map(lit): _*)
    val idcgLit = array(idcgTable.map(lit): _*)
    val relCounts = Knn.docSet(spark, dir)
      .join(broadcast(Knn.querySet(spark, dir).select("q_id", "q_label")),
        col("doc_label") === col("q_label"))
      .groupBy("q_id").agg(count(lit(1)).as("n_rel"))
    def dcg(k: Int) = fxSum(
      when(col("rank") <= k && col("rel") === 1,
        element_at(discLit, col("rank").cast("int"))).otherwise(0.0), 9)
    hits(spark, dir)
      .groupBy("q_id")
      .agg(dcg(Ks.head).as(s"dcg_${Ks.head}"),
        Ks.tail.map(k => dcg(k).as(s"dcg_$k")): _*)
      .join(broadcast(relCounts), Seq("q_id"), "left")
      .select(col("q_id") +: Ks.map { k =>
        val m = least(coalesce(col("n_rel"), lit(0L)), lit(k.toLong)).cast("int")
        rnd(when(m > 0, col(s"dcg_$k") / element_at(idcgLit, m))
          .otherwise(0.0), 4).as(s"ndcg_$k")
      }: _*)
  }

  /** Mean reciprocal rank over the query set (single summary row, the
    * MAP shape): rr = 1/rank of the first relevant retrieved doc within
    * the top-KMax, 0 when none. */
  def mrr(spark: SparkSession, dir: String): DataFrame = {
    val firstRel = hits(spark, dir)
      .filter(col("rel") === 1)
      .groupBy("q_id").agg(min("rank").as("first_rel"))
    Knn.querySet(spark, dir).select("q_id")
      .join(firstRel, Seq("q_id"), "left")
      .agg(
        rnd(fxAvg(coalesce(lit(1.0) / col("first_rel"), lit(0.0)), 9), 4).as("mrr"),
        count(lit(1)).as("n_queries"))
  }

  /** Per-query AP then a single MAP row (metrics.py:36-55). */
  def meanAveragePrecision(spark: SparkSession, dir: String): DataFrame = {
    val cum = Window.partitionBy("q_id").orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ap = hits(spark, dir)
      .withColumn("cum_rel", sum("rel").over(cum))
      .filter(col("rel") === 1)
      .groupBy("q_id")
      .agg(avg(col("cum_rel") / col("rank")).as("ap"))
    Knn.querySet(spark, dir).select("q_id")
      .join(ap, Seq("q_id"), "left")
      .agg(rnd(avg(coalesce(col("ap"), lit(0.0))), 4).as("map"),
        count(lit(1)).as("n_queries"))
  }

  object SqlOracle {
    private val base: String =
      Knn.SqlOracle.rankedSql(S.dot("q_vec", "doc_vec", VectorCore.Dim)) +
        s""",
           |h AS (
           |  SELECT r.q_id, r.doc_id, r.rank,
           |    CAST(q.q_label = d.doc_label AS BIGINT) AS rel
           |  FROM ranked r
           |  JOIN ${Knn.SqlOracle.queriesCte()} q USING (q_id)
           |  JOIN ${Knn.SqlOracle.docsCte()} d USING (doc_id)
           |  WHERE r.rank <= $KMax)""".stripMargin

    val precisionAtK: String =
      base + s"""
        |SELECT q_id,
        |  ${Ks.map(k =>
             s"(floor((sum(CASE WHEN rank <= $k THEN rel ELSE 0 END) / $k.0) * 1e4 + 0.5e0) / 1e4) AS p_at_$k")
             .mkString(",\n  ")}
        |FROM h GROUP BY q_id""".stripMargin

    val recallAtK: String =
      base + s""",
        |rc AS (
        |  SELECT q.q_id, count(*) AS n_rel
        |  FROM ${Knn.SqlOracle.queriesCte()} q
        |  JOIN ${Knn.SqlOracle.docsCte()} d ON d.doc_label = q.q_label
        |  GROUP BY q.q_id)
        |SELECT h.q_id,
        |  ${Ks.map(k =>
             s"(floor((sum(CASE WHEN rank <= $k THEN rel ELSE 0 END) / CAST(any_value(n_rel) AS DOUBLE)) * 1e4 + 0.5e0) / 1e4) AS r_at_$k")
             .mkString(",\n  ")}
        |FROM h LEFT JOIN rc ON h.q_id = rc.q_id
        |GROUP BY h.q_id""".stripMargin

    /** overlap@k of an ANN oracle vs the exact brute-force oracle. */
    def annRecall(annSql: String, k: Int = Knn.K): String =
      s"""WITH ex AS (SELECT q_id, doc_id FROM (
         |${Knn.SqlOracle.bruteForce}) t_ex),
         |ann AS (SELECT q_id, doc_id FROM (
         |$annSql) t_ann),
         |hit AS (
         |  SELECT q_id, count(*) AS n_hit
         |  FROM ex JOIN ann USING (q_id, doc_id) GROUP BY q_id)
         |SELECT q.q_id,
         |  (floor((coalesce(n_hit, 0) / $k.0) * 1e4 + 0.5e0) / 1e4) AS recall
         |FROM (SELECT vec_id AS q_id FROM embeddings WHERE vec_id < ${Knn.NQueries}) q
         |LEFT JOIN hit USING (q_id)""".stripMargin

    def annRecallIvfSweep(probes: Seq[Int] = SweepProbes): String =
      probes.map { np =>
        s"""SELECT CAST($np AS BIGINT) AS nprobe,
           |  ${S.rnd(S.fxAvg("recall", 6), 4)} AS mean_recall
           |FROM (${annRecall(Ann.SqlOracle.ivfSql("TRUE", np))}) r$np""".stripMargin
      }.mkString("\nUNION ALL\n")

    /** Round-trip double literal (exponent marker forces DOUBLE). */
    private def dbl(x: Double): String = {
      val r = java.lang.Double.toString(x)
      if (r.contains("E") || r.contains("e")) r else r + "e0"
    }
    private def dblList(xs: Seq[Double]): String =
      xs.map(dbl).mkString("[", ", ", "]")

    val ndcgAtK: String = {
      val disc = dblList(discounts)
      val idcg = dblList(idcgTable)
      base + s""",
        |rc AS (
        |  SELECT q.q_id, count(*) AS n_rel
        |  FROM ${Knn.SqlOracle.queriesCte()} q
        |  JOIN ${Knn.SqlOracle.docsCte()} d ON d.doc_label = q.q_label
        |  GROUP BY q.q_id),
        |dc AS (
        |  SELECT q_id,
        |    ${Ks.map(k =>
             S.fxSum(s"CASE WHEN rank <= $k AND rel = 1 THEN ($disc)[CAST(rank AS INT)] ELSE 0.0e0 END", 9) +
               s" AS dcg_$k").mkString(",\n    ")}
        |  FROM h GROUP BY q_id)
        |SELECT dc.q_id,
        |  ${Ks.map(k =>
             S.rnd(s"CASE WHEN least(coalesce(n_rel, 0), $k) > 0 " +
               s"THEN dcg_$k / ($idcg)[CAST(least(coalesce(n_rel, 0), $k) AS INT)] " +
               s"ELSE 0.0e0 END", 4) + s" AS ndcg_$k").mkString(",\n  ")}
        |FROM dc LEFT JOIN rc ON dc.q_id = rc.q_id""".stripMargin
    }

    val mrr: String =
      base + s""",
        |fr AS (
        |  SELECT q_id, min(rank) AS first_rel
        |  FROM h WHERE rel = 1 GROUP BY q_id)
        |SELECT ${S.rnd(S.fxAvg("coalesce(1.0e0 / first_rel, 0.0e0)", 9), 4)} AS mrr,
        |  count(*) AS n_queries
        |FROM (SELECT vec_id AS q_id FROM embeddings WHERE vec_id < ${Knn.NQueries}) q
        |LEFT JOIN fr USING (q_id)""".stripMargin

    val meanAveragePrecision: String =
      base + s""",
        |cumu AS (
        |  SELECT q_id, rank, rel,
        |    sum(rel) OVER (PARTITION BY q_id ORDER BY rank
        |                   ROWS UNBOUNDED PRECEDING) AS cum_rel
        |  FROM h),
        |ap AS (
        |  SELECT q_id, avg(CAST(cum_rel AS DOUBLE) / rank) AS ap
        |  FROM cumu WHERE rel = 1 GROUP BY q_id)
        |SELECT (floor((avg(coalesce(ap.ap, 0.0))) * 1e4 + 0.5e0) / 1e4) AS map,
        |  count(*) AS n_queries
        |FROM (SELECT DISTINCT q_id FROM (SELECT vec_id AS q_id FROM embeddings WHERE vec_id < ${Knn.NQueries})) q
        |LEFT JOIN ap USING (q_id)""".stripMargin
  }
}
