package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions._
import graft.functions.{Sql => S}

/** Vector scalar functions exercised relationally over the embeddings
  * table (ref: local_db/mock.py:31-39 dot-product scoring;
  * embeddings/encoder.py:100-102 L2 normalization). All outputs are
  * scalar columns (never arrays) so the DuckDB oracle hash-compares
  * cleanly; all arithmetic is sequential double folds on both engines.
  */
object VectorCore {
  val Dim = 64

  /** Adjacent-pair frame: each vector joined with vec_id+1. The join is
    * a self equi-join on a monotone key — at scale this co-partitions on
    * vec_id with a single shuffle. */
  private def pairs(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    a.join(b, col("id_b") === col("id_a") + 1)
  }

  def dotProduct(spark: SparkSession, dir: String): DataFrame =
    pairs(spark, dir)
      .select(col("id_a"), col("id_b"),
        rnd(dot(col("va"), col("vb")), 4).as("dot"))

  def cosineSim(spark: SparkSession, dir: String): DataFrame =
    pairs(spark, dir)
      .select(col("id_a"), col("id_b"),
        rnd(cosine(col("va"), col("vb")), 4).as("cos"))

  def l2NormQ(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), rnd(l2Norm(col("embedding")), 4).as("norm"))

  /** Normalization verified via scalar projections of the unit vector. */
  def l2NormalizeQ(spark: SparkSession, dir: String): DataFrame = {
    val u = l2Normalize(col("embedding"))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        rnd(element_at(u, 1), 4).as("u_first"),
        rnd(element_at(u, Dim), 4).as("u_last"),
        rnd(aggregate(u, lit(0.0), (a, x) => a + x), 4).as("u_sum"))
  }

  def euclidDist(spark: SparkSession, dir: String): DataFrame =
    pairs(spark, dir)
      .select(col("id_a"), col("id_b"),
        rnd(euclid(col("va"), col("vb")), 4).as("dist"))

  /** Per-label centroids — the building block of IVF/k-means training
    * (ref weaviate class ≈ label partitions; Ann.fitCentroids runs this
    * same mean per Lloyd round) surfaced as a verified query. The
    * vector column explodes to (label, dim, x) and reduces in ONE
    * map-side-combined groupBy; per-dimension means are fixed-point
    * ([[graft.functions.fxAvg]]) so the result is independent of
    * accumulation order. Output is labels × dims rows — constant-size
    * however many vectors flow in. */
  def centroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        rnd(fxAvg(col("x").cast("double"), 6), 6).as("c"))

  /** Scalar int8 quantization audit (the FAISS SQ8 compression step: 4×
    * smaller vectors than float32 at ~1e-3 absolute error) — per
    * dimension: the fitted [lo, hi] range and the mean absolute
    * reconstruction error of round-tripping every value through the
    * 256-level grid. Two passes over the exploded (dim, x) frame: a
    * 64-row min/max fit (map-side combined), broadcast back over the
    * second pass as pure per-row arithmetic into the same
    * map-side-combined per-dim reduce. Both aggregates are
    * partitioning-independent (min/max exact, the error sum
    * fixed-point), so the audit is bit-stable at any scale. */
  /** Exact Gram matrix Gᵀ·G of the embedding corpus (upper triangle,
    * Dim·(Dim+1)/2 = 2080 rows) — the kernel that makes PCA / whitening
    * / OPQ rotation fitting a DRIVER-LOCAL eigen problem at any corpus
    * size: the corpus reduces to a constant-size matrix in one pass,
    * the 64×64 eigendecomposition then costs microseconds off-cluster
    * (the standard big-data PCA shape). Per-row pair products explode
    * from a LITERAL (i ≤ j) index array and map-side combine leaves
    * ≤ 2080 rows per task; sums are fixed-point longs (order-free,
    * partitioning-independent — the fxSum contract). */
  def gramMatrix(spark: SparkSession, dir: String): DataFrame = {
    val pairs = (1 to Dim).flatMap(i => (i to Dim).map(j => (i.toLong, j.toLong)))
    val iLit = array(pairs.map(p => lit(p._1)): _*)
    val jLit = array(pairs.map(p => lit(p._2)): _*)
    Tables.embeddings(spark, dir)
      .agg(graft.functions.GramAgg.gramTriangle(col("embedding"), Dim).as("gfx"),
        count(lit(1)).as("n_vecs"))
      // empty-corpus guard: the global aggregate always yields one row;
      // without this filter an empty table would explode to 2080
      // all-zero rows while the oracle's self-join yields zero
      .filter(col("n_vecs") > 0)
      .select(col("n_vecs"), posexplode(col("gfx")).as(Seq("idx", "s")))
      .select(element_at(iLit, col("idx") + 1).as("i"),
        element_at(jLit, col("idx") + 1).as("j"),
        col("n_vecs"), rnd(col("s") / 1e9, 6).as("g"))
  }

  def quantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    def vals = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim0", "x")))
      .select((col("dim0") + 1).cast("long").as("dim"), col("x").cast("double").as("v"))
    val ranges = vals.groupBy("dim").agg(min("v").as("lo"), max("v").as("hi"))
    val q = floor((col("v") - col("lo")) / (col("hi") - col("lo")) * 255.0 + 0.5)
    val recon = col("lo") + q * (col("hi") - col("lo")) / 255.0
    vals.join(broadcast(ranges), "dim")
      .select(col("dim"), col("lo"), col("hi"),
        when(col("hi") > col("lo"), abs(col("v") - recon)).otherwise(0.0).as("err"))
      .groupBy("dim", "lo", "hi")
      .agg(rnd(fxAvg(col("err"), 9), 6).as("mean_abs_err"))
      .select(col("dim"), rnd(col("lo"), 4).as("lo"), rnd(col("hi"), 4).as("hi"),
        col("mean_abs_err"))
  }

  object SqlOracle {
    private val joinFrom =
      """FROM (SELECT vec_id AS id_a, embedding AS va FROM embeddings) a
        |JOIN (SELECT vec_id AS id_b, embedding AS vb FROM embeddings) b
        |  ON id_b = id_a + 1""".stripMargin

    val dotProduct: String =
      s"""SELECT id_a, id_b, (floor((${S.dot("va", "vb", Dim)}) * 1e4 + 0.5e0) / 1e4) AS dot
         |$joinFrom""".stripMargin

    val cosineSim: String =
      s"""SELECT id_a, id_b, (floor((${S.cosine("va", "vb", Dim)}) * 1e4 + 0.5e0) / 1e4) AS cos
         |$joinFrom""".stripMargin

    val l2Norm: String =
      s"""SELECT vec_id, (floor((${S.l2Norm("embedding", Dim)}) * 1e4 + 0.5e0) / 1e4) AS norm
         |FROM embeddings""".stripMargin

    val l2Normalize: String = {
      val u = s"(CASE WHEN ${S.l2Norm("embedding", Dim)} > 0.0 THEN " +
        s"[CAST(embedding[i] AS DOUBLE) / ${S.l2Norm("embedding", Dim)} for i in range(1, ${Dim + 1})] " +
        s"ELSE [CAST(embedding[i] AS DOUBLE) for i in range(1, ${Dim + 1})] END)"
      s"""SELECT vec_id,
         |  (floor((u[1]) * 1e4 + 0.5e0) / 1e4) AS u_first,
         |  (floor((u[$Dim]) * 1e4 + 0.5e0) / 1e4) AS u_last,
         |  (floor((list_reduce(list_prepend(CAST(0.0 AS DOUBLE), u), (a, x) -> a + x)) * 1e4 + 0.5e0) / 1e4) AS u_sum
         |FROM (SELECT vec_id, $u AS u FROM embeddings)""".stripMargin
    }

    val centroids: String =
      s"""SELECT label, CAST(i - 1 AS BIGINT) AS dim, count(*) AS n_vecs,
         |  ${S.rnd(S.fxAvg("CAST(embedding[i] AS DOUBLE)", 6), 6)} AS c
         |FROM embeddings, range(1, ${Dim + 1}) t(i)
         |GROUP BY label, dim""".stripMargin

    val euclidDist: String =
      s"""SELECT id_a, id_b, (floor((${S.euclid("va", "vb", Dim)}) * 1e4 + 0.5e0) / 1e4) AS dist
         |$joinFrom""".stripMargin

    val gramMatrix: String =
      s"""SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
         |  count(*) AS n_vecs,
         |  ${S.rnd(S.fxSum(
             "CAST(embedding[i] AS DOUBLE) * CAST(embedding[j] AS DOUBLE)", 9), 6)} AS g
         |FROM embeddings, range(1, ${Dim + 1}) a(i), range(1, ${Dim + 1}) b(j)
         |WHERE j >= i
         |GROUP BY i, j""".stripMargin

    val quantizeInt8: String = {
      val q = "floor((v - lo) / (hi - lo) * 255.0e0 + 0.5e0)"
      s"""WITH vals AS (
         |  SELECT CAST(i AS BIGINT) AS dim, CAST(embedding[i] AS DOUBLE) AS v
         |  FROM embeddings, range(1, ${Dim + 1}) t(i)),
         |r AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM vals GROUP BY dim),
         |e AS (
         |  SELECT vals.dim, lo, hi,
         |    CASE WHEN hi > lo
         |      THEN abs(v - (lo + $q * (hi - lo) / 255.0e0))
         |      ELSE 0.0e0 END AS err
         |  FROM vals JOIN r USING (dim))
         |SELECT dim, ${S.rnd("lo", 4)} AS lo, ${S.rnd("hi", 4)} AS hi,
         |  ${S.rnd(S.fxAvg("err", 9), 6)} AS mean_abs_err
         |FROM e GROUP BY dim, lo, hi""".stripMargin
    }
  }
}
