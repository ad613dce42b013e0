package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions._
import graft.functions.{Sql => S}

/** OPQ-style rotation for product quantization (VERDICT r13 §next-5 —
  * the consumer of the verified [[VectorCore.gramMatrix]] kernel):
  * PQ's quantization error depends on how the variance falls across
  * its PqM independent subspaces, and a fixed orthonormal rotation
  * applied before encoding can rebalance it (Ge et al., "Optimized
  * Product Quantization", CVPR 2013; FAISS `OPQMatrix`'s PCA +
  * eigenvalue-allocation initialization — the parametric solution,
  * not the iterative refinement).
  *
  * The whole fit is the shape [[VectorCore.gramMatrix]] was built for:
  * ONE corpus pass reduces the embeddings to the fixed-point
  * 64×64 second-moment triangle ([[graft.functions.GramAgg]] —
  * order-free longs, so the fit is partitioning-independent), and the
  * eigendecomposition is a driver-local 64×64 Jacobi problem costing
  * microseconds at ANY corpus size. No centering anywhere: dot-product
  * search is translation-sensitive, so the rotation diagonalizes
  * E[xxᵀ] (the uncentered second moment) and y = R·x preserves every
  * dot product up to float rounding.
  *
  * Dimension allocation (the OPQ paper's eigenvalue allocation): the
  * eigendimensions, sorted by eigenvalue descending, are dealt
  * greedily to the subspace with the smallest running log-eigenvalue
  * product — balancing per-subspace variance so no codebook is asked
  * to quantize all the energy while others idle.
  *
  * Scale shape: the fit is one aggregate to a constant-size buffer;
  * the application is a per-row codegen'd projection
  * ([[graft.functions.MatVecExpr]]); everything downstream is the
  * verified PQ pipeline unchanged — codes from rotated subvectors,
  * ADC from rotated queries, exact re-rank on the ORIGINAL vectors
  * (the rotation only shapes the candidate set, ground truth stays
  * canonical). */
object Opq {
  val Dim: Int = VectorCore.Dim

  // ---------- driver-side eigensolver ----------

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix:
    * A = V·diag(λ)·Vᵀ, eigenvectors in V's COLUMNS. Deterministic —
    * fixed (p,q) sweep order, fixed convergence threshold, no
    * randomness — so the same fixed-point Gram input always yields the
    * same rotation on every host. */
  private[operators] def jacobiEigen(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = Array.tabulate(n, n)((i, j) => a0(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { s += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      s
    }
    var sweep = 0
    while (sweep < 100 && off() > 1e-24) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-30) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              else 1.0 / (theta - math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < n) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < n) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  // rotation fits memoized per dir — one Gram pass per corpus per
  // session, shared by the eval query and the Verify oracle overlay
  // (the vocabulary-fit contract)
  /** The fitted rotation: rows are the permuted unit eigenvectors of
    * the corpus second moment, so y = R·x expresses x in the
    * (variance-balanced) eigenbasis. Identity on an empty corpus. */
  def rotation(spark: SparkSession, dir: String): Array[Array[Double]] =
    graft.Memo(spark, "opq-rotation", dir) {
      val row = Tables.embeddings(spark, dir)
        .agg(graft.functions.GramAgg.gramTriangle(col("embedding"), Dim).as("g"),
          count(lit(1)).as("n"))
        .head()
      val n = row.getLong(1)
      if (n == 0L) Array.tabulate(Dim, Dim)((i, j) => if (i == j) 1.0 else 0.0)
      else {
        // fixed-point triangle → full symmetric second moment
        val tri = row.getSeq[Long](0)
        val m = Array.ofDim[Double](Dim, Dim)
        var idx = 0
        var i = 0
        while (i < Dim) {
          var j = i
          while (j < Dim) {
            val x = tri(idx) / 1e9 / n
            m(i)(j) = x; m(j)(i) = x
            idx += 1; j += 1
          }
          i += 1
        }
        val (ev, vec) = jacobiEigen(m)
        // canonical sign: largest-|component| entry positive, so the
        // rotation is independent of solver internals
        val cols = (0 until Dim).map { c =>
          val col0 = Array.tabulate(Dim)(r => vec(r)(c))
          val mx = col0.indices.maxBy(r => (math.abs(col0(r)), -r))
          if (col0(mx) < 0) col0.map(-_) else col0
        }
        // eigenvalue allocation: λ descending (ties by index), dealt
        // greedily to the subspace with the smallest running
        // log-product among those not yet full
        val order = (0 until Dim).sortBy(c => (-ev(c), c))
        val logs = Array.fill(Ann.PqM)(0.0)
        val members = Array.fill(Ann.PqM)(List.empty[Int])
        order.foreach { c =>
          val open = (0 until Ann.PqM)
            .filter(s => members(s).size < Ann.PqSub)
          val s = open.minBy(s => (logs(s), s))
          members(s) = c :: members(s)
          logs(s) += math.log(math.max(ev(c), 1e-12))
        }
        (0 until Ann.PqM).flatMap(s => members(s).reverse.map(cols))
          .toArray
      }
    }

  /** y = R·x applied per row (codegen'd; output array<float> like the
    * embedding column, so the PQ machinery applies unchanged). */
  def rotate(vec: org.apache.spark.sql.Column,
             r: Array[Array[Double]]): org.apache.spark.sql.Column =
    native.matVec(vec, r)

  // ---------- rotated PQ search ----------

  /** [[Ann.pqSearch]] with the fitted rotation applied to codebook
    * seeds, doc subvectors, and the query LUT — same code budget
    * (PqM × PqCodes), same ADC arithmetic, same 3k exact re-rank on
    * the ORIGINAL vectors. The only difference is WHICH 8-dim slices
    * the codebooks quantize: balanced eigenbasis blocks instead of
    * raw consecutive dims. */
  def opqSearch(spark: SparkSession, dir: String, k: Int = Ann.K): DataFrame = {
    val emb = rotatedEmbeddings(spark, dir)
    def slices(c: org.apache.spark.sql.Column) = array(
      (0 until Ann.PqM).map(j =>
        slice(c, j * Ann.PqSub + 1, Ann.PqSub)): _*)
    val cb = emb.filter(col("vec_id") < Ann.PqCodes)
      .select(col("vec_id").as("c_id"),
        posexplode(slices(col("embedding"))).as(Seq("j", "cvec")))
    opqPipeline(spark, dir, emb, cb, k)
  }

  /** The rotated-embedding frame every OPQ consumer scores over. */
  private def rotatedEmbeddings(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        rotate(col("embedding"), rotation(spark, dir)).as("embedding"))

  // trained-in-rotated-space codebooks memoized per dir — the
  // trainedPqRows contract: the collected rows are BOTH the plan's
  // codebook and the oracle's literal table
  /** Lloyd-trained per-subspace codebooks fit in the ROTATED space —
    * the full OPQ configuration (rotate, then train where the
    * variance is balanced). Driver-side rows, memoized. */
  def trainedOpqRows(spark: SparkSession, dir: String): Seq[(Long, Int, Seq[Float])] =
    graft.Memo(spark, "opq-trained", dir)(
      Ann.codebookRows(Ann.fitPqCodebook(rotatedEmbeddings(spark, dir), iters = 2)))

  /** FULL OPQ: the fitted rotation AND codebooks trained in the
    * rotated space, at the same code budget — the fourth corner of
    * the {seeds, trained} × {identity, rotation} recall table
    * (`eval_ann_recall_opq_trained` beside pq / opq / pq_trained).
    * Oracle-verified by composing BOTH literal overlays: the frozen
    * rotation as a matrix literal, the frozen codebook as VALUES
    * rows. */
  def opqTrainedSearch(spark: SparkSession, dir: String,
                       k: Int = Ann.K): DataFrame = {
    import spark.implicits._
    val cb = trainedOpqRows(spark, dir)
      .map { case (c, j, v) => (c, j, v.toArray) }
      .toDF("c_id", "j", "cvec")
    opqPipeline(spark, dir, rotatedEmbeddings(spark, dir), cb, k)
  }

  /** The rotated PQ pipeline under a given (c_id, j, cvec) codebook:
    * codes + LUT in rotated space, fixed-point ADC, exact re-rank on
    * the ORIGINAL vectors. */
  private def opqPipeline(spark: SparkSession, dir: String, emb: DataFrame,
                          cb: DataFrame, k: Int): DataFrame = {
    def slices(c: org.apache.spark.sql.Column) = array(
      (0 until Ann.PqM).map(j =>
        slice(c, j * Ann.PqSub + 1, Ann.PqSub)): _*)
    val codes = emb.filter(col("vec_id") >= Knn.NQueries)
      .select(col("vec_id").as("doc_id"),
        Ann.pqCodesOf("embedding", Ann.pinCodebook(cb)))
    val lut = emb.filter(col("vec_id") < Knn.NQueries)
      .select(col("vec_id").as("q_id"),
        posexplode(slices(col("embedding"))).as(Seq("j", "qvec")))
      .join(broadcast(cb), Seq("j"))
      .select(col("q_id"), col("j"), col("c_id").as("code"),
        dot(col("qvec"), col("cvec")).as("part"))
    val adc = codes.join(broadcast(lut), Seq("j", "code"))
      .groupBy("q_id", "doc_id")
      .agg(fxSum(col("part"), 9).as("adc_score"))
    val cand = Knn.topKPerQuery(
      adc.select(col("q_id"), col("doc_id"), col("adc_score").as("score")),
      3 * k)
      .select(col("q_id"), col("doc_id"))
    val exact = cand
      .join(broadcast(Knn.querySet(spark, dir)), Seq("q_id"))
      .join(Knn.docSet(spark, dir), Seq("doc_id"))
      .select(col("q_id"), col("doc_id"),
        dot(col("q_vec"), col("doc_vec")).as("score"))
    Knn.topKPerQuery(exact, k)
      .select(col("q_id"), col("rank"), col("doc_id"),
        rnd(col("score"), 4).as("score"))
      .transform(Knn.ranked("q_id", "rank"))
  }

  // ---------- non-parametric refinement (VERDICT r14 §next-4) ----------

  // refined (rotation, codebook) fits memoized per dir — the same
  // literals-are-the-fit contract as trainedOpqRows
  /** ONE alternating refinement round of Ge et al.'s NON-PARAMETRIC
    * OPQ (CVPR 2013 §4, Algorithm 1 — the loop FAISS's OPQMatrix
    * runs after its PCA init), starting from the parametric rotation
    * [[rotation]] and the codebook [[trainedOpqRows]] trained in its
    * space. The r14 2×2 found the parametric rotation HURTS trained
    * codebooks (0.535 vs 0.565 identity-rotation recall at sf0.01);
    * this measures whether one rotation↔codebook alternation repairs
    * the composition:
    *
    *  1. reconstruct each training vector from its current codes:
    *     x̂ = per-subspace codeword of R₀·x (driver math — the fit is
    *     frozen into literals, so engine-exactness is not required);
    *  2. re-estimate the rotation as the orthogonal-Procrustes
    *     solution min_R ‖R·X − X̂‖_F = the polar factor of M = X̂·Xᵀ,
    *     computed as M·(MᵀM)^(-1/2) via the same deterministic Jacobi
    *     eigensolver (unique for nonsingular M — no sign ambiguity);
    *  3. re-train the codebook in R₁-space ([[Ann.fitPqCodebook]],
    *     distributed, its own 256·k sample cap).
    *
    * Scale shape: the sample is capped at [[Ann.MaxPointsPerCentroid]]
    * ·PqCodes rows by the deterministic hash gate (the fitCentroids
    * discipline — corpus-size-independent driver cost), M is one
    * 64×64 accumulation over it, and step 3 is the existing
    * distributed training path. Empty corpus: the parametric fit is
    * returned unchanged. */
  def refinedFit(spark: SparkSession, dir: String)
      : (Array[Array[Double]], Seq[(Long, Int, Seq[Float])]) =
    graft.Memo(spark, "opq-refined", dir) {
      val r0 = rotation(spark, dir)
      val c0 = trainedOpqRows(spark, dir)
      val embAll = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val n = embAll.count()
      val nTrain = Ann.MaxPointsPerCentroid.toLong * Ann.PqCodes
      val sampled =
        if (n <= nTrain) embAll
        else embAll.filter(
          pmod(xxhash64(lit(1717L), col("vec_id")), lit(1000000L)) <
            lit((nTrain.toDouble / n * 1000000L).toLong))
      val xs = sampled.collect()
        .map(_.getSeq[Float](1).map(_.toDouble).toArray)
      if (xs.isEmpty || c0.isEmpty || xs.exists(_.length != Dim)) (r0, c0)
      else {
        val cbByJ: Map[Int, Seq[(Long, Array[Double])]] = c0
          .groupBy(_._2)
          .map { case (j, rows) =>
            j -> rows.sortBy(_._1).map(r => (r._1, r._3.map(_.toDouble).toArray))
          }
        // M = Σ x̂·xᵀ over the sample (x̂ in rotated space, x original)
        val m = Array.ofDim[Double](Dim, Dim)
        xs.foreach { x =>
          val y = Array.tabulate(Dim) { i =>
            var s = 0.0; var k = 0
            while (k < Dim) { s += r0(i)(k) * x(k); k += 1 }
            s
          }
          val xhat = new Array[Double](Dim)
          var j = 0
          while (j < Ann.PqM) {
            val off = j * Ann.PqSub
            // argmin squared-L2 codeword, ties by c_id (the pqEncode rule)
            var best: Array[Double] = null
            var bestD = Double.MaxValue
            cbByJ.getOrElse(j, Nil).foreach { case (_, cw) =>
              var d = 0.0; var t = 0
              while (t < Ann.PqSub) {
                val e = y(off + t) - cw(t); d += e * e; t += 1
              }
              if (d < bestD) { bestD = d; best = cw }
            }
            if (best != null) System.arraycopy(best, 0, xhat, off, Ann.PqSub)
            j += 1
          }
          var i = 0
          while (i < Dim) {
            var k = 0
            while (k < Dim) { m(i)(k) += xhat(i) * x(k); k += 1 }
            i += 1
          }
        }
        // polar factor R₁ = M·(MᵀM)^(-1/2): W = MᵀM is symmetric PSD,
        // eigendecomposed by the deterministic Jacobi solver
        val w = Array.tabulate(Dim, Dim) { (a, b) =>
          var s = 0.0; var i = 0
          while (i < Dim) { s += m(i)(a) * m(i)(b); i += 1 }
          s
        }
        val (lam, v) = jacobiEigen(w)
        val inv = lam.map(l => 1.0 / math.sqrt(math.max(l, 1e-12)))
        val mv = Array.tabulate(Dim, Dim) { (i, b) =>
          var s = 0.0; var a = 0
          while (a < Dim) { s += m(i)(a) * v(a)(b); a += 1 }
          s
        }
        val r1 = Array.tabulate(Dim, Dim) { (i, k) =>
          var s = 0.0; var b = 0
          while (b < Dim) { s += mv(i)(b) * inv(b) * v(k)(b); b += 1 }
          s
        }
        // step 3: re-train the codebook in the refined space
        val c1 = Ann.codebookRows(Ann.fitPqCodebook(
          Tables.embeddings(spark, dir)
            .select(col("vec_id"), rotate(col("embedding"), r1).as("embedding")),
          iters = 2))
        (r1, c1)
      }
    }

  /** FULL OPQ after one non-parametric alternation — the FIFTH cell
    * of the PQ recall table, read beside [[opqTrainedSearch]]'s 2×2.
    * Same code budget, same pipeline, same composed-literal oracle
    * ([[SqlOracle.opqTrainedSearch]] parameterized by the refined
    * pair). */
  def opqRefinedSearch(spark: SparkSession, dir: String,
                       k: Int = Ann.K): DataFrame = {
    import spark.implicits._
    val (r1, rows) = refinedFit(spark, dir)
    val cb = rows.map { case (c, j, v) => (c, j, v.toArray) }
      .toDF("c_id", "j", "cvec")
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), rotate(col("embedding"), r1).as("embedding"))
    opqPipeline(spark, dir, emb, cb, k)
  }

  // ---------- oracle mirror ----------

  object SqlOracle {
    /** Round-trip double literals (the planeList convention: an
      * exponent marker forces DuckDB to parse DOUBLE, not DECIMAL). */
    private def d(x: Double): String = {
      val s = java.lang.Double.toString(x)
      if (s.contains("E") || s.contains("e")) s else s + "e0"
    }

    private def matLiteral(r: Array[Array[Double]]): String =
      r.map(_.map(d).mkString("[", ", ", "]")).mkString("[", ",\n", "]")

    /** Rotated-embeddings CTE: the nested comprehension folds each
      * output component with the SAME left-to-right double
      * accumulation as [[graft.functions.MatVecExpr]], then casts to
      * REAL — bit-identical vectors on both engines. */
    private def rotCte(r: Array[Array[Double]]): String =
      s"""rot AS (SELECT ${matLiteral(r)} AS m),
         |emb AS (
         |  SELECT vec_id,
         |    [CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |       [m[i][j] * CAST(embedding[j] AS DOUBLE)
         |        for j in range(1, ${Dim + 1})]),
         |     (x, y) -> x + y) AS REAL) for i in range(1, ${Dim + 1})]
         |    AS embedding
         |  FROM embeddings CROSS JOIN rot)""".stripMargin

    private def subDist2(a: String, b: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"[(CAST($a[j*${Ann.PqSub}+i] AS DOUBLE) - CAST($b[j*${Ann.PqSub}+i] AS DOUBLE)) * " +
        s"(CAST($a[j*${Ann.PqSub}+i] AS DOUBLE) - CAST($b[j*${Ann.PqSub}+i] AS DOUBLE)) " +
        s"for i in range(1, ${Ann.PqSub + 1})]), (x, y) -> x + y)"

    private def subDot(a: String, b: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"[CAST($a[j*${Ann.PqSub}+i] AS DOUBLE) * CAST($b[j*${Ann.PqSub}+i] AS DOUBLE) " +
        s"for i in range(1, ${Ann.PqSub + 1})]), (x, y) -> x + y)"

    /** Mirror of [[Opq.opqTrainedSearch]] — BOTH overlays composed:
      * the frozen rotation as a matrix literal (rotCte) and the
      * frozen rotated-space codebook as VALUES literals, feeding the
      * shared trained-PQ pipeline SQL whose codes and LUT read the
      * rotated CTE while the exact re-rank stays on the original
      * vectors. */
    def opqTrainedSearch(r: Array[Array[Double]],
                         cb: Seq[(Long, Int, Seq[Float])],
                         k: Int = Ann.K): String =
      Ann.SqlOracle.trainedPqSqlOver(cb, k,
        prefixCtes = rotCte(r) + ",\n",
        docSrc = "(SELECT vec_id, embedding AS ve FROM emb)",
        qSrc = s"(SELECT vec_id AS q_id, embedding AS q_vec FROM emb " +
          s"WHERE vec_id < ${Knn.NQueries})")

    /** Mirror of [[opqSearch]] under a FROZEN rotation (the idf-literal
      * overlay technique applied to the eigenfit: the iterative Jacobi
      * solve has no SQL form, but its output is a constant matrix, and
      * everything downstream is plain PQ SQL over rotated vectors). */
    def opqSearch(r: Array[Array[Double]], k: Int = Ann.K): String =
      s"""WITH ${rotCte(r)},
         |cb AS (SELECT vec_id AS c_id, embedding AS vc FROM emb
         |       WHERE vec_id < ${Ann.PqCodes}),
         |subs AS (SELECT vec_id, j, embedding AS ve
         |         FROM emb CROSS JOIN (SELECT unnest(range(${Ann.PqM})) AS j)
         |         WHERE vec_id >= ${Knn.NQueries}),
         |scored AS (
         |  SELECT s.vec_id, s.j, cb.c_id, ${subDist2("s.ve", "cb.vc")} AS d2
         |  FROM subs s CROSS JOIN cb),
         |codes AS (
         |  SELECT vec_id AS doc_id, j, c_id AS code FROM (
         |    SELECT vec_id, j, c_id,
         |      row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c_id) AS r
         |    FROM scored) WHERE r = 1),
         |lut AS (
         |  SELECT s.q_id, s.j, cb.c_id AS code, ${subDot("s.qv", "cb.vc")} AS part
         |  FROM (SELECT vec_id AS q_id, j, embedding AS qv
         |        FROM emb CROSS JOIN (SELECT unnest(range(${Ann.PqM})) AS j)
         |        WHERE vec_id < ${Knn.NQueries}) s
         |  CROSS JOIN cb),
         |adc AS (
         |  SELECT lut.q_id, c.doc_id, ${S.fxSum("lut.part", 9)} AS score
         |  FROM codes c JOIN lut ON c.j = lut.j AND c.code = lut.code
         |  GROUP BY lut.q_id, c.doc_id),
         |cand AS (
         |  SELECT q_id, doc_id FROM (
         |    SELECT q_id, doc_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS r
         |    FROM adc) WHERE r <= ${3 * k}),
         |q0 AS ${Knn.SqlOracle.queriesCte()},
         |d0 AS ${Knn.SqlOracle.docsCte()},
         |exact AS (
         |  SELECT c.q_id, c.doc_id, ${S.dot("q.q_vec", "d.doc_vec", Dim)} AS score
         |  FROM cand c JOIN q0 q USING (q_id) JOIN d0 d USING (doc_id)),
         |ranked AS (
         |  SELECT q_id, doc_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
         |  FROM exact)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, ${S.rnd("score", 4)} AS score
         |FROM ranked WHERE rank <= $k
         |ORDER BY q_id, rank""".stripMargin
  }
}
