package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions._
import graft.functions.{Sql => S}

/** Fit-drift metrics for the frozen serving fits (VERDICT r13
  * §next-6): every persisted index freezes a fit — IVF `_cent`
  * centroids, SQ8/PQ `_fit` grids, TF-IDF `_vocab` — and documents
  * "re-train + rebuild when drift accumulates", but nothing MEASURED
  * drift, so the refit trigger had no number. [[indexDriftStats]]
  * supplies it: the corpus splits into a BUILD half (even ids — the
  * data a fit would have been trained on) and a BATCH half (odd ids —
  * new data served under the frozen fit), each layout's fit is
  * derived from the build half alone, and one row per layout compares
  * the batch's fit-quality statistic against build-time:
  *
  *  - `ivf_cent`: mean assigned-centroid dot product (the layout's own
  *    max-dot assignment rule) — batch/build < 1 means new vectors sit
  *    farther from every centroid than the build did → lists blur.
  *  - `pq_fit`: mean per-subspace quantization error (min squared-L2
  *    to the codebook, the pqEncode argmin) — ratio > 1 = codewords no
  *    longer represent the data.
  *  - `sq8_fit`: fraction of (value, dim) pairs OUTSIDE the fitted
  *    [lo, hi] grid — exactly the mass [[Ann.sq8Encode]]'s clamp
  *    saturates; build-side is 0 by construction (min/max cover their
  *    own fit data), so the batch figure is the drift directly and the
  *    ratio is null.
  *  - `tfidf_vocab`: OOV mass — the fraction of token OCCURRENCES the
  *    frozen top-N vocabulary (the [[Encoders]] fit rule: total tf
  *    desc, token asc) cannot represent.
  *
  * Scale shape: each leg is one keyed aggregate with map-side combine
  * into a CONSTANT-size output (4 rows total); the fits in the plan
  * are the same broadcast-size frames the real layouts store. All
  * means are fixed-point folds and the drift ratio divides the two
  * already-quantized stats, so the row hashes identically on any
  * partitioning and in the DuckDB mirror. */
object Drift {

  private def leg(name: String, perSplit: DataFrame): DataFrame =
    perSplit // (split, stat)
      .agg(
        max(when(col("split") === 0, col("stat"))).as("b"),
        max(when(col("split") === 1, col("stat"))).as("a"))
      .select(lit(name).as("layout"),
        rnd(col("b"), 6).as("build_stat"),
        rnd(col("a"), 6).as("batch_stat"),
        when(rnd(col("b"), 6) =!= 0.0,
          rnd(rnd(col("a"), 6) / rnd(col("b"), 6), 6)).as("drift_ratio"))

  def indexDriftStats(spark: SparkSession, dir: String,
                      vocabDim: Int = Encoders.Dim): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val docs = emb.filter(col("vec_id") >= Knn.NQueries)
      .select(col("vec_id").as("doc_id"), col("embedding").as("doc_vec"),
        (col("vec_id") % 2).as("split"))

    // ivf_cent: mean max-dot to centroids drawn from the BUILD half
    // alone (first NCentroids even doc ids — ADVICE r14: the corpus-
    // prefix seeds included odd-id vectors, which made this ratio ~1
    // by construction on any static corpus instead of measuring a
    // build-frozen fit)
    val cent = docs.filter(col("split") === 0)
      .orderBy("doc_id").limit(Ann.NCentroids)
      .select(col("doc_id").as("c_id"), col("doc_vec").as("c_vec"))
    val ivf = leg("ivf_cent", docs.crossJoin(broadcast(cent))
      .groupBy("doc_id", "split")
      .agg(max(dot(col("doc_vec"), col("c_vec"))).as("best"))
      .groupBy("split").agg(fxAvg(col("best"), 6).as("stat")))

    // pq_fit: mean per-subspace min squared-L2 to a codebook drawn
    // from the BUILD half alone (first PqCodes even doc ids — same
    // ADVICE r14 fix as ivf_cent)
    def slices(c: org.apache.spark.sql.Column) = array(
      (0 until Ann.PqM).map(j => slice(c, j * Ann.PqSub + 1, Ann.PqSub)): _*)
    val cb = docs.filter(col("split") === 0)
      .orderBy("doc_id").limit(Ann.PqCodes)
      .select(posexplode(slices(col("doc_vec"))).as(Seq("j", "cvec")))
    val pq = leg("pq_fit", docs
      .select(col("doc_id"), col("split"),
        posexplode(slices(col("doc_vec"))).as(Seq("j", "evec")))
      .join(broadcast(cb), Seq("j"))
      .groupBy("doc_id", "j", "split")
      .agg(min(native.dist2F(col("evec"), col("cvec"))).as("qerr"))
      .groupBy("split").agg(fxAvg(col("qerr"), 6).as("stat")))

    // sq8_fit: fraction of batch values outside the build-fitted grid
    val vals = docs
      .select(col("split"), posexplode(col("doc_vec")).as(Seq("dim0", "x")))
      .select(col("split"), (col("dim0") + 1).as("dim"),
        col("x").cast("double").as("v"))
    val ranges = vals.filter(col("split") === 0)
      .groupBy("dim").agg(min("v").as("lo"), max("v").as("hi"))
    val sq8 = leg("sq8_fit", vals.join(broadcast(ranges), Seq("dim"))
      .select(col("split"),
        (col("v") < col("lo") || col("v") > col("hi"))
          .cast("double").as("out"))
      .groupBy("split").agg(fxAvg(col("out"), 9).as("stat")))

    // tfidf_vocab: OOV occurrence mass under the build-half top-N fit
    val toks = Tables.documents(spark, dir)
      .select((col("doc_id") % 2).as("split"),
        explode(tokens(col("text"))).as("tok"))
    val vocab = toks.filter(col("split") === 0)
      .groupBy("tok").agg(count(lit(1)).as("total"))
      .orderBy(desc("total"), col("tok")).limit(vocabDim)
      .select(col("tok"), lit(1).as("inv"))
    val tfidf = leg("tfidf_vocab", toks
      .join(broadcast(vocab), Seq("tok"), "left")
      .select(col("split"),
        when(col("inv").isNull, 1.0).otherwise(0.0).as("oov"))
      .groupBy("split").agg(fxAvg(col("oov"), 9).as("stat")))

    ivf.unionByName(pq).unionByName(sq8).unionByName(tfidf)
  }

  /** The drift alarm's CONSUMER (VERDICT r15 §next-4): turns
    * [[indexDriftStats]] into a per-layout {keep | refit} decision
    * plus the rebuild entrypoint to invoke, closing the
    * alarm → refit loop that was previously prose.
    *
    * Thresholds are calibrated from the planted-drift A/B
    * (Round15/16Spec; [[graft.sources.DataGen.writeDriftedDataset]]):
    * each fires strictly BETWEEN the measured iid and drifted values
    * of its layout's own statistic —
    *
    *  - `ivf_cent`: |drift_ratio − 1| > 0.2 (iid deviation 0.015,
    *    drifted 0.455 — either direction blurs the lists: farther
    *    vectors spread mass, closer ones collapse it onto few cells);
    *  - `pq_fit`: drift_ratio > 1.5 (iid 1.04, drifted 3.51; a ratio
    *    BELOW 1 means the codebook fits the batch better — no refit);
    *  - `sq8_fit`: batch out-of-grid mass > 0.05 (iid 0.002, drifted
    *    0.297 — the fraction the clamp saturates, an absolute figure
    *    since the build side is 0 by construction);
    *  - `tfidf_vocab`: batch OOV occurrence mass > 0.05 (iid 0.008,
    *    drifted 0.145 at vocabDim 4096).
    *
    * `vocabDim` defaults to 4096 here (not the serving default 64):
    * the vocab alarm needs a fit with CAPACITY — at 64 the OOV
    * baseline is saturated (~0.69 on iid data) and absolute mass
    * cannot move enough to discriminate (measured).
    *
    * The rebuild column names the library call that re-derives the
    * layout's fit from the CURRENT corpus and rewrites the serving
    * artifact: writeTrainedIvfIndex / writePqIndex / writeSq8Index /
    * writeTfidfIndex. Scale shape:
    * inherits [[indexDriftStats]]'s constant 4-row output; the
    * decision layer is pure projection. */
  def refitAdvice(spark: SparkSession, dir: String,
                  vocabDim: Int = 4096): DataFrame = {
    val stats = indexDriftStats(spark, dir, vocabDim)
    val fire =
      (col("layout") === "ivf_cent" &&
        abs(col("drift_ratio") - 1.0) > 0.2) ||
        (col("layout") === "pq_fit" && col("drift_ratio") > 1.5) ||
        (col("layout").isin("sq8_fit", "tfidf_vocab") &&
          col("batch_stat") > 0.05)
    stats.select(col("layout"), col("build_stat"), col("batch_stat"),
      col("drift_ratio"),
      when(col("layout") === "ivf_cent", 0.2)
        .when(col("layout") === "pq_fit", 1.5)
        .otherwise(0.05).as("threshold"),
      when(fire, "refit").otherwise("keep").as("action"),
      when(col("layout") === "ivf_cent", "Ann.writeTrainedIvfIndex")
        .when(col("layout") === "pq_fit", "Ann.writePqIndex")
        .when(col("layout") === "sq8_fit", "Ann.writeSq8Index")
        .otherwise("Encoders.writeTfidfIndex").as("rebuild"))
  }

  object SqlOracle {
    private val Dim = VectorCore.Dim

    private def legSql(name: String, perSplitCte: String): String =
      s"""SELECT '$name' AS layout,
         |  ${S.rnd("max(CASE WHEN split = 0 THEN stat END)", 6)} AS build_stat,
         |  ${S.rnd("max(CASE WHEN split = 1 THEN stat END)", 6)} AS batch_stat,
         |  CASE WHEN ${S.rnd("max(CASE WHEN split = 0 THEN stat END)", 6)} <> 0.0e0
         |    THEN ${S.rnd(
               S.rnd("max(CASE WHEN split = 1 THEN stat END)", 6) + " / " +
                 S.rnd("max(CASE WHEN split = 0 THEN stat END)", 6), 6)}
         |  END AS drift_ratio
         |FROM ($perSplitCte) t_$name""".stripMargin

    private def subDist2(a: String, b: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"[(CAST($a[j*${Ann.PqSub}+i] AS DOUBLE) - CAST($b[j*${Ann.PqSub}+i] AS DOUBLE)) * " +
        s"(CAST($a[j*${Ann.PqSub}+i] AS DOUBLE) - CAST($b[j*${Ann.PqSub}+i] AS DOUBLE)) " +
        s"for i in range(1, ${Ann.PqSub + 1})]), (x, y) -> x + y)"

    def indexDriftStats(vocabDim: Int = Encoders.Dim): String = {
      val docsCte =
        s"""dd AS (SELECT vec_id AS doc_id, embedding AS doc_vec,
           |             vec_id % 2 AS split
           |      FROM embeddings WHERE vec_id >= ${Knn.NQueries})""".stripMargin
      val ivf =
        s"""WITH $docsCte,
           |cent AS (SELECT doc_id AS c_id, doc_vec AS c_vec FROM dd
           |         WHERE split = 0 ORDER BY doc_id LIMIT ${Ann.NCentroids}),
           |best AS (
           |  SELECT doc_id, split, max(${S.dot("doc_vec", "c_vec", Dim)}) AS best
           |  FROM dd CROSS JOIN cent GROUP BY doc_id, split)
           |SELECT split, ${S.fxAvg("best", 6)} AS stat FROM best GROUP BY split""".stripMargin
      val pq =
        s"""WITH $docsCte,
           |cb AS (SELECT j, doc_vec AS vc
           |       FROM (SELECT doc_vec FROM dd WHERE split = 0
           |             ORDER BY doc_id LIMIT ${Ann.PqCodes})
           |       CROSS JOIN (SELECT unnest(range(${Ann.PqM})) AS j)),
           |qe AS (
           |  SELECT d.doc_id, cb.j, d.split,
           |    min(${subDist2("d.doc_vec", "cb.vc")}) AS qerr
           |  FROM dd d CROSS JOIN cb GROUP BY d.doc_id, cb.j, d.split)
           |SELECT split, ${S.fxAvg("qerr", 6)} AS stat FROM qe GROUP BY split""".stripMargin
      val sq8 =
        s"""WITH $docsCte,
           |vals AS (SELECT split, i AS dim, CAST(doc_vec[i] AS DOUBLE) AS v
           |         FROM dd CROSS JOIN (SELECT unnest(range(1, ${Dim + 1})) AS i)),
           |ranges AS (SELECT dim, min(v) AS lo, max(v) AS hi
           |           FROM vals WHERE split = 0 GROUP BY dim)
           |SELECT split,
           |  ${S.fxAvg("CAST(v < lo OR v > hi AS DOUBLE)", 9)} AS stat
           |FROM vals JOIN ranges USING (dim) GROUP BY split""".stripMargin
      val tfidf =
        s"""WITH toks AS (
           |  SELECT doc_id % 2 AS split, unnest(${S.tokens("text")}) AS tok
           |  FROM documents),
           |vocab AS (
           |  SELECT tok, 1 AS inv FROM (
           |    SELECT tok, count(*) AS total FROM toks WHERE split = 0
           |    GROUP BY tok ORDER BY total DESC, tok LIMIT $vocabDim)),
           |oov AS (
           |  SELECT t.split,
           |    CASE WHEN v.inv IS NULL THEN 1.0e0 ELSE 0.0e0 END AS oov
           |  FROM toks t LEFT JOIN vocab v USING (tok))
           |SELECT split, ${S.fxAvg("oov", 9)} AS stat FROM oov GROUP BY split""".stripMargin
      Seq(legSql("ivf_cent", ivf), legSql("pq_fit", pq),
        legSql("sq8_fit", sq8), legSql("tfidf_vocab", tfidf))
        .mkString("\nUNION ALL\n")
    }

    /** DuckDB mirror of [[Drift.refitAdvice]] — the same calibrated
      * CASE thresholds over the [[indexDriftStats]] statistics, so
      * the keep/refit decision itself is oracle-checked. */
    def refitAdvice(vocabDim: Int = 4096): String =
      s"""SELECT layout, build_stat, batch_stat, drift_ratio,
         |  CASE layout WHEN 'ivf_cent' THEN 0.2e0
         |    WHEN 'pq_fit' THEN 1.5e0 ELSE 0.05e0 END AS threshold,
         |  CASE WHEN (layout = 'ivf_cent' AND abs(drift_ratio - 1.0e0) > 0.2e0)
         |    OR (layout = 'pq_fit' AND drift_ratio > 1.5e0)
         |    OR (layout IN ('sq8_fit', 'tfidf_vocab') AND batch_stat > 0.05e0)
         |    THEN 'refit' ELSE 'keep' END AS action,
         |  CASE layout WHEN 'ivf_cent' THEN 'Ann.writeTrainedIvfIndex'
         |    WHEN 'pq_fit' THEN 'Ann.writePqIndex'
         |    WHEN 'sq8_fit' THEN 'Ann.writeSq8Index'
         |    ELSE 'Encoders.writeTfidfIndex' END AS rebuild
         |FROM (${indexDriftStats(vocabDim)}) ds""".stripMargin
  }
}
