package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (tools/crosscheck.py).
  *
  * args: sfDir outDir [query...] — with query names, only that slice is
  * dumped (seconds instead of minutes per query while iterating). */
object Verify {
  private val Usage = "usage: Verify <sfDir> <outDir> [query...]"

  /** The oracle map actually dumped to oracle_sql.json, restricted to
    * `names`: the static [[SparkEntry.oracleSql]] contract plus per-SF
    * literal overlays for the queries whose oracles embed Spark-fitted
    * values, and the overlays' failures as query name → message.
    *
    * The idf overlay embeds the corpus's quantized idf values (the
    * NDCG-discount-table technique, parameterized by the (N, df)
    * integer stats at dump time — see [[operators.Encoders.idfLiterals]]);
    * it only swaps the idf *computation* for the fitted values, leaving
    * vocabulary selection derived in SQL. The OPQ and trained-PQ
    * oracles exist ONLY as overlays: the Jacobi eigenfit and the Lloyd
    * codebook fit have no SQL form, but their outputs are constant
    * matrices, so the FROZEN fits ride into the oracle as literals and
    * the rest is plain PQ SQL.
    *
    * Each overlay fails alone: a failed fit keeps the static oracles
    * (idf) or leaves its queries rows-only (OPQ/PQ), and is recorded
    * under every query of `names` it covers. Overlays covering none of
    * `names` are not fitted. */
  def oracleSqlFor(spark: SparkSession, sfDir: String,
                   names: Set[String]): (Map[String, String], Map[String, String]) = {
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def overlay(label: String, covers: String*)(
        build: => Map[String, String]): Map[String, String] =
      if (!covers.exists(names)) Map.empty
      else try build catch { case e: Throwable =>
        System.err.println(s"[verify] $label overlay failed: ${e.getMessage}")
        covers.filter(names).foreach { n =>
          val kept = if (SparkEntry.oracleSql.contains(n)) "static oracle kept" else "rows-only"
          errors(n) = s"$label overlay failed ($kept): ${describe(e)}"
        }
        Map.empty
      }
    val idf = overlay("idf literal", "text_keyword_extract", "text_bigram_lm",
        "text_bm25_topk", "pipeline_hybrid_search", "pipeline_bm25_text_search",
        "pipeline_hybrid_text_search", "pipeline_experiment_matrix",
        "report_mode_lift") {
      // one fit job feeds both idf tables (they differ only in the
      // idf formula over the same collected (nDocs, df) rows)
      val (idfT, idfB) = operators.Encoders.idfLiteralsBoth(spark, sfDir)
      val qlp = operators.TextAnalysis.bigramQlpLiterals(spark, sfDir)
      Map(
        "text_keyword_extract" ->
          operators.Encoders.SqlOracle.keywordExtract(idf = Some(idfT)),
        "text_bigram_lm" ->
          operators.TextAnalysis.SqlOracle.bigramLmScore(Some(qlp)),
        "text_bm25_topk" ->
          operators.Encoders.SqlOracle.bm25TopK(idf = Some(idfB)),
        "pipeline_hybrid_search" ->
          operators.Encoders.SqlOracle.hybridSearch(idf = Some(idfB)),
        "pipeline_bm25_text_search" ->
          operators.Encoders.SqlOracle.bm25TextTopK(idf = Some(idfB)),
        "pipeline_hybrid_text_search" ->
          operators.Encoders.SqlOracle.hybridTextSearch(idf = Some(idfB)),
        "pipeline_experiment_matrix" ->
          operators.Experiment.SqlOracle.matrix(idf = Some(idfB)),
        "report_mode_lift" ->
          operators.Report.SqlOracle.modeLift(idf = Some(idfB)))
    }
    val opq = overlay("opq", "eval_ann_recall_opq") {
      Map("eval_ann_recall_opq" -> operators.Eval.SqlOracle.annRecall(
        operators.Opq.SqlOracle.opqSearch(operators.Opq.rotation(spark, sfDir))))
    }
    // the memoized collected codebook rows ARE both the Spark plan's
    // codebook and the oracle's literal table
    val pqTrained = overlay("pq-trained", "ann_pq_trained", "eval_ann_recall_pq_trained") {
      val rows = operators.Ann.trainedPqRows(spark, sfDir)
      if (rows.isEmpty) Map.empty
      else {
        val searchSql = operators.Ann.SqlOracle.pqSearchTrainedSql(rows)
        Map("ann_pq_trained" -> searchSql,
          "eval_ann_recall_pq_trained" -> operators.Eval.SqlOracle.annRecall(searchSql))
      }
    }
    // full OPQ: both frozen fits composed (rotation matrix + rotated-
    // space codebook literals)
    val opqTrained = overlay("opq-trained", "eval_ann_recall_opq_trained") {
      val rows = operators.Opq.trainedOpqRows(spark, sfDir)
      if (rows.isEmpty) Map.empty
      else Map("eval_ann_recall_opq_trained" ->
        operators.Eval.SqlOracle.annRecall(
          operators.Opq.SqlOracle.opqTrainedSearch(operators.Opq.rotation(spark, sfDir), rows)))
    }
    // refined OPQ (one non-parametric alternation): the SAME composed
    // overlay shape as opq_trained, parameterized by the refined pair
    val opqRefined = overlay("opq-refined", "eval_ann_recall_opq_refined") {
      val (r1, rows) = operators.Opq.refinedFit(spark, sfDir)
      if (rows.isEmpty) Map.empty
      else Map("eval_ann_recall_opq_refined" ->
        operators.Eval.SqlOracle.annRecall(operators.Opq.SqlOracle.opqTrainedSearch(r1, rows)))
    }
    val oracles = (SparkEntry.oracleSql ++ idf ++ opq ++ pqTrained ++ opqTrained ++ opqRefined)
      .filter { case (n, _) => names(n) }
    (oracles, errors.toMap)
  }

  /** Writes each of `names` (default: every declared query) to
    * `<outDir>/<name>` as parquet, then `oracle_sql.json` with those
    * names' oracles, `_errors.json` (query name → failure, `{}` when
    * none) and `_memo.json` (the [[Memo.snapshot]] after the run), and
    * returns the errors. An unknown name throws before
    * anything is written. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          names: Seq[String] = SparkEntry.queries.keys.toSeq): Map[String, String] = {
    val queries = SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}; $Usage")
    new java.io.File(outDir).mkdirs()
    // A thrown query must be LOUD in the artifact: r7 proved that
    // stderr-only reporting lets 6 broken queries silently vanish from
    // the correctness inventory (101 green entries looked complete
    // against 107 registered). Every failure lands in _errors.json.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    names.foreach { name =>
      try queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors(name) = describe(e)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Most dedup oracles are UNCAPPED SQL while the Spark operators cap
    // pathological blocks — oracle equality therefore requires every
    // observed block at this sf to be under its operator's cap. Check
    // it explicitly so a data refresh shows up as this line, not as a
    // confusing row-count diff (ADVICE r2). The simhash band cap is
    // MIRRORED in its oracle (approximate-by-cap), so that entry
    // (cap = -1) is informational and can never be violated.
    try operators.Dedup.maxBlockSizes(spark, sfDir).foreach { case (k, v, cap) =>
      val verdict =
        if (cap < 0) "mirrored-in-oracle" else if (v > cap) "VIOLATED" else "ok"
      System.err.println(s"[verify] block-cap $verdict: $k max=$v cap=$cap")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] block-cap check failed: ${e.getMessage}")
    }
    val (oracles, overlayErrors) = oracleSqlFor(spark, sfDir, names.toSet)
    // a query that threw keeps its own error; an overlay failure is
    // appended to it
    overlayErrors.foreach { case (n, e) => errors(n) = errors.get(n).fold(e)(_ + "; " + e) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonObject(oracles))
    // Written even when empty so "no file" can never be confused with
    // "no errors" by a consumer of the out dir.
    Files.writeString(Paths.get(s"$outDir/_errors.json"), jsonObject(errors))
    Files.writeString(Paths.get(s"$outDir/_memo.json"), memoJson(Memo.snapshot))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    errors.toMap
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(Usage)
      sys.exit(2)
    }
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // No non-zero exit on query failures: the DuckDB compare must
    // still run on the queries that DID dump; the artifact (not the
    // exit code) carries failure. An unknown query name throws.
    try run(spark, args(0), args(1), names) finally spark.stop()
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"

  /** `{"kinds": {kind: {"hits", "misses", "builds", "build_ms"}},
    * "peak_entries": {"artifacts", "prepared"}}`, kinds by name. */
  private def memoJson(m: Memo.Snapshot): String = {
    val kinds = m.kinds.toSeq.sortBy(_._1).map { case (k, c) =>
      s"""${q(k)}: {"hits": ${c.hits}, "misses": ${c.misses}, """ +
        s""""builds": ${c.builds}, "build_ms": ${c.buildMs}}"""
    }
    kinds.mkString("""{"kinds": {""", ", ", "}, ") +
      s""""peak_entries": {"artifacts": ${m.peakArtifacts}, "prepared": ${m.peakPlans}}}"""
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in oracle SQL would otherwise make a reader's
  // json.load fail and silently drop every verdict.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jsonObject(m: scala.collection.Map[String, String]): String =
    m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
}
