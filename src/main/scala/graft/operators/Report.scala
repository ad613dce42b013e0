package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions._
import graft.functions.{Sql => S}

/** The reference's post-experiment analysis/report layer re-expressed
  * as Spark plans (ref: experiments/produce_h3_model_comparison.py —
  * per-(n_docs, model) summary grid + best-model plots;
  * experiments/produce_h2_summary_and_plots.py — search_mode lift per
  * model).
  *
  * The reference aggregates driver-side over result-JSON files; here
  * the SAME aggregations run as DataFrame plans directly over the
  * experiment legs, so the report layer scales with the cluster and is
  * oracle-verifiable.
  */
object Report {

  /** H3-style comparison grid: per corpus size, every model ranked by
    * MAP (ties broken by model name so the order is total), with each
    * model's gap to the per-size best (ref:
    * produce_h3_model_comparison.py:63-90 — summary_by_n_docs_and_model
    * plus the per-plot best-model series). One window over the
    * [[Experiment.sizes]] grid — no extra shuffle beyond the per-cap
    * partition, which is tiny by construction (|caps|·|models| rows).
    */
  def modelBySize(spark: SparkSession, dir: String): DataFrame = {
    // ONE window spec for both columns: ranked desc by map, the
    // running first() IS the per-cap best — a single Window operator
    // and sort instead of two passes
    val ranked = Window.partitionBy("corpus_cap")
      .orderBy(col("map").desc, col("model"))
    Experiment.sizes(spark, dir)
      .withColumn("best_map", first("map").over(ranked))
      .withColumn("model_rank", row_number().over(ranked).cast("long"))
      .select(col("corpus_cap"), col("model"), col("n_docs"),
        col("mean_p_at_5"), col("map"),
        rnd(col("best_map") - col("map"), 4).as("map_gap"),
        col("model_rank"))
      // caps × models rows, bounded by construction: ordered in one
      // task, no range-partitioning sample job
      .transform(Knn.ranked("corpus_cap", "model_rank"))
  }

  /** H2-style search-mode lift: per model, hybrid-vs-vector deltas on
    * MAP and P@5 (ref: produce_h2_summary_and_plots.py groups the H2
    * grid by search_mode and plots the per-model comparison; the
    * conclusions text reports the hybrid lift). Conditional
    * aggregation folds the two mode legs of [[Experiment.matrix]] into
    * one row per model — a single groupBy over an already-tiny frame.
    */
  def modeLift(spark: SparkSession, dir: String): DataFrame =
    Experiment.matrix(spark, dir)
      .groupBy("model", "dim", "n_docs", "n_queries")
      .agg(
        max(when(col("search_mode") === "vector", col("map"))).as("vector_map"),
        max(when(col("search_mode") === "hybrid", col("map"))).as("hybrid_map"),
        max(when(col("search_mode") === "vector", col("mean_p_at_5"))).as("vector_p5"),
        max(when(col("search_mode") === "hybrid", col("mean_p_at_5"))).as("hybrid_p5"))
      .select(col("model"), col("dim"), col("n_docs"), col("n_queries"),
        col("vector_map"), col("hybrid_map"),
        rnd(col("hybrid_map") - col("vector_map"), 4).as("map_lift"),
        col("vector_p5"), col("hybrid_p5"),
        rnd(col("hybrid_p5") - col("vector_p5"), 4).as("p5_lift"))

  /** Corpus-construction funnel: docs and tokens surviving each stage
    * of the quality pipeline (raw → token gate → quality gate →
    * near-dup survivor → language quota — the exact gates of
    * [[Shaping.qualityFilterPipeline]], same constants, same hash
    * sample), the accounting table every corpus-construction report
    * publishes. ONE corpus pass: stage membership is five boolean
    * flags per row (the dedup stage a min-over-norm_hash window, not
    * a join), folded by conditional aggregation into a single row and
    * exploded to one row per stage. */
  def filterFunnel(spark: SparkSession, dir: String,
                   minToks: Long = 20L, minQuality: Double = 0.6): DataFrame = {
    val base = Shaping.withQualityColumns(
      graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("text")))
      .drop("text")
    val s1 = col("n_toks") >= minToks
    val s2 = s1 && (col("quality") >= minQuality)
    val minDup = min(when(s2, col("doc_id")))
      .over(Window.partitionBy("norm_hash"))
    val flagged = base
      .withColumn("_s1", s1).withColumn("_s2", s2)
      .withColumn("_s3", s2 && (col("doc_id") === minDup))
      .withColumn("_s4", col("_s3") &&
        (Shaping.sampleKey(col("doc_id")) < Shaping.langQuota))
    def d(flag: Column) = sum(when(flag, 1L).otherwise(0L))
    def t(flag: Column) = sum(when(flag, col("n_toks")).otherwise(0L))
    val one = flagged.agg(
      count(lit(1)).as("d0"), sum(col("n_toks")).as("t0"),
      d(col("_s1")).as("d1"), t(col("_s1")).as("t1"),
      d(col("_s2")).as("d2"), t(col("_s2")).as("t2"),
      d(col("_s3")).as("d3"), t(col("_s3")).as("t3"),
      d(col("_s4")).as("d4"), t(col("_s4")).as("t4"))
    def row(stage: String, dc: String, tc: String) =
      struct(lit(stage).as("stage"), col(dc).as("n_docs"),
        col(tc).as("n_tokens"),
        rnd(col(dc) / col("d0").cast("double"), 4).as("docs_kept_pct"))
    one.select(explode(array(
        row("1_raw", "d0", "t0"),
        row("2_token_gate", "d1", "t1"),
        row("3_quality_gate", "d2", "t2"),
        row("4_dedup", "d3", "t3"),
        row("5_lang_quota", "d4", "t4"))).as("f"))
      .select(col("f.stage"), col("f.n_docs"), col("f.n_tokens"),
        col("f.docs_kept_pct"))
  }

  object SqlOracle {
    def modelBySize: String =
      s"""WITH size_grid AS (
         |${Experiment.SqlOracle.sizes()}
         |), ranked AS (
         |  SELECT corpus_cap, model, n_docs, mean_p_at_5, map,
         |    first_value(map) OVER (PARTITION BY corpus_cap
         |                           ORDER BY map DESC, model) AS best_map,
         |    CAST(row_number() OVER (PARTITION BY corpus_cap
         |                            ORDER BY map DESC, model) AS BIGINT) AS model_rank
         |  FROM size_grid)
         |SELECT corpus_cap, model, n_docs, mean_p_at_5, map,
         |  ${S.rnd("best_map - map")} AS map_gap, model_rank
         |FROM ranked
         |ORDER BY corpus_cap, model_rank""".stripMargin

    def filterFunnel(minToks: Long = 20L, minQuality: Double = 0.6): String = {
      val stop = TextAnalysis.markers.head._2.map(w => s"'$w'").mkString(", ")
      val toksE = S.tokens("text")
      val quota = Shaping.quotas.foldRight("1000") { case ((l, q), els) =>
        s"CASE WHEN lang = '$l' THEN $q ELSE $els END"
      }
      def stageRow(stage: String, dc: String, tc: String) =
        s"""SELECT '$stage' AS stage, $dc AS n_docs, $tc AS n_tokens,
           |  ${S.rnd(s"$dc / CAST(d0 AS DOUBLE)")} AS docs_kept_pct FROM a""".stripMargin
      s"""WITH s AS (
         |  SELECT doc_id, lang,
         |    CAST(len($toksE) AS BIGINT) AS n_toks,
         |    CAST(len(list_distinct($toksE)) AS BIGINT) AS n_uniq,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len(list_filter($toksE, t -> t IN ($stop))) AS BIGINT) AS n_stop,
         |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_hash
         |  FROM documents),
         |q AS (
         |  SELECT doc_id, lang, n_toks, norm_hash,
         |    (floor((
         |      0.25e0 * least(1.0e0, n_toks / 100.0e0) +
         |      0.35e0 * (n_uniq / CAST(n_toks AS DOUBLE)) +
         |      0.2e0 * least(1.0e0, ((n_chars - (n_toks - 1)) / CAST(n_toks AS DOUBLE)) / 8.0e0) +
         |      0.2e0 * (1.0e0 - n_stop / CAST(n_toks AS DOUBLE))) * 1e4 + 0.5e0) / 1e4) AS quality
         |  FROM s),
         |f1 AS (
         |  SELECT *, (n_toks >= $minToks) AS s1,
         |    (n_toks >= $minToks AND quality >= $minQuality) AS s2
         |  FROM q),
         |f2 AS (
         |  SELECT *, (s2 AND doc_id = min(CASE WHEN s2 THEN doc_id END)
         |             OVER (PARTITION BY norm_hash)) AS s3
         |  FROM f1),
         |f3 AS (
         |  SELECT *, (s3 AND ${S.polyHash("'smp' || CAST(doc_id AS VARCHAR)")} % 1000 < $quota) AS s4
         |  FROM f2),
         |a AS (
         |  SELECT count(*) AS d0, CAST(sum(n_toks) AS BIGINT) AS t0,
         |    CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         |    CAST(sum(CASE WHEN s1 THEN n_toks ELSE 0 END) AS BIGINT) AS t1,
         |    CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
         |    CAST(sum(CASE WHEN s2 THEN n_toks ELSE 0 END) AS BIGINT) AS t2,
         |    CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
         |    CAST(sum(CASE WHEN s3 THEN n_toks ELSE 0 END) AS BIGINT) AS t3,
         |    CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS d4,
         |    CAST(sum(CASE WHEN s4 THEN n_toks ELSE 0 END) AS BIGINT) AS t4
         |  FROM f3)
         |${stageRow("1_raw", "d0", "t0")}
         |UNION ALL ${stageRow("2_token_gate", "d1", "t1")}
         |UNION ALL ${stageRow("3_quality_gate", "d2", "t2")}
         |UNION ALL ${stageRow("4_dedup", "d3", "t3")}
         |UNION ALL ${stageRow("5_lang_quota", "d4", "t4")}""".stripMargin
    }

    /** `idf`: same per-SF literal overlay as the matrix oracle (the
      * wrapped grid must carry it too, or the wrapper would diverge
      * exactly where the base oracle needed the overlay). */
    def modeLift(idf: Option[Seq[(Long, Long)]] = None): String =
      s"""WITH mode_grid AS (
         |${Experiment.SqlOracle.matrix(idf = idf)}
         |), folded AS (
         |  SELECT model, dim, n_docs, n_queries,
         |    max(CASE WHEN search_mode = 'vector' THEN map END) AS vector_map,
         |    max(CASE WHEN search_mode = 'hybrid' THEN map END) AS hybrid_map,
         |    max(CASE WHEN search_mode = 'vector' THEN mean_p_at_5 END) AS vector_p5,
         |    max(CASE WHEN search_mode = 'hybrid' THEN mean_p_at_5 END) AS hybrid_p5
         |  FROM mode_grid GROUP BY model, dim, n_docs, n_queries)
         |SELECT model, dim, n_docs, n_queries, vector_map, hybrid_map,
         |  ${S.rnd("hybrid_map - vector_map")} AS map_lift,
         |  vector_p5, hybrid_p5,
         |  ${S.rnd("hybrid_p5 - vector_p5")} AS p5_lift
         |FROM folded""".stripMargin
  }
}
