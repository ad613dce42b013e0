package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.operators.{Experiment, Report}

/** The report/analysis layer (ref: experiments/produce_h3_model_comparison.py,
  * produce_h2_summary_and_plots.py). */
class ReportLayerSpec extends AnyFunSuite with Matchers with SharedSpark {

  test("modelBySize ranks every model per corpus size with gap-to-best") {
    val grid = Report.modelBySize(spark, sfDir).collect()
    val caps = Experiment.SizeCaps
    grid.length shouldBe caps.length * 2 // two models per cap
    caps.foreach { c =>
      val rows = grid.filter(_.getAs[Long]("corpus_cap") == c)
      rows.map(_.getAs[Long]("model_rank")).sorted shouldBe
        (1L to rows.length.toLong).toArray
      // rank 1 is the per-cap best: zero gap; others have the exact
      // rounded delta to that best MAP
      val best = rows.find(_.getAs[Long]("model_rank") == 1L).get
      best.getAs[Double]("map_gap") shouldBe 0.0
      rows.foreach { r =>
        r.getAs[Double]("map_gap") shouldBe
          (math.floor((best.getAs[Double]("map") - r.getAs[Double]("map")) * 1e4 + 0.5) / 1e4)
      }
      // ties (possible when both caps exceed the corpus) must break by
      // model name so the ranking stays deterministic
      val sorted = rows.sortBy(_.getAs[Long]("model_rank"))
        .map(r => (-r.getAs[Double]("map"), r.getAs[String]("model")))
      sorted shouldBe sorted.sorted
    }
  }

  test("modeLift folds the matrix legs into hybrid-vs-vector deltas per model") {
    val matrix = Experiment.matrix(spark, sfDir).collect()
      .map(r => (r.getAs[String]("model"), r.getAs[String]("search_mode")) ->
        (r.getAs[Double]("map"), r.getAs[Double]("mean_p_at_5"))).toMap
    val lift = Report.modeLift(spark, sfDir).collect()
    lift.map(_.getAs[String]("model")).sorted shouldBe Array("hashing_tf", "tfidf")
    lift.foreach { r =>
      val m = r.getAs[String]("model")
      r.getAs[Double]("vector_map") shouldBe matrix((m, "vector"))._1
      r.getAs[Double]("hybrid_map") shouldBe matrix((m, "hybrid"))._1
      r.getAs[Double]("map_lift") shouldBe
        (math.floor((matrix((m, "hybrid"))._1 - matrix((m, "vector"))._1) * 1e4 + 0.5) / 1e4)
      r.getAs[Double]("p5_lift") shouldBe
        (math.floor((matrix((m, "hybrid"))._2 - matrix((m, "vector"))._2) * 1e4 + 0.5) / 1e4)
    }
  }

  test("filterFunnel stages are monotone and agree with the quality pipeline") {
    val funnel = Report.filterFunnel(spark, sfDir).collect()
      .map(r => r.getAs[String]("stage") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Double]("docs_kept_pct"))).toMap
    funnel.keySet shouldBe Set("1_raw", "2_token_gate", "3_quality_gate",
      "4_dedup", "5_lang_quota")
    // each stage keeps a subset of the previous one
    val ordered = funnel.toSeq.sortBy(_._1).map(_._2)
    ordered.zip(ordered.tail).foreach { case ((d1, t1, _), (d2, t2, _)) =>
      d2 should be <= d1
      t2 should be <= t1
    }
    funnel("1_raw")._3 shouldBe 1.0
    // the funnel's last stage IS the verified pipeline's survivor set
    funnel("5_lang_quota")._1 shouldBe
      operators.Shaping.qualityFilterPipeline(spark, sfDir).count()
    // raw row covers the whole corpus
    funnel("1_raw")._1 shouldBe Tables.documents(spark, sfDir).count()
  }
}
