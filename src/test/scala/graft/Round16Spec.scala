package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.operators.Drift
import graft.sources.DataGen

/** Round-16 pins: the drift alarm's CONSUMER (VERDICT r15 §next-4) —
  * [[Drift.refitAdvice]] must say `refit` for every layout under the
  * planted-drift corpus and `keep` for every layout on the iid twin,
  * with the rebuild column naming the layout's own re-fit entrypoint.
  * The thresholds were calibrated between the two measured states
  * (iid 0.99/1.04/0.002/0.008 vs drifted 1.45/3.51/0.297/0.145 per
  * layout, Round15Spec), so this is the loop-closure check: alarm →
  * decision → entrypoint. */
class Round16Spec extends AnyFunSuite with Matchers with SharedSpark {

  test("refitAdvice: refit on planted drift, keep on iid, for all four layouts") {
    val iid = tempDir("graft-radv-iid")
    val drifted = tempDir("graft-radv-pl")
    DataGen.writeDataset(spark, iid, nDocs = 2000L, nVecs = 2000L)
    DataGen.writeDriftedDataset(spark, drifted, nDocs = 2000L, nVecs = 2000L)
    def advice(dir: String): Map[String, (String, String)] =
      Drift.refitAdvice(spark, dir).collect().map { r =>
        r.getString(0) -> ((r.getString(5), r.getString(6)))
      }.toMap
    val layouts = Seq("ivf_cent", "pq_fit", "sq8_fit", "tfidf_vocab")
    val a0 = advice(iid)
    val a1 = advice(drifted)
    a0.keySet shouldBe layouts.toSet
    a1.keySet shouldBe layouts.toSet
    layouts.foreach { l =>
      withClue(s"layout $l on iid:") { a0(l)._1 shouldBe "keep" }
      withClue(s"layout $l on drifted:") { a1(l)._1 shouldBe "refit" }
    }
    // the rebuild column names the layout's own re-fit entrypoint
    a1("ivf_cent")._2 shouldBe "Ann.writeTrainedIvfIndex"
    a1("pq_fit")._2 shouldBe "Ann.writePqIndex"
    a1("sq8_fit")._2 shouldBe "Ann.writeSq8Index"
    a1("tfidf_vocab")._2 shouldBe "Encoders.writeTfidfIndex"
  }

  test("H2 timed shape: a fresh serving plan re-executes the scan; re-collecting a pre-planned Dataset reuses its shuffle stages") {
    // The r16 measurement-honesty pin (VERDICT r15 §next-5 follow-up):
    // the pre-r16 H2 query passes re-collected ONE pre-planned Dataset,
    // whose materialized shuffle stages the DAGScheduler silently
    // reuses — every timed pass after the first ran the post-shuffle
    // merge ONLY (1 job / 1 stage), never the corpus scan. A timed pass
    // must build a fresh Dataset per collect. This spec pins BOTH
    // behaviors with a stage-count listener so a future protocol
    // regression (or a Spark behavior change that silently invalidates
    // the fix) fails loudly.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    import graft.operators.Encoders
    val dir = tempDir("graft-h2shape")
    DataGen.writeDataset(spark, dir, nDocs = 500L, nVecs = 64L)
    val gatOut = tempDir("graft-h2shape-gat") + "/gat"
    Encoders.writeGatheredDirect(spark, dir, gatOut, Encoders.Dim)
    val gat = spark.read.parquet(gatOut)
    val qb = Encoders.denseQueriesLocal(gat, 5, Encoders.Dim)
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
    }
    def stagesOf(f: => Unit): Int = {
      spark.sparkContext.addSparkListener(l)
      try {
        stages.set(0); f
        Thread.sleep(500) // let the listener bus drain
        stages.get
      } finally spark.sparkContext.removeSparkListener(l)
    }
    def fresh() = Encoders.hashingSearchDenseOver(gat, qb, 10, 5)
    val pre = fresh()
    pre.collect() // materialize pre's shuffle stages + warm codegen
    val reused = stagesOf(pre.collect())
    val scanned = stagesOf(fresh().collect())
    withClue(s"re-collect of a pre-planned Dataset (stages=$reused): ") {
      reused should be <= 1
    }
    withClue(s"fresh plan per collect (stages=$scanned): ") {
      scanned should be >= 2
    }
    // and the two produce identical rows — reuse was a measurement
    // hazard, never a correctness one
    fresh().collect().map(_.toString).sorted shouldBe
      pre.collect().map(_.toString).sorted
  }
}
