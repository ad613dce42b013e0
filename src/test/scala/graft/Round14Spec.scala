package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.operators.{Ann, Compaction, Encoders, Knn, KnnGraph}

/** Round-14 pins: staged (atomic) fit-carrying index builds, the
  * hybridTextStd arm-depth guard, the incremental-pool walk, and the
  * persisted IVF+PQ layout. */
class Round14Spec extends AnyFunSuite with Matchers with SharedSpark {

  test("staged index build: a failed rebuild leaves the old index intact and readable") {
    val idx = s"${tempDir("graft-staged")}/codes"
    Ann.writeSq8Index(spark, sfDir, idx)
    val expected = Ann.sq8Indexed(spark, sfDir, idx)
      .collect().map(_.toString).sorted
    // a rebuild that dies mid-build (any point before the swap) must
    // not disturb the serving layout — the naive two-job overwrite
    // wiped _fit in its FIRST job
    intercept[RuntimeException] {
      Compaction.stagedBuild(spark, idx) { tmp =>
        spark.range(1).write.parquet(s"$tmp/partial")
        throw new RuntimeException("simulated build crash")
      }
    }
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_fit")) shouldBe true
    Ann.sq8Indexed(spark, sfDir, idx)
      .collect().map(_.toString).sorted shouldBe expected
    // the next build discards the stale staging dir and swaps cleanly
    Ann.writeSq8Index(spark, sfDir, idx)
    fs.exists(new org.apache.hadoop.fs.Path(s"$idx.__building")) shouldBe false
    Ann.sq8Indexed(spark, sfDir, idx)
      .collect().map(_.toString).sorted shouldBe expected
  }

  test("pq/tfidf builds are staged too: no codes-without-fit window") {
    // build once, then rebuild over the existing layout — the rebuild
    // must never pass through a state where codes exist without _fit
    val idx = s"${tempDir("graft-staged-pq")}/codes"
    Ann.writePqIndex(spark, sfDir, idx)
    val expected = Ann.pqIndexed(spark, sfDir, idx)
      .collect().map(_.toString).sorted
    Ann.writePqIndex(spark, sfDir, idx) // rebuild over live layout
    Ann.pqIndexed(spark, sfDir, idx)
      .collect().map(_.toString).sorted shouldBe expected
    val tf = s"${tempDir("graft-staged-tf")}/postings"
    Encoders.writeTfidfIndex(spark, sfDir, tf)
    val tfExpected = Encoders.tfIdfSearchIndexed(spark, tf)
      .collect().map(_.toString).sorted
    Encoders.writeTfidfIndex(spark, sfDir, tf)
    Encoders.tfIdfSearchIndexed(spark, tf)
      .collect().map(_.toString).sorted shouldBe tfExpected
  }

  test("hybridTextStd rejects k deeper than its memoized arms") {
    // arms are memoized at depth 10; a deeper k would silently diverge
    // from hybridSearchText (ADVICE r13) — loud, not wrong
    val e = intercept[IllegalArgumentException] {
      Encoders.hybridTextStd(spark, sfDir, k = 11)
    }
    e.getMessage should include("hybridSearchText")
    // at the registered depth the std form still answers
    Encoders.hybridTextStd(spark, sfDir).count() should be > 0L
  }

  test("incremental-pool walk is bit-equal to the cumulative-state walk") {
    // the r14 exactness claim (SURVEY §7.23 cap arithmetic): the pooled
    // walk must reproduce the cumulative walk's results EXACTLY — same
    // ids, same ranks, same scores — across beam/hop settings,
    // including beams small enough that the cap actually truncates
    val queries = Knn.querySet(spark, sfDir)
      .select(col("q_id"), col("q_vec"))
    val nodes = Knn.docSet(spark, sfDir)
      .select(col("doc_id").as("id"), col("doc_vec").as("vec"))
    val edges = KnnGraph.docGraph(spark, sfDir)
    for ((beam, hops) <- Seq((KnnGraph.AutoBeam, KnnGraph.Hops), (8, 3), (16, 6))) {
      val pooled = KnnGraph.graphSearch(queries, nodes, edges,
        beam = beam, hops = hops).collect().map(_.toString).sorted
      val cumulative = KnnGraph.graphSearchCumulative(queries, nodes, edges,
        beam = beam, hops = hops).collect().map(_.toString).sorted
      withClue(s"beam=$beam hops=$hops: ") {
        pooled shouldBe cumulative
      }
    }
  }

  test("ivf-pq persisted layout: served ≡ in-plan ivfPq; probe is DPP-pruned") {
    val full = s"${tempDir("graft-ivfpq")}/full"
    Ann.writeIvfPqIndex(spark, sfDir, full)
    // the served form answers identically to the in-plan composition
    // (the shared-oracle claim), and its probe carries runtime pruning
    val served = Ann.ivfPqIndexed(spark, sfDir, full)
    served.collect().map(_.toString).sorted shouldBe
      Ann.ivfPq(spark, sfDir).collect().map(_.toString).sorted
    served.queryExecution.executedPlan.toString
      .toLowerCase should include("dynamicpruning")
  }

  test("trained PQ codebook: deterministic, full result shape, recall >= seeds") {
    import graft.operators.Eval
    // memoized fit: two searches share one codebook → bit-equal
    val a = Ann.pqSearchTrained(spark, sfDir).collect().map(_.toString).sorted
    val b = Ann.pqSearchTrained(spark, sfDir).collect().map(_.toString).sorted
    a shouldBe b
    a.length shouldBe 200 // 20 queries × k
    // the point of training: at the same code budget the trained
    // codebook must not RANK BELOW the arbitrary seed codebook
    // (measured at sf0.01: 0.565 vs 0.475; small slack for tiny SFs)
    def mean(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(avg(col("recall"))).head.getDouble(0)
    val trained = mean(Eval.annRecallPqTrained(spark, sfDir))
    val seeds = mean(Eval.annRecallPq(spark, sfDir))
    withClue(s"trained $trained vs seeds $seeds: ") {
      trained should be >= seeds - 0.02
    }
    // full OPQ (rotation + rotated-space training): deterministic
    // (memoized fits) and in the same recall regime — its measured
    // POSITION in the 2x2 is a recorded finding (SURVEY §5: the
    // parametric rotation lifts seed codebooks but not Lloyd-adapted
    // ones on this corpus), not a pinned ordering
    val o1 = graft.operators.Opq.opqTrainedSearch(spark, sfDir)
      .collect().map(_.toString).sorted
    graft.operators.Opq.opqTrainedSearch(spark, sfDir)
      .collect().map(_.toString).sorted shouldBe o1
    val opqT = mean(Eval.annRecallOpqTrained(spark, sfDir))
    withClue(s"opq_trained $opqT: ") { opqT should be >= 0.3 }
  }
}
