package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.operators._

/** Round-5 additions: multi-index SimHash candidate generation and the
  * by-corpus-size experiment sweep. */
class Round5Spec extends AnyFunSuite with Matchers with SharedSpark {

  private def plan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("simhash multi-index pairs equal the exhaustive within-band pair set") {
    // driver-side oracle: all same-band pairs within maxHamming,
    // recomputed from the collected fingerprints — the chunk scheme is
    // candidate pruning only and must not change the result
    val maxHamming = 6
    val fps = Dedup.simhashFingerprints(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byBand = fps.groupBy { case (_, fp) => fp >>> 46 }
      .filter { case (_, ds) => ds.length <= Dedup.SimHashMaxBand }
    val expected = (for {
      (_, ds) <- byBand.toSeq
      Array((ia, fa), (ib, fb)) <- ds.sortBy(_._1).combinations(2).map(_.toArray)
      h = java.lang.Long.bitCount(fa ^ fb) if h <= maxHamming
    } yield (ia, ib, h.toLong)).toSet
    expected should not be empty
    val got = Dedup.simhashPairs(spark, sfDir, maxHamming).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    got shouldBe expected
  }

  test("simhash multi-index and plain-band fallback agree (maxHamming 11 vs 12)") {
    // maxHamming 11 → 12 chunks (multi-index path); maxHamming 12 →
    // plain band join (fallback threshold). Re-filtering the permissive
    // run's pairs to hamming ≤ 11 must reproduce the multi-index set
    // exactly — the two candidate schemes may not change membership.
    val mi = Dedup.simhashPairs(spark, sfDir, maxHamming = 11).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pb = Dedup.simhashPairs(spark, sfDir, maxHamming = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(_._3 <= 11).toSet
    mi shouldBe pb
  }

  test("simhash pairs plan: no CartesianProduct, pair distinct present") {
    val df = Dedup.simhashPairs(spark, sfDir)
    val p = plan(df)
    p should not include "CartesianProduct"
    // the multi-index join replicates each row nChunks×; the duplicate
    // candidates must collapse through an aggregate/distinct
    p.toLowerCase should include("hashaggregate")
  }

  test("experiment sizes: one row per (cap, model), monotone corpus sizes") {
    val rows = Experiment.sizes(spark, sfDir).collect()
    rows.length shouldBe Experiment.SizeCaps.length * 2
    // n_docs grows (weakly) with the cap and never exceeds it
    for (m <- Seq("hashing_tf", "tfidf")) {
      val byCap = rows.filter(_.getString(1) == m).sortBy(_.getLong(0))
      byCap.map(_.getLong(0)) shouldBe Experiment.SizeCaps.toArray
      for (r <- byCap) r.getLong(3) should be <= r.getLong(0)
      byCap.map(_.getLong(3)).sliding(2).foreach {
        case Array(a, b) => a should be <= b
        case _ =>
      }
    }
  }

  test("fused sizes grid equals the per-leg unioned formulation bit-identically") {
    // round 12: sizes runs the |caps|x|models| grid as two fused plan
    // families over one corpus pass each; results must not move by a
    // bit vs the legacy one-union-arm-per-leg form (the oracle's shape)
    Experiment.sizes(spark, sfDir).collect().map(_.toString).sorted shouldBe
      Experiment.sizesUnioned(spark, sfDir).collect().map(_.toString).sorted
  }

  test("fused experiment matrix equals the per-leg unioned formulation bit-identically") {
    Experiment.matrix(spark, sfDir).collect().map(_.toString).sorted shouldBe
      Experiment.matrixUnioned(spark, sfDir).collect().map(_.toString).sorted
  }

  test("fused summary equals the direct formulation bit-identically (incl. empty corpus)") {
    // round 13: summary derives from the memoized hashing arm through
    // the same evalKeyed path as the matrix's (hashing_tf, vector) leg
    Experiment.summary(spark, sfDir).collect().map(_.toString) shouldBe
      Experiment.summaryUnfused(spark, sfDir).collect().map(_.toString)
    val empty = tempDir("graft-summary-empty")
    graft.Tables.documents(spark, sfDir).limit(0)
      .write.parquet(s"$empty/documents.parquet")
    Experiment.summary(spark, empty).collect().map(_.toString) shouldBe
      Experiment.summaryUnfused(spark, empty).collect().map(_.toString)
  }

  test("fused nprobe recall sweep equals the per-leg unioned formulation bit-identically") {
    graft.operators.Eval.annRecallIvfSweep(spark, sfDir).collect().map(_.toString).sorted shouldBe
      graft.operators.Eval.annRecallIvfSweepUnioned(spark, sfDir).collect().map(_.toString).sorted
  }

  test("fused sizes matches unioned on edge inputs: a cap below nq, an empty corpus") {
    // cap 3 < nq 5: the leg's QUERY set is cap-bounded too (review r12)
    Experiment.sizes(spark, sfDir, caps = Seq(3L, 100L)).collect().map(_.toString).sorted shouldBe
      Experiment.sizesUnioned(spark, sfDir, caps = Seq(3L, 100L)).collect().map(_.toString).sorted
    // 0-doc corpus: one row per (cap, model) with zero counts and null
    // means — the unioned form's global-agg-over-empty rows must not
    // vanish through the fused form's joins
    val empty = tempDir("graft-sizes-empty")
    graft.Tables.documents(spark, sfDir).limit(0)
      .write.parquet(s"$empty/documents.parquet")
    Experiment.sizes(spark, empty).collect().map(_.toString).sorted shouldBe
      Experiment.sizesUnioned(spark, empty).collect().map(_.toString).sorted
  }

  test("fused matrix and nprobe sweep match their unioned forms on an empty corpus") {
    val empty = tempDir("graft-grid-empty")
    graft.Tables.documents(spark, sfDir).limit(0)
      .write.parquet(s"$empty/documents.parquet")
    spark.read.parquet(s"$sfDir/embeddings.parquet").limit(0)
      .write.parquet(s"$empty/embeddings.parquet")
    Experiment.matrix(spark, empty).collect().map(_.toString).sorted shouldBe
      Experiment.matrixUnioned(spark, empty).collect().map(_.toString).sorted
    graft.operators.Eval.annRecallIvfSweep(spark, empty).collect().map(_.toString).sorted shouldBe
      graft.operators.Eval.annRecallIvfSweepUnioned(spark, empty).collect().map(_.toString).sorted
  }

  test("source matrix: totals tie out to the pair set, diagonal = within-source") {
    val pairs = Dedup.minhashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val src = graft.Tables.documents(spark, sfDir).select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val m = Dedup.sourceMatrix(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    m.map(_._3).sum shouldBe pairs.length
    // every cell normalized (src_a <= src_b) and recomputable from pairs
    val expected = pairs.groupBy { case (a, b) =>
      val (sa, sb) = (src(a), src(b))
      if (sa <= sb) (sa, sb) else (sb, sa)
    }.map { case (k, v) => (k._1, k._2, v.length.toLong) }.toSet
    m.toSet shouldBe expected
    for ((a, b, _) <- m) a should be <= b
  }

  test("experiment sizes: one capped corpus read, no per-leg scans") {
    // r17: the grid materializes the ≤maxCap slice ONCE (an eager
    // localCheckpoint whose own scan pushes the cap) and every leg
    // derives from the blocks — the grid plan itself must be
    // parquet-scan-free, or per-leg corpus reads have crept back (the
    // pre-r17 plan carried 14 scans of documents.parquet; the cap was
    // pushed, but the sf-shaped file is a single row group, so each
    // scan re-read it whole)
    val p = Experiment.sizes(spark, sfDir).queryExecution.executedPlan.toString
    p should not include "FileScan parquet"
    // the capped-slice derivation itself prunes at the scan
    val slice = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < Experiment.SizeCaps.max)
    val sp = slice.queryExecution.executedPlan.toString
    sp should include("PushedFilters")
    sp should include("LessThan(doc_id")
  }
}
