package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import operators.Dedup

/** Span-level exact substring dedup ([[operators.Dedup.spanCoverage]]):
  * planted-corpus cases pin the window/merge semantics exactly (the
  * oracle crosscheck proves hash equality on real data; these prove
  * the SEMANTICS are the intended ExactSubstr ones — cross-doc match,
  * within-doc match, island merging, boundary windows). */
class SpanDedupSpec extends AnyFunSuite with Matchers with SharedSpark {
  import spark.implicits._

  private val W = Dedup.SpanW // 8

  private def coverage(docs: Seq[(Long, String)]) =
    Dedup.spanCoverageOf(docs.toDF("doc_id", "text"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap

  test("a cross-doc shared run yields one merged span per doc, exact bounds") {
    val run = (1 to 10).map(i => s"s$i").mkString(" ") // 10 shared tokens
    val out = coverage(Seq(
      1L -> s"x1 x2 $run y1 y2",                      // run at tokens 3..12 of 14
      2L -> s"$run z1 z2 z3",                         // run at tokens 1..10 of 13
      3L -> (1 to 12).map(i => s"q$i").mkString(" ")  // fully unique
    ))
    out.keySet shouldBe Set(1L, 2L)
    // doc 1: duplicated windows at pos 3,4,5 -> one span [3, 12] = 10 tokens
    out(1L) shouldBe ((1L, 10L, 14L, math.floor(10.0 / 14 * 1e4 + 0.5) / 1e4))
    // doc 2: duplicated windows at pos 1,2,3 -> one span [1, 10] = 10 tokens
    out(2L) shouldBe ((1L, 10L, 13L, math.floor(10.0 / 13 * 1e4 + 0.5) / 1e4))
  }

  test("a within-doc repeat counts as duplication and yields two islands") {
    val r = (1 to W).map(i => s"r$i").mkString(" ")
    // r1..r8  u1 u2  r1..r8  -> windows at pos 1 and 11 share a hash;
    // gap 10 > W so they stay separate spans [1,8] and [11,18]
    val out = coverage(Seq(7L -> s"$r u1 u2 $r"))
    out(7L) shouldBe ((2L, 16L, 18L, math.floor(16.0 / 18 * 1e4 + 0.5) / 1e4))
  }

  test("adjacent duplicated windows merge; docs shorter than W emit nothing") {
    val run = (1 to W + 1).map(i => s"t$i").mkString(" ") // 9 tokens: pos 1,2 dup
    val out = coverage(Seq(
      10L -> run, 11L -> run,            // exact dup docs: full coverage
      12L -> "too short for a window"))  // 5 tokens < W
    out.keySet shouldBe Set(10L, 11L)
    out(10L) shouldBe ((1L, 9L, 9L, 1.0))
    out(11L) shouldBe ((1L, 9L, 9L, 1.0))
  }

  test("scrub drops exactly the covered tokens and keeps position order") {
    val run = (1 to 10).map(i => s"s$i").mkString(" ")
    val out = Dedup.spanScrubOf(Seq(
      1L -> s"x1 x2 $run y1 y2",
      2L -> s"$run z1 z2 z3",
      3L -> "too short").toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    def md5(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // doc 1 loses tokens 3..12, keeping "x1 x2 y1 y2"
    out(1L) shouldBe ((14L, 4L, md5("x1 x2 y1 y2")))
    // doc 2 loses tokens 1..10, keeping "z1 z2 z3"
    out(2L) shouldBe ((13L, 3L, md5("z1 z2 z3")))
    // doc 3 has no window, keeps everything
    out(3L) shouldBe ((2L, 2L, md5("too short")))
  }

  test("a fully duplicated doc scrubs to the empty string") {
    val run = (1 to W).map(i => s"u$i").mkString(" ")
    val out = Dedup.spanScrubOf(Seq(20L -> run, 21L -> run)
      .toDF("doc_id", "text")).collect()
    out.foreach { r =>
      r.getLong(2) shouldBe 0L
      r.getString(3) shouldBe "d41d8cd98f00b204e9800998ecf8427e" // md5("")
    }
  }

  test("corpus invariants hold at sf0.001") {
    val rows = Dedup.spanCoverage(spark, sfDir).collect()
    rows.length should be > 0
    rows.foreach { r =>
      val (nSpans, dupToks, nToks) = (r.getLong(1), r.getLong(2), r.getLong(3))
      nSpans should be >= 1L
      dupToks should be <= nToks
      // every merged span covers at least W tokens
      dupToks should be >= W.toLong * nSpans
      r.getDouble(4) should (be >= 0.0 and be <= 1.0)
    }
  }
}
