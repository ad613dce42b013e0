package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.operators.Chunking

class ChunkingSpec extends AnyFunSuite with Matchers with SharedSpark {

  test("sliding chunks cover every token with the declared overlap") {
    val w = Chunking.W; val s = Chunking.Stride
    val chunks = Chunking.chunkSliding(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    val nToks = operators.TextAnalysis.tokenCount(spark, sfDir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_ws")).toMap

    nToks.foreach { case (d, n) =>
      val cs = chunks(d).sortBy(_.getAs[Long]("chunk_id"))
      // chunk count follows the coverage formula
      val expected = if (n <= w) 1L else math.ceil((n - w).toDouble / s).toLong + 1
      cs.length.toLong shouldBe expected
      // starts advance by exactly the stride; windows cover [0, n)
      cs.zipWithIndex.foreach { case (r, i) =>
        r.getAs[Long]("start_tok") shouldBe i.toLong * s
      }
      val last = cs.last
      (last.getAs[Long]("start_tok") + last.getAs[Long]("n_tokens")) shouldBe n
      // every chunk but possibly the last is full-width
      cs.dropRight(1).foreach(_.getAs[Long]("n_tokens") shouldBe w.toLong)
      // chunk text re-joins to exactly its token window
      cs.foreach(r =>
        r.getAs[String]("chunk_text").split(" ").count(_.nonEmpty).toLong shouldBe
          r.getAs[Long]("n_tokens"))
    }
  }

  test("chunkSliding is a narrow plan — no shuffle exchange") {
    val plan = Chunking.chunkSliding(spark, sfDir)
      .queryExecution.executedPlan.toString()
    // the final orderBy sorts, but chunk derivation itself must not
    // shuffle: exactly the one Exchange the global sort requires
    plan.split("Exchange").length - 1 should be <= 1
  }

  test("chunkSearch max-pools chunk scores into doc ranking") {
    val res = Chunking.chunkSearch(spark, sfDir).collect()
    res.length shouldBe 50 // 5 queries x k=10
    res.foreach { r =>
      r.getAs[Double]("score") should (be >= -1.0001 and be <= 1.0001)
      r.getAs[Long]("doc_id") should be >= 5L // query docs excluded
    }
    // ranks are 1..k per query, scores non-increasing within a query
    res.groupBy(_.getAs[Long]("q_id")).values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      sorted.map(_.getAs[Long]("rank")) shouldBe (1L to 10L).toArray
      val scores = sorted.map(_.getAs[Double]("score"))
      scores.zip(scores.tail).foreach { case (a, b) => a should be >= b - 1e-9 }
    }
  }

  test("chunkDedup surfaces repeated passages that doc-level dedup misses") {
    val boiler = Chunking.chunkDedup(spark, sfDir).collect()
    boiler.length should be > 0
    boiler.foreach { r =>
      r.getAs[Long]("cnt") should be > 1L
      r.getAs[Long]("n_docs") should be <= r.getAs[Long]("cnt")
    }
    // chunk-level dedup sees strictly more duplicate mass than
    // whole-document exact dedup: every full-doc dup family implies
    // duplicated chunks, and shared passages across distinct docs add
    // to it — at least one reported passage spans distinct docs
    boiler.count(_.getAs[Long]("n_docs") > 1) should be > 0
  }

  test("chunkSearch plan broadcasts the query side and never goes cartesian") {
    val plan = Chunking.chunkSearch(spark, sfDir)
      .queryExecution.executedPlan.toString()
    plan should include("BroadcastExchange")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("chunkStream equals the batch chunker on the same docs") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = graft.streaming.StreamOps.chunkStream(
        input.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("schunks")
      .outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val docs = Seq(
        (1L, t0, (1 to 40).map(i => s"w$i").mkString(" ")), // multi-chunk
        (2L, t0, "just five short tokens here"),            // single chunk
        (3L, t0, (1 to 17).map(i => s"t$i").mkString(" "))) // boundary: W+1
      input.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("schunks")
        .select("doc_id", "chunk_id", "start_tok", "n_tokens", "chunk_text")
        .collect().map(_.toString).sorted
      val batch = Chunking.chunkRows(docs.toDF("doc_id", "ts", "text"))
        .select("doc_id", "chunk_id", "start_tok", "n_tokens", "chunk_text")
        .collect().map(_.toString).sorted
      streamed shouldBe batch
      streamed.length should be > 3 // doc 1 exploded into several windows
    } finally q.stop()
  }

  test("a doc whose best chunk matches outranks a doc with diffuse overlap") {
    // against whole-doc search, chunk max-pool favors locally dense
    // matches; sanity: both pipelines retrieve overlapping candidates
    val chunked = Chunking.chunkSearch(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("doc_id"))).toSet
    val whole = operators.Encoders.hashingSearch(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("doc_id"))).toSet
    (chunked intersect whole).size should be > 0
  }
}
