package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The prepared-plan layer of [[SparkEntry.queries]] and the validity
  * rule of every memo key: an entry serves only the corpus state
  * ([[Fingerprint]]) and, for a plan, the session SQL conf it was built
  * under. */
class PreparedSpec extends AnyFunSuite with Matchers with SharedSpark {

  private def counts(kind: String): Memo.Counts =
    Memo.snapshot.kinds.getOrElse(kind, Memo.Counts(0, 0, 0, 0))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def call(q: String, dir: String): Seq[String] = rows(SparkEntry.queries(q)(spark, dir))

  test("a prepared second call returns the first call's output, for all 148 queries") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    names should have size 148
    def pass(): Map[String, (Int, Int)] = names.map { q =>
      val r = withClue(s"$q: ")(call(q, sfDir))
      q -> (r.size, MurmurHash3.seqHash(r))
    }.toMap
    val first = pass()
    val hits0 = counts(Memo.Prepared).hits
    val second = pass()
    counts(Memo.Prepared).hits - hits0 shouldBe (names.size - SparkEntry.PerCall.size)
    names.foreach(q => withClue(s"$q: ")(second(q) shouldBe first(q)))
  }

  test("a corpus rewritten in place rebuilds every prepared query and memoized artifact") {
    // one query per memo kind, besides the table schemas every query reads
    val byKind = Seq(
      "opq-rotation" -> "eval_ann_recall_opq",
      "opq-trained" -> "eval_ann_recall_opq_trained",
      "opq-refined" -> "eval_ann_recall_opq_refined",
      "exact" -> "eval_ann_recall_ivf",
      "doc-graph" -> "ann_graph_search",
      "graft-sq8idx" -> "ann_sq8_indexed",
      "graft-pqidx" -> "ann_pq_indexed",
      "graft-ivfpqidx" -> "ann_ivf_pq_indexed",
      "graft-ivfidx" -> "ann_ivf_indexed",
      "graft-trainedivf" -> "ann_ivf_sqrtn",
      "pq-trained" -> "ann_pq_trained",
      "graft-cidx" -> "pipeline_chunk_indexed",
      "graft-hgat" -> "pipeline_indexed_dense",
      "graft-hidx" -> "pipeline_indexed_search",
      "vocab" -> "pipeline_tfidf_indexed",
      "graft-tidx" -> "pipeline_tfidf_indexed",
      "corpus-stats" -> "text_bm25_topk",
      "text-arm" -> "pipeline_text_query_search",
      "arm" -> "pipeline_experiment_summary",
      "schema" -> "q3_join_agg")
    val names = byKind.map(_._2).distinct
    val kinds = byKind.map(_._1) :+ Memo.Prepared
    val dir = tempDir("graft-rewrite")
    sources.DataGen.writeSfDataset(spark, dir, 0.001, 11L)
    val before = names.map(q => call(q, dir))
    // the same path, new content: another seed, written over the old files
    sources.DataGen.writeSfDataset(spark, dir, 0.001, 12L)
    val builds0 = kinds.map(k => k -> counts(k).builds).toMap
    val after = names.map(q => call(q, dir))
    kinds.foreach(k => withClue(s"$k: ")(counts(k).builds should be > builds0(k)))
    counts(Memo.Prepared).builds - builds0(Memo.Prepared) shouldBe names.size
    after should not equal before
    // no entry at all, as in a fresh JVM: the same results
    Memo.clear()
    names.zip(after).foreach { case (q, r) => withClue(s"$q: ")(call(q, dir) shouldBe r) }
  }

  test("changing a session conf that analysis reads rebuilds the prepared plan") {
    val q = "q1_agg"
    def builds = counts(Memo.Prepared).builds
    call(q, sfDir)
    val b0 = builds
    call(q, sfDir)
    builds shouldBe b0
    // restores the session's explicit settings exactly
    def withConf(key: String, value: String)(body: => Unit): Unit = {
      val prior = spark.conf.getAll.get(key)
      spark.conf.set(key, value)
      try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    val ansi = spark.conf.get("spark.sql.ansi.enabled").toBoolean
    // set explicitly to the value the session already reads: no new plan
    withConf("spark.sql.ansi.enabled", ansi.toString)(call(q, sfDir))
    builds shouldBe b0
    withConf("spark.sql.ansi.enabled", (!ansi).toString)(call(q, sfDir))
    builds shouldBe b0 + 1
    withConf("spark.sql.session.timeZone", "America/Los_Angeles")(call(q, sfDir))
    builds shouldBe b0 + 2
    // back under the original conf: the first plan again
    call(q, sfDir)
    builds shouldBe b0 + 2
  }

  test("each source_roundtrip_* call rewrites its scratch files") {
    def files(path: String): Set[(String, Long)] = {
      val walk = Files.walk(Paths.get(path))
      try walk.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toSet
      finally walk.close()
    }
    val prepared0 = counts(Memo.Prepared)
    Seq("source_roundtrip_events_csv" -> "events_csv",
      "source_roundtrip_docs_jsonl" -> "docs_jsonl",
      "source_roundtrip_docs_orc" -> "docs_orc").foreach { case (q, leaf) =>
      withClue(s"$q: ") {
        val path = sources.Sources.scratch(sfDir, leaf)
        val r1 = call(q, sfDir)
        val written = files(path)
        written should not be empty
        call(q, sfDir) shouldBe r1
        files(path).intersect(written) shouldBe empty
      }
    }
    counts(Memo.Prepared) shouldBe prepared0
  }
}
