package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.operators.Encoders

/** Persisted hashing-TF postings index (Encoders.writeHashingIndex /
  * hashingSearchIndexed) — the Spark analog of the ref's encode-time
  * memmap (auto_run_tests.py:52-160): queries read the stored
  * artifact, never re-encode the corpus. */
class IndexedSearchSpec extends AnyFunSuite with Matchers with SharedSpark {

  test("indexed search is bit-identical to the in-plan search") {
    val idx = s"${tempDir("graft-hidx-spec")}/postings"
    Encoders.writeHashingIndex(spark, sfDir, idx)
    val direct = Encoders.hashingSearch(spark, sfDir)
      .collect().map(_.toString).sorted
    val indexed = Encoders.hashingSearchIndexed(spark, idx)
      .collect().map(_.toString).sorted
    indexed shouldBe direct
    direct should not be empty
  }

  test("dense join-free serving scan is bit-identical to the sparse indexed search") {
    val idx = s"${tempDir("graft-hidx-dense")}/postings"
    Encoders.writeHashingIndex(spark, sfDir, idx)
    val sparse = Encoders.hashingSearchIndexed(spark, idx)
      .collect().map(_.toString).sorted
    val dense = Encoders.hashingSearchDense(
      Encoders.gatherPostings(spark.read.parquet(idx)))
      .collect().map(_.toString).sorted
    dense shouldBe sparse
    dense should not be empty
  }

  test("gathered artifact + local queries: bit-identical, query side is local data") {
    val base = tempDir("graft-hidx-gat")
    val idx = s"$base/postings"; val gat = s"$base/gathered"
    Encoders.writeHashingIndex(spark, sfDir, idx)
    Encoders.writeGatheredIndex(spark, idx, gat)
    val sparse = Encoders.hashingSearchIndexed(spark, idx)
      .collect().map(_.toString).sorted
    // the H2 serving shape: queries prepared outside the scan plan
    // (the ref encodes query_embs before its timed loop), doc side a
    // plain parquet scan of the gathered artifact
    val qLocal = Encoders.denseQueriesLocal(spark.read.parquet(gat))
    val served = Encoders.hashingSearchDenseOver(
      spark.read.parquet(gat), qLocal)
    served.collect().map(_.toString).sorted shouldBe sparse
    sparse should not be empty
    // after execution AQE appends an "== Initial Plan ==" twin of the
    // tree; assert on the final-plan section only
    val p = served.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    // the broadcast side is in-memory rows — the timed pass scans ONLY
    // the gathered artifact, no second file scan for the query probe
    p should include("LocalTableScan")
    "FileScan".r.findAllIn(p).size shouldBe 1
    p should include("BroadcastNestedLoopJoin")
    p.toLowerCase should include("partial_topkby")
  }

  test("writeGatheredDirect equals the two-step postings+gather build bit-identically") {
    val base = tempDir("graft-hidx-direct")
    val idx = s"$base/postings"; val gat = s"$base/gathered"
    val direct = s"$base/direct"
    Encoders.writeHashingIndex(spark, sfDir, idx)
    Encoders.writeGatheredIndex(spark, idx, gat)
    // the one-plan H2 encode leg (corpus → single durable artifact)
    Encoders.writeGatheredDirect(spark, sfDir, direct)
    val a = spark.read.parquet(gat).collect().map(_.toString).sorted
    val b = spark.read.parquet(direct).collect().map(_.toString).sorted
    b shouldBe a
    b should not be empty
    // and it serves identically
    Encoders.hashingSearchDense(spark.read.parquet(direct))
      .collect().map(_.toString).sorted shouldBe
      Encoders.hashingSearchDense(spark.read.parquet(gat))
        .collect().map(_.toString).sorted
  }

  test("dense serving plan: one broadcast, no postings-sized shuffle") {
    val idx = s"${tempDir("graft-hidx-densep")}/postings"
    Encoders.writeHashingIndex(spark, sfDir, idx)
    // the serving shape: gathered layout materialized once (the load
    // step) — localCheckpoint stands in for the persisted relation
    // without embedding the gather's own build plan in the plan string
    val gathered = Encoders.gatherPostings(spark.read.parquet(idx))
      .localCheckpoint(true)
    val p = Encoders.hashingSearchDense(gathered)
      .queryExecution.executedPlan.toString()
    // scoring is the codegen'd kernel against a broadcast query set
    // over the materialized gather — no re-gather, no sort-merge join,
    // and the only aggregation leaving a task is the bounded heap top-k
    p should include("BroadcastNestedLoopJoin")
    p should not include "SortMergeJoin"
    p.toLowerCase should include("partial_topkby")
    // kernel evaluated once per (doc, query) row: a pre-heap filter
    // regression would push it into the join condition as a second
    // sparsedotdenseexpr occurrence
    "sparsedotdenseexpr".r.findAllIn(p.toLowerCase).size shouldBe 1
    // exchanges: broadcast of the query set, the heap merge, the
    // presentation sort — never a (q, doc)-pair-sized shuffle
    "Exchange".r.findAllIn(p).size should be <= 3
  }

  test("the indexed query plan never touches the documents table") {
    val idx = s"${tempDir("graft-hidx-spec2")}/postings"
    Encoders.writeHashingIndex(spark, sfDir, idx)
    val plan = Encoders.hashingSearchIndexed(spark, idx)
      .queryExecution.executedPlan.toString()
    // the hot path is scan+join+agg over the postings only: no
    // re-tokenize (the corpus-wide explode over text — the only
    // Generate left is rankTopK's posexplode of ≤k-element arrays),
    // no re-normalize (window), no documents.parquet scan
    plan should not include "documents.parquet"
    plan.toLowerCase should not include "explode(tokens"
    plan should not include "Window"
    // doc_id predicates reach the index scan
    plan should include("PushedFilters")
  }

  test("indexed TF-IDF search is bit-identical to the in-plan search") {
    val idx = s"${tempDir("graft-tidx-spec")}/postings"
    Encoders.writeTfidfIndex(spark, sfDir, idx)
    val direct = Encoders.tfIdfSearch(spark, sfDir)
      .collect().map(_.toString).sorted
    val indexed = Encoders.tfIdfSearchIndexed(spark, idx)
      .collect().map(_.toString).sorted
    indexed shouldBe direct
    direct should not be empty
    // hot path: no corpus scan, no refit (the weights embed the
    // vocabulary), no window
    val plan = Encoders.tfIdfSearchIndexed(spark, idx)
      .queryExecution.executedPlan.toString()
    plan should not include "documents.parquet"
    plan.toLowerCase should not include "explode(tokens"
    plan should not include "Window"
    // and the via-index wrapper matches too
    Encoders.tfIdfSearchViaIndex(spark, sfDir)
      .collect().map(_.toString).sorted shouldBe direct
  }

  test("text-query search from stored layouts is bit-identical to the in-plan forms") {
    import org.apache.spark.sql.functions.col
    val base = tempDir("graft-textq")
    val hIdx = s"$base/hashing"; val tIdx = s"$base/tfidf"
    Encoders.writeHashingIndex(spark, sfDir, hIdx)
    Encoders.writeTfidfIndex(spark, sfDir, tIdx)
    val qs = operators.Shaping.queryGen(spark, sfDir, qCount = 10)
      .select(col("q_num").as("q_id"), col("query").as("text"))
    Encoders.hashingSearchTextIndexed(spark, hIdx, qs)
      .collect().map(_.toString).sorted shouldBe
      Encoders.hashingSearchText(spark, sfDir, qs)
        .collect().map(_.toString).sorted
    val direct = Encoders.tfIdfSearchText(spark, sfDir, qs)
      .collect().map(_.toString).sorted
    direct should not be empty
    Encoders.tfIdfSearchTextIndexed(spark, tIdx, qs)
      .collect().map(_.toString).sorted shouldBe direct
  }

  test("indexed chunk retrieval is bit-identical to the in-plan search") {
    import graft.operators.Chunking
    val base = tempDir("graft-cidx-spec")
    val cIdx = s"$base/chunks"; val dIdx = s"$base/docs"
    Chunking.writeChunkIndex(spark, sfDir, cIdx)
    Encoders.writeHashingIndex(spark, sfDir, dIdx)
    val direct = Chunking.chunkSearch(spark, sfDir)
      .collect().map(_.toString).sorted
    val indexed = Chunking.chunkSearchIndexed(spark, cIdx, dIdx)
      .collect().map(_.toString).sorted
    indexed shouldBe direct
    direct should not be empty
    val plan = Chunking.chunkSearchIndexed(spark, cIdx, dIdx)
      .queryExecution.executedPlan.toString()
    plan should not include "documents.parquet"
    plan.toLowerCase should not include "explode(tokens"
    plan should not include "Window"
    // and the via-index wrapper matches too
    Chunking.chunkSearchViaIndex(spark, sfDir)
      .collect().map(_.toString).sorted shouldBe direct
  }

  test("via-index wrapper memoizes the build per (app, dir, dim)") {
    // memoization asserted on the PATH, not just result equality: a
    // broken cache key would rebuild per call and still return equal
    // results
    val p1 = Encoders.hashingIndexPath(spark, sfDir)
    val p2 = Encoders.hashingIndexPath(spark, sfDir)
    p2 shouldBe p1
    val r1 = Encoders.hashingSearchViaIndex(spark, sfDir)
      .collect().map(_.toString).sorted
    val r2 = Encoders.hashingSearchViaIndex(spark, sfDir)
      .collect().map(_.toString).sorted
    r2 shouldBe r1
    // and matches the verified hashing-search output
    r1 shouldBe Encoders.hashingSearch(spark, sfDir)
      .collect().map(_.toString).sorted
  }

  test("racing hashingIndexPath callers share one build and one scratch root") {
    import java.nio.file.{Files, Paths}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    // a fresh copy of the corpus: a key no earlier test has built
    val src = Paths.get(sfDir)
    val dir = tempDir("graft-race-corpus")
    val walk = Files.walk(src)
    try walk.iterator.forEachRemaining { p =>
      if (p != src) Files.copy(p, Paths.get(dir).resolve(src.relativize(p).toString))
    } finally walk.close()
    val roots0 = Cleanup.registeredPaths.toSet
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val calls = (1 to 4).map(_ => Future {
        start.await()
        Encoders.hashingIndexPath(spark, dir)
      })
      start.countDown()
      val paths = calls.map(Await.result(_, 5.minutes))
      paths.distinct should have size 1
      (Cleanup.registeredPaths.toSet -- roots0) should have size 1
    } finally pool.shutdown()
  }

  test("a memoized IVF layout after Memo.clear(): ivfIndexed reads its _cent, same rows") {
    import graft.operators.Ann
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    val served = rows(Ann.ivfViaIndex(spark, sfDir))
    // the layout the memo holds (a build here would mean a miss)
    val (path, _) = Memo.scratchWith(spark, "graft-ivfidx", sfDir)(
      _ => fail("the layout was not memoized"))
    Memo.clear()
    // no memoized grid now: the search pins the layout's own `_cent`
    rows(Ann.ivfIndexed(spark, sfDir, path)) shouldBe served
    served should not be empty
    // ... and needs it: with `_cent` moved away the search fails,
    // naming the missing fit, rather than probing no cell
    val cent = new java.io.File(s"$path/_cent")
    val moved = new java.io.File(s"$path.cent-moved")
    cent.renameTo(moved) shouldBe true
    try {
      val e = intercept[java.io.FileNotFoundException](rows(Ann.ivfIndexed(spark, sfDir, path)))
      e.getMessage should include(s"$path/_cent")
    } finally moved.renameTo(cent)
  }

  test("an empty doc set gives every ANN search query 0 rows") {
    // 20 embeddings = Knn.NQueries: the query half takes them all, so
    // the doc half (and every index layout built over it) is empty
    val dir = tempDir("graft-empty-docs")
    graft.sources.DataGen.writeSfDataset(spark, dir, 0.001, 7L)
    Tables.embeddings(spark, dir).count() shouldBe operators.Knn.NQueries
    Seq("ann_ivf", "ann_ivf_indexed", "ann_ivf_sqrtn", "ann_pq_indexed",
      "ann_ivf_pq_indexed", "ann_sq8_indexed", "ann_lsh_hyperplane",
      "ann_pq_search", "ann_lsh_filtered", "ann_ivf_filtered", "ann_ivf_pq",
      "ann_sq8_search", "ann_pq_trained", "ann_graph_search").foreach { q =>
      withClue(s"$q: ") { SparkEntry.queries(q)(spark, dir).count() shouldBe 0 }
    }
  }

  test("indexed SQ8 search is bit-identical to the in-plan search") {
    val idx = s"${tempDir("graft-sq8-spec")}/codes"
    operators.Ann.writeSq8Index(spark, sfDir, idx)
    val direct = operators.Ann.sq8Search(spark, sfDir)
      .collect().map(_.toString).sorted
    val indexed = operators.Ann.sq8Indexed(spark, sfDir, idx)
      .collect().map(_.toString).sorted
    indexed shouldBe direct
    direct should not be empty
  }
}
