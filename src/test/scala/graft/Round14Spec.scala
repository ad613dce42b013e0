package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.operators.{Ann, Compaction, Encoders, Knn, KnnGraph}

/** Round-14 pins: `_bands` entry-table compaction, staged (atomic)
  * fit-carrying index builds, the hybridTextStd arm-depth guard, and the
  * bands-without-split loud failure. */
class Round14Spec extends AnyFunSuite with Matchers with SharedSpark {

  private def dropGraph(name: String): Unit =
    Seq("edges", "nodes", "meta", "bands").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS ${name}_$s"))

  test("bands compaction folds append debt per band; identical search; idempotent") {
    val name = "g14c"
    dropGraph(name)
    KnnGraph.writeGraphIndex(spark, sfDir, name = name)
    try {
      // streaming-style debt: 10 small appends, each banding its batch
      // into one new file per touched bkt directory
      val newNodes = Knn.querySet(spark, sfDir)
        .select(col("q_id").as("id"), col("q_vec").as("vec"))
      (0 until 10).foreach { i =>
        KnnGraph.appendToGraphIndex(spark,
          newNodes.filter(col("id") % 10 === i), name)
      }
      val loc = spark.sql(s"DESCRIBE EXTENDED ${name}_bands").collect()
        .find(_.getString(0) == "Location").get.getString(1)
      def files(): Map[String, Int] =
        new java.io.File(new java.net.URI(loc)).listFiles()
          .filter(d => d.isDirectory && d.getName.startsWith("bkt="))
          .map(d => d.getName ->
            d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
      val before = files()
      before.values.max should be > 1 // debt exists
      val resultsBefore = KnnGraph.searchIndexed(spark, sfDir, name)
        .collect().map(_.toString).sorted
      val rowsBefore = spark.table(s"${name}_bands").count()

      val hot = KnnGraph.compactBandsTable(spark, name,
        maxFilesPerPartition = 1)
      hot should not be empty

      val after = files()
      // every hot band folded to one file; untouched bands byte-count
      // identical
      hot.foreach(b => after(s"bkt=$b") shouldBe 1)
      before.filter { case (k, _) =>
        !hot.contains(k.stripPrefix("bkt=").toLong)
      }.foreach { case (k, n) => after(k) shouldBe n }
      spark.table(s"${name}_bands").count() shouldBe rowsBefore
      KnnGraph.searchIndexed(spark, sfDir, name)
        .collect().map(_.toString).sorted shouldBe resultsBefore
      // idempotent: nothing left over threshold
      KnnGraph.compactBandsTable(spark, name,
        maxFilesPerPartition = 1) shouldBe empty
      // absent table: clean no-op
      KnnGraph.compactBandsTable(spark, "g14_no_such") shouldBe empty
      // the DPP contract survives compaction: the entry join still
      // carries a runtime pruning subquery against the band dirs
      val bands = spark.table(s"${name}_bands")
        .select(col("id"), col("bkt").cast("long").as("bkt"), col("sub"))
      val qb = Knn.querySet(spark, sfDir)
        .select(col("q_id"),
          explode(array(lit(3L), lit(104L))).as("bkt"),
          lit(0L).as("sub"))
      bands.join(broadcast(qb), Seq("bkt", "sub"))
        .select(col("q_id"), col("id"))
        .queryExecution.executedPlan.toString
        .toLowerCase should include("dynamicpruning")
    } finally dropGraph(name)
  }

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

  test("append with bands but no frozen split fails loudly, not near-unreachably") {
    val name = "g14m"
    dropGraph(name)
    KnnGraph.writeGraphIndex(spark, sfDir, name = name)
    try {
      // corrupt the contract: replace _meta with a legacy n-only shape
      // while _bands still exists (nothing else enforces they travel
      // together — ADVICE r13)
      import spark.implicits._
      val n = KnnGraph.readGraphMeta(spark, name)
      spark.sql(s"DROP TABLE IF EXISTS ${name}_meta")
      operators.Bucketing.reclaimOrphanedLocation(spark, s"${name}_meta")
      Seq(n).toDF("n").write.format("parquet").saveAsTable(s"${name}_meta")
      val newNodes = Knn.querySet(spark, sfDir)
        .select(col("q_id").as("id"), col("q_vec").as("vec"))
      val e = intercept[IllegalArgumentException] {
        KnnGraph.appendToGraphIndex(spark, newNodes, name)
      }
      e.getMessage should include("frozen-split")
    } finally dropGraph(name)
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

  test("ivf-pq persisted layout: append ≡ rebuild bit-identically; probe is DPP-pruned") {
    val base = tempDir("graft-ivfpq")
    val full = s"$base/full"; val half = s"$base/half"
    Ann.writeIvfPqIndex(spark, sfDir, full)
    // frozen-fit append contract: build from the even half, append the
    // odd half under the stored fits — must equal the full build
    val docs = Knn.docSet(spark, sfDir)
    Ann.writeIvfPqIndex(spark, sfDir, half,
      docs = Some(docs.filter(col("doc_id") % 2 === 0)))
    Ann.appendToIvfPqIndex(spark, docs.filter(col("doc_id") % 2 === 1), half)
    spark.read.parquet(half).collect().map(_.toString).sorted shouldBe
      spark.read.parquet(full).collect().map(_.toString).sorted
    // the served form answers identically to the in-plan composition
    // (the shared-oracle claim), and its probe carries runtime pruning
    val served = Ann.ivfPqIndexed(spark, sfDir, full)
    served.collect().map(_.toString).sorted shouldBe
      Ann.ivfPq(spark, sfDir).collect().map(_.toString).sorted
    served.queryExecution.executedPlan.toString
      .toLowerCase should include("dynamicpruning")
  }

  test("_meta compaction folds append rows to one; search, meta and appends unchanged") {
    val name = "g14meta"
    dropGraph(name)
    KnnGraph.writeGraphIndex(spark, sfDir, name = name)
    try {
      val newNodes = Knn.querySet(spark, sfDir)
        .select(col("q_id").as("id"), col("q_vec").as("vec"))
      (0 until 5).foreach { i =>
        KnnGraph.appendToGraphIndex(spark,
          newNodes.filter(col("id") % 5 === i), name)
      }
      val before = KnnGraph.readGraphMetaFull(spark, name)
      val results = KnnGraph.searchIndexed(spark, sfDir, name)
        .collect().map(_.toString).sorted
      spark.table(s"${name}_meta").count() shouldBe 6 // build + 5 appends
      KnnGraph.compactGraphMeta(spark, name) shouldBe Some(6L -> 1L)
      spark.table(s"${name}_meta").count() shouldBe 1
      // everything the meta feeds is unchanged: summed n, frozen
      // split, seeds, and therefore the search itself
      val after = KnnGraph.readGraphMetaFull(spark, name)
      after shouldBe before
      KnnGraph.searchIndexed(spark, sfDir, name)
        .collect().map(_.toString).sorted shouldBe results
      // idempotent, and appends keep working against the compacted row
      KnnGraph.compactGraphMeta(spark, name) shouldBe None
      KnnGraph.appendToGraphIndex(spark,
        newNodes.select(col("id") + 1000000L as "id", col("vec")), name)
      KnnGraph.readGraphMeta(spark, name) shouldBe before.n + newNodes.count()
      // crash recovery: simulate the drop→rename window
      spark.sql(s"ALTER TABLE ${name}_meta RENAME TO ${name}_meta__compacting")
      KnnGraph.compactGraphMeta(spark, name) shouldBe None // completes swap
      KnnGraph.readGraphMeta(spark, name) shouldBe before.n + newNodes.count()
    } finally {
      dropGraph(name)
      spark.sql(s"DROP TABLE IF EXISTS ${name}_meta__compacting")
    }
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

  test("reclaimOrphanedLocation refuses qualified names and non-default databases") {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a live default-db table whose data dir a foreign-database reclaim
    // could have deleted (ADVICE r13, medium)
    val victim = "g14_victim"
    spark.sql(s"DROP TABLE IF EXISTS $victim")
    operators.Bucketing.reclaimOrphanedLocation(spark, victim)
    spark.range(3).write.format("parquet").saveAsTable(victim)
    val loc = new org.apache.hadoop.fs.Path(s"$wh/$victim")
    fs.exists(loc) shouldBe true
    try {
      spark.sql("CREATE DATABASE IF NOT EXISTS g14db")
      spark.catalog.setCurrentDatabase("g14db")
      // from a non-default database the reclaim is a no-op even though
      // tableExists(victim) is false here
      operators.Bucketing.reclaimOrphanedLocation(spark, victim)
      fs.exists(loc) shouldBe true
    } finally spark.catalog.setCurrentDatabase("default")
    // qualified names never reclaim either
    operators.Bucketing.reclaimOrphanedLocation(spark, s"nosuchdb.$victim")
    fs.exists(loc) shouldBe true
    spark.table(victim).count() shouldBe 3
    spark.sql(s"DROP TABLE IF EXISTS $victim")
    spark.sql("DROP DATABASE IF EXISTS g14db")
  }
}
