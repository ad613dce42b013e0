package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Round-13 additions: the √N-centroid IVF deployment path
  * (`ann_ivf_sqrtn` — Lloyd fit is iterative, so coverage is
  * spec-level, same contract as the graph family) and the widened
  * nprobe sweep grid. */
class Round13Spec extends AnyFunSuite with Matchers with SharedSpark {
  import operators.{Ann, Knn}

  test("sqrt sizing rules: floors at the verified shape, sqrt above it") {
    Ann.sqrtCentroidCount(100L) shouldBe Ann.NCentroids
    Ann.sqrtCentroidCount(200000L) shouldBe 448
    Ann.sqrtProbeCount(16) shouldBe Ann.NProbe
    Ann.sqrtProbeCount(448) shouldBe 22
  }

  test("sqrt-centroid IVF: k rows per query, deterministic end-to-end") {
    val res = Ann.ivfSqrtN(spark, sfDir).cache()
    val nq = Knn.querySet(spark, sfDir).count()
    res.count() shouldBe nq * Knn.K
    res.groupBy("q_id").count().agg(max("count")).head.getLong(0) shouldBe Knn.K
    // deterministic end-to-end: hash-sampled train set + seeded Lloyd
    // + tie-broken argmax/top-k
    Ann.ivfSqrtN(spark, sfDir).collect().map(_.toString).toSet shouldBe
      res.collect().map(_.toString).toSet
  }

  test("sqrt-centroid IVF recall on a clustered corpus (the grid's actual regime)") {
    // the committed sf* embeddings are near-random 64-dim, where any
    // BALANCED fine grid reads low recall at a low scan fraction (the
    // fixed-16 seed grid only reads high there because its raw-vector
    // seed cells are so unbalanced that probes cover most of the
    // corpus) — the deployment regime for a √N grid is clustered
    // embedding data, so the pin runs on the deterministic DataGen
    // clustered corpus (10 label clusters, the decade-corpus generator)
    val dir = tempDir("graft-sqrtn")
    sources.DataGen.embeddings(spark, 10000L).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val res = Ann.ivfSqrtN(spark, dir).cache() // kCent=100, nprobe=10
    def recallOf(ann: org.apache.spark.sql.DataFrame): Double = {
      val exact = Knn.bruteForce(spark, dir, Knn.K)
        .select(col("q_id"), col("doc_id"))
      ann.select(col("q_id"), col("doc_id"))
        .join(exact, Seq("q_id", "doc_id")).count().toDouble / exact.count()
    }
    val sqrtRecall = recallOf(res)
    withClue(s"sqrt-grid recall $sqrtRecall (10% scan fraction): ") {
      sqrtRecall should be >= 0.85
    }
  }

  test("IVF index is self-contained: stored _cent drives searches") {
    // a trained-grid layout must not depend on callers re-supplying
    // the same centroids — searches read the index's own stored _cent
    // (r13); mismatched centroids would mis-probe SILENTLY (lists still
    // exist, results just degrade)
    val idx = s"${tempDir("graft-ivfcent")}/idx"
    val trained = Ann.fitCentroids(
        Tables.embeddings(spark, sfDir), k = 8, iters = 2, spherical = true)
      .select(col("c_id"),
        org.apache.spark.sql.functions.transform(col("c_vec"),
          x => x.cast("float")).as("c_vec"))
    Ann.writeIvfIndex(spark, sfDir, idx, centroids = Some(trained))
    // search WITHOUT passing centroids == search passing the trained
    // frame (the stored _cent is what drives the probe)
    val stored = Ann.ivfIndexed(spark, sfDir, idx).collect().map(_.toString).toSet
    val passed = Ann.ivfIndexed(spark, sfDir, idx, centroids = Some(trained))
      .collect().map(_.toString).toSet
    stored shouldBe passed
    stored should not be empty
  }

  test("registered sqrt-N query (stored layout) equals the in-plan form bit-identically") {
    // the serving split must change the PLAN, never the answer: same
    // sampled fit, same spherical grid, same auto probe count
    Ann.ivfSqrtNViaIndex(spark, sfDir).collect().map(_.toString).toSet shouldBe
      Ann.ivfSqrtN(spark, sfDir).collect().map(_.toString).toSet
  }

  test("trained sqrt-N index: AutoProbe resolves from the stored grid") {
    val dir = tempDir("graft-trainedivf")
    sources.DataGen.embeddings(spark, 4000L).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val idx = s"$dir/idx"
    Ann.writeTrainedIvfIndex(spark, dir, idx) // kCent=64, auto nprobe=8
    val nCent = Tables.readFit(spark, s"$idx/_cent", Tables.CentroidFit).count().toInt
    nCent shouldBe Ann.sqrtCentroidCount(4000L - Knn.NQueries)
    val auto = Ann.ivfIndexed(spark, dir, idx, nProbe = Ann.AutoProbe)
      .collect().map(_.toString).toSet
    val explicit = Ann.ivfIndexed(spark, dir, idx,
        nProbe = Ann.sqrtProbeCount(nCent))
      .collect().map(_.toString).toSet
    auto shouldBe explicit
    auto should not be empty
  }

  test("frontierTopK ≡ anti-join + distinct top-k over the tagged state") {
    // the fused frontier aggregate must be BIT-equal to the two-shuffle
    // reference formulation it replaced (visited \ markers → top-k),
    // including: duplicate visited rows, a marker arriving for an id
    // with and without visited rows, a marker-then-revisit (the
    // expanded id must never re-enter), and score ties broken by id
    val s = spark
    import s.implicits._
    val state = Seq(
      // (q_id, id, score, x)
      (1L, 10L, Some(0.9), false),
      (1L, 10L, Some(0.9), false),          // duplicate revisit
      (1L, 11L, Some(0.8), false),
      (1L, 12L, Some(0.8), false),          // tie with 11 → id asc
      (1L, 13L, Some(0.7), false),
      (1L, 10L, None, true),                // marker: 10 expanded
      (1L, 99L, None, true),                // marker with no visited row
      (1L, 10L, Some(0.9), false),          // revisit AFTER marker
      (2L, 20L, Some(0.5), false),
      (2L, 21L, Some(0.6), false)
    ).map { case (q, i, sc, x) => (q, i, sc.getOrElse(Double.NaN), sc.isDefined, x) }
      .toDF("q_id", "id", "_s", "_def", "x")
      .select(col("q_id"), col("id"),
        when(col("_def"), col("_s")).as("score"), col("x"))
      .repartition(4) // force partial/merge paths
    val k = 3
    val fused = state.groupBy("q_id")
      .agg(functions.TopKAgg.frontierTopK(col("score"), col("id"), col("x"), k).as("tk"))
      .select(col("q_id"), explode(col("tk")).as("e"))
      .select(col("q_id"), col("e.score").as("score"), col("e.id").as("id"))
      .collect().map(_.toString).sorted
    val visited = state.filter(!col("x")).select("q_id", "id", "score")
    val reference = visited.join(
        state.filter(col("x")).select("q_id", "id"),
        Seq("q_id", "id"), "left_anti")
      .groupBy("q_id")
      .agg(functions.TopKAgg.topKByDistinct(col("score"), col("id"), k).as("tk"))
      .select(col("q_id"), explode(col("tk")).as("e"))
      .select(col("q_id"), col("e.score").as("score"), col("e.id").as("id"))
      .collect().map(_.toString).sorted
    fused shouldBe reference
    // and the walk that rides it still returns exactly k ranked rows
    // per query with ranks 1..k (the searchOrdered contract)
    val res = operators.KnnGraph.searchOrdered(spark, sfDir)
    val nq = Knn.querySet(spark, sfDir).count()
    res.count() shouldBe nq * Knn.K
  }

  test("hybrid queries ride the memoized arms: bit-equal to the direct form") {
    // default-fit hybrid calls route through Experiment.arm's
    // session-memoized retrievals; a caller-supplied fit takes the
    // direct path. With the fit pinned to the same memoized IDF rows,
    // both paths must produce identical rows — RRF and alpha fusion
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted
    val fit = Some(operators.Encoders.bm25IdfRows(spark, sfDir))
    rows(operators.Encoders.hybridSearch(spark, sfDir)) shouldBe
      rows(operators.Encoders.hybridSearch(spark, sfDir, kwFit = fit))
    rows(operators.Encoders.hybridAlphaSearch(spark, sfDir)) shouldBe
      rows(operators.Encoders.hybridAlphaSearch(spark, sfDir, kwFit = fit))
  }

  test("std text-query forms ride memoized arms: bit-equal to the generic calls") {
    import operators.Encoders
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted
    val q = Encoders.stdTextQueries(spark, sfDir)
    rows(Encoders.hashingTextStd(spark, sfDir)) shouldBe
      rows(Encoders.hashingSearchText(spark, sfDir, q))
    rows(Encoders.tfIdfTextStd(spark, sfDir)) shouldBe
      rows(Encoders.tfIdfSearchText(spark, sfDir, q))
    rows(Encoders.bm25TextStd(spark, sfDir)) shouldBe
      rows(Encoders.bm25TopKText(spark, sfDir, q))
    rows(Encoders.hybridTextStd(spark, sfDir)) shouldBe
      rows(Encoders.hybridSearchText(spark, sfDir, q))
  }

  test("persisted PQ index: indexed ≡ in-plan search") {
    import operators.Ann
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted
    // indexed search reads stored codes + stored _fit — bit-equal to
    // the in-plan form (same codebook path, same codes)
    val tmp = tempDir("graft-pqidx-spec")
    Ann.writePqIndex(spark, sfDir, tmp)
    val direct = rows(Ann.pqSearch(spark, sfDir))
    rows(Ann.pqIndexed(spark, sfDir, tmp)) shouldBe direct
    direct should not be empty
  }

  test("widened nprobe sweep brackets the knee: recall 1.0 at nprobe = NCentroids") {
    val rows = operators.Eval.annRecallIvfSweep(spark, sfDir).collect()
    rows.map(_.getLong(0)) shouldBe operators.Eval.SweepProbes.map(_.toLong).toArray
    // probing every cell IS the exact search — the curve's right edge
    rows.last.getDouble(1) shouldBe 1.0
    // recall is monotone non-decreasing in nprobe (prefix property)
    rows.map(_.getDouble(1)).sliding(2).foreach {
      case Array(a, b) => b should be >= a
      case _ =>
    }
  }
}
