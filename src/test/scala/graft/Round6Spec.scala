package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.operators._

/** Round-6 additions: BM25 keyword retrieval, RRF hybrid search, the
  * search_mode experiment dimension, and the O(m) paired-test fold. */
class Round6Spec extends AnyFunSuite with Matchers with SharedSpark {

  test("bm25 top-k equals a driver-side recomputation") {
    // full BM25 recomputed from collected texts with plain Scala —
    // independent of both the Spark plan shape and the SQL oracle
    val k = 10; val nq = 5; val dim = Encoders.Dim
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        Option(r.getString(1)).getOrElse("").split(" ").filter(_.nonEmpty).toSeq)
      .toMap
    val nDocs = texts.size.toLong
    val tf = texts.map { case (id, toks) =>
      id -> toks.groupBy(identity).view.mapValues(_.length.toLong).toMap }
    val byTok = tf.toSeq.flatMap { case (id, m) => m.map { case (t, c) => (t, id, c) } }
    val vocab = byTok.groupBy(_._1).view
      .mapValues(rs => (rs.map(_._3).sum, rs.length.toLong)).toSeq
      .sortBy { case (t, (total, _)) => (-total, t) }.take(dim)
    val idf6 = vocab.map { case (t, (_, df)) =>
      t -> math.floor(math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5)) * 1e6 + 0.5).toLong
    }.toMap
    val dl = tf.view.mapValues(_.values.sum).toMap
    val totTok = dl.values.sum
    val avgdl = totTok.toDouble / nDocs
    val expected = (0L until nq).flatMap { q =>
      val qToks = tf(q).keySet.filter(idf6.contains)
      val scored = tf.toSeq.filter(_._1 >= nq).flatMap { case (d, m) =>
        val sq = qToks.toSeq.flatMap { t => m.get(t).map { c =>
          math.floor((idf6(t) / 1e6) * (c * 2.2) /
            (c + 1.2 * (0.25 + 0.75 * dl(d) / avgdl)) * 1e9 + 0.5).toLong
        } }.sum
        if (sq == 0L && !qToks.exists(m.contains)) None else Some((d, sq))
      }
      scored.sortBy { case (d, sq) => (-sq, d) }.take(k).zipWithIndex.map {
        case ((d, sq), i) =>
          (q, (i + 1).toLong, d, math.floor(sq / 1e9 * 1e4 + 0.5) / 1e4)
      }
    }.toSet
    val got = Encoders.bm25TopK(spark, sfDir, k, nq, dim).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    got shouldBe expected
  }

  test("hybrid search is exactly the RRF fusion of its two arms") {
    val k = 10
    def ranks(df: DataFrame): Map[(Long, Long), Long] =
      df.collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    val vec = ranks(Encoders.hashingSearch(spark, sfDir, k))
    val kw = ranks(Encoders.bm25TopK(spark, sfDir, k))
    val fused = (vec.keySet ++ kw.keySet).toSeq.map { key =>
      val s = vec.get(key).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        kw.get(key).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      (key._1, key._2, s)
    }
    val expected = fused.groupBy(_._1).toSeq.flatMap { case (q, rows) =>
      rows.sortBy { case (_, d, s) => (-s, d) }.take(k).zipWithIndex.map {
        case ((_, d, s), i) =>
          (q, (i + 1).toLong, d, math.floor(s * 1e6 + 0.5) / 1e6)
      }
    }.toSet
    val got = Encoders.hybridSearch(spark, sfDir, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    got shouldBe expected
  }

  test("experiment matrix hybrid legs cover every query with scores in range") {
    val m = Experiment.matrix(spark, sfDir).collect()
    m.length shouldBe 4
    m.map(_.getString(1)).distinct.sorted.toSeq shouldBe Seq("hybrid", "vector")
    // hybrid legs see the same corpus/query universe as vector legs
    m.map(_.getLong(3)).distinct.length shouldBe 1
    m.map(_.getLong(4)).distinct.toSeq shouldBe Seq(Experiment.NQ.toLong)
  }

  test("O(m) t-CDF fold equals the quadratic per-term-prefix sum bit for bit") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    // evaluate both formulations as Column expressions over the same
    // (u, m) rows: the r6 linear fold must reproduce the r5 quadratic
    // sum's IEEE value stream exactly, including degenerate m
    val rows = Seq((0.999, 0), (0.5, 1), (0.7, 2), (0.37, 7), (0.9312, 74), (0.75, 75))
    val df = rows.toDF("u", "m")
    val u = col("u"); val m = col("m")
    def num(i: Column) = (i * 2 - 1).cast("double")
    def den(i: Column) = (i * 2).cast("double")
    // r5 quadratic formulation (the reference semantics)
    def prodTerm(j: Column) =
      when(j === 0, lit(1.0)).otherwise(
        aggregate(sequence(lit(1), j), lit(1.0),
          (acc, i) => acc * (u * num(i) / den(i))))
    val quad = when(m <= 0, lit(0.0)).otherwise(
      aggregate(transform(sequence(lit(0), m - 1), j => prodTerm(j)),
        lit(0.0), (acc, x) => acc + x))
    // r6 linear fold (mirrors PerfStats.sumTerms)
    val folded = aggregate(
      sequence(lit(1), m - 1),
      struct(lit(1.0).as("p"), lit(1.0).as("s")),
      (acc, i) => {
        val t = u * num(i) / den(i)
        struct((acc("p") * t).as("p"), (acc("s") + acc("p") * t).as("s"))
      })
    val lin = when(m <= 0, lit(0.0)).when(m === 1, lit(1.0)).otherwise(folded("s"))
    val got = df.select(quad.as("q"), lin.as("l")).collect()
    got.foreach { r => r.getDouble(1) shouldBe r.getDouble(0) }
  }

  test("embedding-LSH star fallback keeps every bucketed vector reachable") {
    // with a tiny cap most buckets take the star path; the fix's
    // contract: capped candidates are a subset of the uncapped pair
    // set's CLOSURE (star edges are within-bucket pairs too), and no
    // vector that the uncapped pass would consider is dropped
    val uncapped = Dedup.embeddingLshCandidates(spark, sfDir, Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.embeddingLshCandidates(spark, sfDir, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    capped.subsetOf(uncapped) shouldBe true
    val uncappedVertices = uncapped.flatMap(p => Seq(p._1, p._2))
    val cappedVertices = capped.flatMap(p => Seq(p._1, p._2))
    cappedVertices shouldBe uncappedVertices
    // star output is linear: far fewer edges than the full expansion
    capped.size should be < uncapped.size
  }

  test("paired tests degenerate guard: identical populations emit no p-values") {
    val row = PerfStats.pairedTests(spark, sfDir, "click", "click").collect()(0)
    row.getLong(0) shouldBe 0L      // all differences are zero -> dropped
    row.isNullAt(3) shouldBe true   // no t p-value
    row.isNullAt(5) shouldBe true   // no wilcoxon p-value
  }

  test("idfLiteralsBoth equals the single-table fits bit for bit") {
    // the shared-fit fast path must reproduce the separately-fit
    // literal tables exactly — same double-op order, same quantization
    val (t, b) = Encoders.idfLiteralsBoth(spark, sfDir)
    t shouldBe Encoders.idfLiteralsTfIdf(spark, sfDir)
    b shouldBe Encoders.idfLiteralsBm25(spark, sfDir)
  }

  test("wilcoxon gate follows scipy's auto regime when zero diffs are dropped") {
    // scipy's exact method requires no ties AND no zeros: with zero
    // differences dropped, method='auto' approximates even for small
    // tie-free n — so the operator must emit the approximation there
    // instead of nulling (it nulls only where scipy would go exact)
    import spark.implicits._
    val tmp = tempDir("graft-wilczero")
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val zeros = (1L to 25L).flatMap(u => Seq(
      (u * 2, u, "click", 5.0, ts), (u * 2 + 1, u, "view", 5.0, ts)))
    val diffs = (26L to 31L).flatMap(u => Seq(
      (u * 2, u, "click", 5.0 + u * 0.011, ts), (u * 2 + 1, u, "view", 5.0, ts)))
    (zeros ++ diffs).toDF("event_id", "user_id", "event_type", "value", "ts")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val row = PerfStats.pairedTests(spark, tmp).collect()(0)
    row.getLong(0) shouldBe 6L       // only the nonzero differences count
    row.isNullAt(5) shouldBe false   // zeros force the approx regime: p emitted
  }

  test("prefix-filter completeness: candidates cover every J >= t pair (random corpora)") {
    // the prefix-filtering principle is the load-bearing claim behind
    // the r6 ngram-Jaccard rewrite — exercise it on adversarial random
    // corpora: skewed token frequencies, shared boilerplate, duplicate
    // clusters, and size-mismatched docs (the floor-epsilon edge)
    import spark.implicits._
    val rnd = new scala.util.Random(6)
    val vocabToks = (0 until 40).map(i => s"w$i")
    for (round <- 0 until 3) {
      val tmp = tempDir(s"graft-prefix$round")
      val docs = (0L until 60L).map { i =>
        val base = (0 until 3 + rnd.nextInt(25))
          .map(_ => vocabToks(math.min(rnd.nextInt(40), rnd.nextInt(40))))
        val text =
          if (i % 5 == 0 && i > 0) {
            // near-dup of the previous doc: mutate a couple of tokens
            val prev = (0 until 3 + rnd.nextInt(25))
              .map(_ => vocabToks((i.toInt * 7 + rnd.nextInt(6)) % 40))
            (prev ++ base.take(2)).mkString(" ")
          } else base.mkString(" ")
        (i, text, if (i % 2 == 0) "en" else "de")
      }
      docs.toDF("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      // exhaustive within-block truth, computed independently of the
      // candidate path (plain Scala over collected shingle sets)
      val sets = Dedup.hashedShingles(spark, tmp)
        .select(col("doc_id"), col("lang"), col("t0"),
          array_distinct(col("shh")).as("sh"))
        .collect()
        .map(r => (r.getLong(0), (r.getString(1), Option(r.get(2)),
          r.getSeq[Long](3).toSet)))
        .toMap
      val truth = (for {
        (a, (la, ta, sa)) <- sets.toSeq; (b, (lb, tb, sb)) <- sets.toSeq
        if a < b && la == lb && ta.isDefined && ta == tb && sa.nonEmpty
        inter = (sa & sb).size
        if inter.toDouble / (sa.size + sb.size - inter) >= 0.2
      } yield (a, b)).toSet
      val cands = Dedup.ngramJaccardCandidates(spark, tmp)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      truth.subsetOf(cands) shouldBe true
      // and the verified output equals the truth exactly
      val out = Dedup.ngramJaccard(spark, tmp)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      out shouldBe truth
    }
  }
}
