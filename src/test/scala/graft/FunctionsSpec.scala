package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => Fn}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.functions._
import graft.operators.Dedup

/** Native codegen kernels must compute exactly what their declarative
  * HOF specs compute (the specs are what the DuckDB oracles mirror). */
class FunctionsSpec extends AnyFunSuite with Matchers with SharedSpark {

  test("native tokenStats equals the tokens / array_distinct / filter(isin) spec") {
    val stop = graft.operators.TextAnalysis.markers.head._2
    val s = spark
    import s.implicits._
    val edge = Seq[String]("", " ", "    ", "the", " the a ", "a  b   c", "  of of  of ",
      "the The THE the", "straße the ß straße", "日本 語 the 日本  é", "a\tb the\nthe", null)
      .toDF("text")
    val texts = edge.unionByName(graft.Tables.documents(spark, sfDir).select("text"))
    val toks = tokens(col("text"))
    val diffs = texts
      .select(native.tokenStats(col("text"), stop).as("k"),
        Fn.size(toks).cast("long").as("n_toks"),
        Fn.size(array_distinct(toks)).cast("long").as("n_uniq"),
        Fn.size(Fn.filter(toks, t => t.isin(stop.map(lit): _*))).cast("long").as("n_stop"))
      .filter(!(col("k.n_toks") <=> col("n_toks") && col("k.n_uniq") <=> col("n_uniq") &&
        col("k.n_stop") <=> col("n_stop")))
    diffs.collect() shouldBe empty
    texts.count() should be > 12L
  }

  test("native polyHash equals HOF spec on document text and tokens") {
    val d = Tables.documents(spark, sfDir)
      .select(polyHash(col("text")).as("a"), polyHashHof(col("text")).as("b"),
        polyHash(col("text"), 131).as("a131"), polyHashHof(col("text"), 131).as("b131"))
    d.filter(col("a") =!= col("b") || col("a131") =!= col("b131")).count() shouldBe 0
  }

  test("polyHash edge cases: empty string, single char, unicode") {
    import spark.implicits._
    val df = Seq("", "a", "hello world", "héllo ünïcode", "中文").toDF("s")
    val bad = df.select(polyHash(col("s")).as("a"), polyHashHof(col("s")).as("b"))
      .filter(col("a") =!= col("b")).count()
    bad shouldBe 0
  }

  test("native normalizeAscii equals the two-regex-pass spec") {
    import spark.implicits._
    def spec(c: org.apache.spark.sql.Column) =
      trim(regexp_replace(regexp_replace(c, "[^a-z0-9 ]", ""), " +", " "))
    // corpus text plus adversarial edges: unicode (incl. multi-byte and
    // the Kelvin sign whose LOWERCASE is ascii 'k'), tabs/newlines that
    // must vanish without becoming spaces, space runs, all-strip, empty
    val edges = Seq("", "   ", "\t\n", "a", "  a  b  ", "a.b,c!d",
      "héllo  ünïcodeK", "中 文  mixed 42", "a\tb\nc", "..!!..",
      "0  1 2").toDF("text")
    for (df <- Seq(Tables.documents(spark, sfDir).select("text"), edges)) {
      val lowered = df.select(lower(col("text")).as("s"))
      lowered.filter(Fn.not(
        graft.functions.native.normalizeAscii(col("s")) <=> spec(col("s"))))
        .count() shouldBe 0
    }
  }

  test("native dot/dist2 equal HOF specs on embeddings") {
    val e = Tables.embeddings(spark, sfDir)
    val a = e.select(col("vec_id"), col("embedding").as("va"))
    val b = e.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("vb"))
    val p = a.join(b, "vec_id")
    p.select(
        dot(col("va"), col("vb")).as("n"),
        dotHof(col("va"), col("vb")).as("h"))
      .filter(col("n") =!= col("h")).count() shouldBe 0
    p.select(
        euclid(col("va"), col("vb")).as("n"),
        sqrt(aggregate(zip_with(col("va"), col("vb"),
          (x, y) => { val d = x.cast("double") - y.cast("double"); d * d }),
          lit(0.0), (acc, v) => acc + v)).as("h"))
      .filter(col("n") =!= col("h")).count() shouldBe 0
  }

  test("native shingleHashes equals polyHash of concatenated shingles") {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("_toks"))
      .select(col("doc_id"),
        graft.functions.native.shingleHashes(col("_toks")).as("a"),
        transform(Dedup.shinglesOf(col("_toks")), s => polyHashHof(s)).as("b"))
    d.filter(col("a") =!= col("b")).count() shouldBe 0
  }

  test("native sortedIntersectCount equals size(array_intersect) on sorted-distinct arrays") {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("_toks"))
      .select(col("doc_id"),
        sort_array(array_distinct(
          graft.functions.native.shingleHashes(col("_toks")))).as("sh"))
    val a = d.select(col("doc_id"), col("sh").as("sh_a"))
    val b = d.select((col("doc_id") - 1).as("doc_id"), col("sh").as("sh_b"))
    val p = a.join(b, "doc_id")
    p.select(
        graft.functions.native.sortedIntersectCount(col("sh_a"), col("sh_b")).as("n"),
        org.apache.spark.sql.functions.size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("h"))
      .filter(col("n") =!= col("h")).count() shouldBe 0
    // edge cases: empty, disjoint, identical
    val s = spark
    import s.implicits._
    val edge = Seq(
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L))).toDF("x", "y")
    edge.select(
        graft.functions.native.sortedIntersectCount(col("x"), col("y")).as("n"),
        org.apache.spark.sql.functions.size(array_intersect(col("x"), col("y"))).cast("long").as("h"))
      .filter(col("n") =!= col("h")).count() shouldBe 0
  }

  test("native simhash62 equals the relational explode-bits formulation") {
    val tok = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .withColumn("h64",
        polyHash(col("tok"), 31) * lit(2147483648L) + polyHash(col("tok"), 131))
    val relational = tok
      .select(col("doc_id"), col("h64"), explode(sequence(lit(0), lit(61))).as("j"))
      .groupBy("doc_id", "j")
      .agg(sum(expr("2 * (shiftright(h64, j) & 1) - 1")).as("s"))
      .groupBy("doc_id")
      .agg(sum(when(col("s") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), j)")).otherwise(0L)).as("fp2"))
    val kernel = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.native.simhash62(tokens(col("text"))).as("fp"))
    kernel.join(relational, "doc_id")
      .filter(col("fp") =!= col("fp2")).count() shouldBe 0
  }

  test("native minhashSigs equals per-permutation HOF folds") {
    val hashed = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        transform(Dedup.shingles(col("text")), s => polyHash(s)).as("shh"))
      .filter(Fn.size(col("shh")) > 0)
    val native = hashed.select(col("doc_id"),
      graft.functions.native.minhashSigs(col("shh"), Dedup.perms, Dedup.P).as("sig"))
    val viaHof = Dedup.perms.zipWithIndex.foldLeft(hashed) { case (df, ((a, b), i)) =>
      df.withColumn(s"mh_$i", aggregate(col("shh"), lit(Long.MaxValue),
        (m, h) => least(m, (h * a + b) % Dedup.P)))
    }.select(col("doc_id"),
      array((0 until Dedup.perms.size).map(i => col(s"mh_$i")): _*).as("sig"))
    native.join(viaHof.withColumnRenamed("sig", "sig2"), "doc_id")
      .filter(col("sig") =!= col("sig2")).count() shouldBe 0
  }

  test("native bucketCounts equals the explode-groupBy counts, and the postings plan is exchange-free") {
    // kernel ≡ relational spec (what the unchanged DuckDB oracles
    // mirror): same (doc, bucket) set, same counts, norm = exact
    // integer-squares sum — on real corpus text plus edge docs
    import spark.implicits._
    val dim = 64
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .unionByName(Seq((100001L, ""), (100002L, " "), (100003L, "one"))
        .toDF("doc_id", "text"))
    val spec = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), (polyHash(col("tok")) % dim).as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
    val kern = docs.select(col("doc_id"),
        explode_outer(native.bucketCounts(tokens(col("text")), dim)).as("bc"))
      .filter(col("bc").isNotNull)
      .select(col("doc_id"), col("bc.bucket").as("bucket"), col("bc.cnt").as("cnt"))
    kern.unionByName(spec).except(kern.intersect(spec)).count() shouldBe 0
    kern.count() shouldBe spec.count()
    // the r16 encode contract: the postings derivation is map-side
    // only — no Exchange anywhere below the hashing index build
    val plan = graft.operators.Encoders
      .hashingTf(spark, sfDir).queryExecution.optimizedPlan.toString
    withClue(plan) {
      plan.contains("RepartitionByExpression") shouldBe false
    }
    val phys = graft.operators.Encoders.hashingTf(spark, sfDir)
      .queryExecution.executedPlan.toString
    // one Sort for the presentation orderBy is expected; the encode
    // itself must plan no hash-partitioning exchange
    withClue(phys) {
      "Exchange hashpartitioning".r.findAllIn(phys).length shouldBe 0
    }
  }

  test("native tokenCounts equals the explode-groupBy term counts") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .unionByName(Seq((100001L, ""), (100002L, "a a b"), (100003L, "héllo héllo"))
        .toDF("doc_id", "text"))
    val spec = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val kern = docs.select(col("doc_id"),
        explode_outer(native.tokenCounts(tokens(col("text")))).as("tc"))
      .filter(col("tc").isNotNull)
      .select(col("doc_id"), col("tc.tok").as("tok"), col("tc.tf").as("tf"))
    kern.unionByName(spec).except(kern.intersect(spec)).count() shouldBe 0
    kern.count() shouldBe spec.count()
  }

  test("rnd matches floor formula and avoids negative zero") {
    import spark.implicits._
    val df = Seq(0.59625, -0.00003, 0.0, 1.23456789, -2.5).toDF("x")
    val rows = df.select(rnd(col("x"), 4).as("r")).as[Double].collect()
    // 0.59625 * 1e4 = 5962.4999... in IEEE double -> floors to 5962 on
    // BOTH engines (Spark's exact-BigDecimal round() would say 5963,
    // DuckDB's scaled round() 5962 — which is why rnd exists).
    rows(0) shouldBe 0.5962
    rows(1) shouldBe 0.0
    java.lang.Double.doubleToRawLongBits(rows(1)) shouldBe 0L // not -0.0
  }

  test("GramTriangle equals the declarative pair-product fold, any partitioning") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dim = 4
    val vecs = Seq(
      Array(1.0f, 2.0f, -3.0f, 0.5f),
      Array(0.0f, 1.5f, 2.5f, -1.0f),
      Array(4.0f, -0.5f, 0.25f, 2.0f),
      Array(-2.0f, 3.0f, 1.0f, 0.0f),
      Array(0.1f, 0.2f, 0.3f, 0.4f))
    def gram(parts: Int): Array[Long] = {
      val df = vecs.toDF("embedding").repartition(parts)
      df.agg(graft.functions.GramAgg.gramTriangle(col("embedding"), dim).as("g"))
        .collect()(0).getSeq[Long](0).toArray
    }
    // reference: per-pair fixed-point products summed in plain Scala
    val expect = new Array[Long](dim * (dim + 1) / 2)
    vecs.foreach { v =>
      var idx = 0
      for (i <- 0 until dim; j <- i until dim) {
        expect(idx) += math.floor(v(i).toDouble * v(j).toDouble * 1e9 + 0.5).toLong
        idx += 1
      }
    }
    gram(1) shouldBe expect
    gram(3) shouldBe expect // partials merge exactly on any split
    gram(5) shouldBe expect
  }
}
