package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => Fn}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.operators.{Dedup, Skew}
import graft.sources.Sources

class ExtensionsSpec extends AnyFunSuite with Matchers with SharedSpark {

  test("graft functions are callable from pure SQL after registration") {
    GraftExtensions.register(spark)
    import spark.implicits._
    spark.sql("SELECT graft_polyhash('hello') AS h").as[Long].head() shouldBe
      Tables.documents(spark, sfDir).limit(1)
        .select(graft.functions.polyHash(lit("hello"))).as[Long].head()
    spark.sql(
      """SELECT graft_dot(embedding, embedding) AS d
        |FROM parquet.`/root/testdata/sf0.001/embeddings.parquet` LIMIT 1""".stripMargin)
      .as[Double].head() shouldBe 1.0 +- 0.001
    val topk = spark.sql(
      """SELECT label, graft_topk_by(CAST(vec_id AS DOUBLE), vec_id, 3) AS tk
        |FROM parquet.`/root/testdata/sf0.001/embeddings.parquet`
        |GROUP BY label""".stripMargin)
    topk.select(Fn.size(col("tk"))).distinct().collect()
      .map(_.getInt(0)).toSet shouldBe Set(3)
    // the dense-serving kernel: exact integer sparse·dense product
    spark.sql(
      """SELECT graft_sparse_dot_dense(
        |  array(0L, 2L, 5L), array(3L, 4L, 5L),
        |  array(10L, 0L, 1L, 0L, 0L, 2L)) AS ip""".stripMargin)
      .as[Long].head() shouldBe (3 * 10 + 4 * 1 + 5 * 2)
  }
}

class SourcesSpec extends AnyFunSuite with Matchers with SharedSpark {

  test("JSONL documents/queries and qrels.json round-trip") {
    val dir = new java.io.File(tempDir("graft-sources"))
    val docs = new java.io.File(dir, "documents.jsonl")
    Files.writeString(docs.toPath,
      """{"id":"d1","text":"hello world","category":"c1","timestamp":"2024-01-01","source":"s1"}
        |{"id":"d2","text":"more text","category":"c2","timestamp":"2024-01-02","source":"s2"}
        |""".stripMargin)
    val queries = new java.io.File(dir, "queries.jsonl")
    Files.writeString(queries.toPath,
      """{"id":"q1","query":"hello"}
        |""".stripMargin)
    val qrels = new java.io.File(dir, "qrels.json")
    Files.writeString(qrels.toPath, """{"q1": ["d1", "d2"], "q2": ["d2"]}""")

    val d = Sources.readDocumentsJsonl(spark, docs.getAbsolutePath)
    d.count() shouldBe 2
    d.schema.fieldNames.toSeq shouldBe Seq("id", "text", "category", "timestamp", "source")
    Sources.readQueriesJsonl(spark, queries.getAbsolutePath).count() shouldBe 1
    val qr = Sources.readQrelsJson(spark, qrels.getAbsolutePath)
    qr.count() shouldBe 3
    qr.filter(col("q_id") === "q1").count() shouldBe 2

    val out = new java.io.File(dir, "summary")
    Sources.writeSummaryCsv(d.groupBy("category").count(), out.getAbsolutePath)
    val back = Sources.readSummaryCsv(spark, out.getAbsolutePath,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("category", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("count", org.apache.spark.sql.types.LongType))))
    back.count() shouldBe 2
  }

  test("events CSV round-trips losslessly into the verified operators") {
    val dir = tempDir("graft-evcsv")
    val orig = graft.Tables.events(spark, sfDir)
    Sources.writeEventsCsv(orig, s"$dir/events_csv")
    val staged = Sources.readEventsCsv(spark, s"$dir/events_csv")
    staged.count() shouldBe orig.count()
    // a verified operator produces identical results on the staged copy
    staged.write.mode("overwrite").parquet(s"$dir/events.parquet")
    // runSummary exercises ts (hour buckets) AND value through the CSV
    val a = graft.operators.PerfStats.runSummary(spark, sfDir)
    val b = graft.operators.PerfStats.runSummary(spark, dir)
    a.exceptAll(b).count() shouldBe 0
    b.exceptAll(a).count() shouldBe 0
  }

  test("JSONL corpus staged as driver tables runs verified operators unchanged") {
    val dir = tempDir("graft-jsonl")
    // export the real documents table in the ref's JSONL layout
    val docs = graft.Tables.documents(spark, sfDir)
    Sources.writeDocumentsJsonl(
      docs.select(col("doc_id").cast("string").as("id"), col("text"),
        col("lang").as("category"), lit("2024-01-01").as("timestamp"),
        col("source")),
      s"$dir/corpus.jsonl")
    // import it back and stage as a driver-layout dir
    val staged = Sources.readDocumentsJsonl(spark, s"$dir/corpus.jsonl")
      .select(col("id").cast("long").as("doc_id"), col("text"),
        col("category").as("lang"), col("source"),
        Fn.length(col("text")).cast("long").as("n_chars"))
    staged.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // text content survives the JSON round-trip bit-for-bit: a verified
    // operator produces identical results on the staged dir
    val a = graft.operators.TextAnalysis.fingerprint(spark, sfDir)
    val b = graft.operators.TextAnalysis.fingerprint(spark, dir)
    a.exceptAll(b).count() shouldBe 0
    b.exceptAll(a).count() shouldBe 0
  }
}

class ApproxSpec extends AnyFunSuite with Matchers with SharedSpark {

  test("approx sketches land within tolerance of exact values") {
    val approx = graft.operators.PerfStats.approxSummary(spark, sfDir)
    val exact = Tables.events(spark, sfDir).groupBy("event_type")
      .agg(countDistinct("user_id").as("exact_users"),
        expr("percentile(value, 0.5)").as("exact_p50"))
    val joined = approx.join(exact, "event_type")
      .select(col("event_type"), col("approx_users"), col("exact_users"),
        col("approx_pcts").getItem(0).as("approx_p50"), col("exact_p50"))
      .collect()
    joined should not be empty
    joined.foreach { r =>
      val (au, eu) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      math.abs(au - eu) / eu should be < 0.15
      math.abs(r.getDouble(3) - r.getDouble(4)) should be < 1.0
    }
  }
}

class DataGenSpec extends AnyFunSuite with Matchers with SharedSpark {

  test("generated dataset is deterministic and runs existing operators unchanged") {
    val tmp = tempDir("graft-gen")
    sources.DataGen.writeDataset(spark, tmp, 2000L, 1000L)
    // determinism: regenerating yields identical rows (hash-derived, not rand())
    val a = sources.DataGen.documents(spark, 100L).collect().map(_.toString).sorted
    val b = sources.DataGen.documents(spark, 100L).collect().map(_.toString).sorted
    a shouldBe b
    // the injected duplicates are findable by the dedup family
    graft.operators.Dedup.exact(spark, tmp)
      .filter(col("cnt") > 1).count() should be > 0L
    // verified operators run unchanged against the generated dir
    graft.operators.Knn.bruteForce(spark, tmp).count() should be > 0L
    graft.operators.TextAnalysis.langId(spark, tmp).count() shouldBe 2000L
    graft.operators.Eval.precisionAtK(spark, tmp).count() should be > 0L
  }

  test("qrels pairs share the query's lang") {
    val docs = sources.DataGen.documents(spark, 500L)
    val qr = sources.DataGen.qrels(docs, 5)
    qr.count() should be > 0L
    val joined = qr
      .join(docs.select(col("doc_id").as("q_id"), col("lang").as("ql")), "q_id")
      .join(docs.select(col("doc_id"), col("lang").as("dl")), "doc_id")
    joined.filter(col("ql") =!= col("dl")).count() shouldBe 0L
  }
}

class SkewSpec extends AnyFunSuite with Matchers with SharedSpark {

  test("saltedAgg equals plain aggregation") {
    val li = Tables.lineitem(spark, sfDir)
    val salted = Skew.saltedAgg(li, col("l_returnflag"), col("l_orderkey"), 8,
      col("l_quantity"), sum, sum)
      .withColumnRenamed("_k", "l_returnflag")
    val plain = li.groupBy("l_returnflag").agg(sum("l_quantity").as("value"))
    // integer-valued quantities: sums are exact, so exact equality holds
    salted.exceptAll(plain).count() shouldBe 0
    plain.exceptAll(salted).count() shouldBe 0
  }

  test("saltedJoin equals plain join on a skewed key") {
    import spark.implicits._
    // 10k rows all sharing one hot key + a long tail
    val big = spark.range(10000).select(col("id"),
      when(col("id") < 9000, lit("hot")).otherwise(concat(lit("k"), col("id"))).as("k"))
    val small = spark.range(100)
      .select(concat(lit("k"), col("id") + 9000).as("k"), col("id").as("v"))
      .union(Seq(("hot", -1L)).toDF("k", "v"))
    val plain = big.join(small, Seq("k")).select("id", "v")
    val salted = Skew.saltedJoin(big, small, "k", col("id"), 8).select("id", "v")
    salted.exceptAll(plain).count() shouldBe 0
    plain.exceptAll(salted).count() shouldBe 0
  }

  test("capBuckets drops oversized buckets only") {
    import spark.implicits._
    val buckets = Seq(
      ("a", Seq(1L, 2L)),
      ("b", (1L to 100L))).toDF("key", "ids")
    val capped = Skew.capBuckets(buckets, "ids", 50)
    capped.count() shouldBe 1
    capped.select("key").as[String].head() shouldBe "a"
  }

  test("index kernels are callable from pure SQL with the library constants") {
    GraftExtensions.register(spark)
    spark.read.parquet(s"$sfDir/documents.parquet").createOrReplaceTempView("documents")
    spark.read.parquet(s"$sfDir/embeddings.parquet").createOrReplaceTempView("embeddings")
    val fp = spark.sql(
      """SELECT graft_simhash62(filter(split(text, ' '), t -> length(t) > 0)) AS fp
        |FROM documents LIMIT 5""".stripMargin)
    fp.count() shouldBe 5
    val mh = spark.sql(
      """SELECT graft_minhash_sigs(graft_shingle_hashes(filter(split(text, ' '), t -> length(t) > 0))) AS sig
        |FROM documents WHERE size(filter(split(text, ' '), t -> length(t) > 0)) >= 3 LIMIT 3""".stripMargin)
    mh.select(Fn.size(col("sig"))).distinct().collect().map(_.getInt(0)).toSet shouldBe Set(16)
    val hs = spark.sql("SELECT graft_hyperplane_sig(embedding) AS sig FROM embeddings LIMIT 3")
    hs.collect().foreach(r => r.getLong(0) should be >= 0L)
  }

  test("graft_topk_by_distinct: duplicate ids collapse to one slot, best score kept") {
    GraftExtensions.register(spark)
    import spark.implicits._
    // id 1 arrives twice (5.0 then 9.0 — the in-place upgrade path);
    // spread over partitions so the partial-buffer MERGE path runs too
    Seq((1L, 5.0), (2L, 2.0), (3L, 3.0), (4L, 4.0), (1L, 9.0))
      .toDF("id", "s").repartition(4).createOrReplaceTempView("tkd")
    val dst = spark.sql("SELECT graft_topk_by_distinct(s, id, 3) AS tk FROM tkd")
      .select(explode(col("tk")).as("e"))
      .select(col("e.score"), col("e.id")).as[(Double, Long)].collect().toList
    dst shouldBe List((9.0, 1L), (4.0, 4L), (3.0, 3L))
    // the plain variant spends two of three slots on the duplicate —
    // the contrast that motivates the distinct form
    val plain = spark.sql("SELECT graft_topk_by(s, id, 3) AS tk FROM tkd")
      .select(explode(col("tk")).as("e")).select(col("e.id")).as[Long]
      .collect().toList
    plain shouldBe List(1L, 1L, 4L)
  }

  test("topKByDistinct equals dedupe-to-max then plain top-k") {
    import graft.functions.TopKAgg
    // pseudo-random many-dup frame: 50 groups × 40 keys, ~3 rows/key
    val df = spark.range(6000).select(
        pmod(xxhash64(col("id"), lit(1)), lit(50)).as("g"),
        pmod(xxhash64(col("id"), lit(2)), lit(40)).as("k"),
        (pmod(xxhash64(col("id"), lit(3)), lit(100000)) / 100.0).as("s"))
      .repartition(8)
    def render(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(col("g"), col("tk").cast("string").as("tk"))
        .collect().map(_.toString).toSet
    val onePass = render(df.groupBy("g")
      .agg(TopKAgg.topKByDistinct(col("s"), col("k"), 5).as("tk")))
    val twoPass = render(df.groupBy("g", "k").agg(max("s").as("s"))
      .groupBy("g").agg(TopKAgg.topKBy(col("s"), col("k"), 5).as("tk")))
    onePass shouldBe twoPass
  }

  test("graft_topk_by validates inputs at analysis time") {
    GraftExtensions.register(spark)
    spark.read.parquet(s"$sfDir/documents.parquet").createOrReplaceTempView("documents")
    // non-numeric score: analysis error, not an executor ClassCastException
    an[Exception] should be thrownBy
      spark.sql("SELECT graft_topk_by(text, doc_id, 3) FROM documents").collect()
    // k = 0: rejected before execution (would index an empty heap array)
    an[Exception] should be thrownBy
      spark.sql("SELECT graft_topk_by(CAST(doc_id AS DOUBLE), doc_id, 0) FROM documents").collect()
    // integer score: implicitly cast, runs fine
    spark.sql("SELECT graft_topk_by(doc_id, doc_id, 3) AS tk FROM documents")
      .collect().length shouldBe 1
  }

  test("experiment run: one timed summary row, CSV round-trips") {
    import org.apache.spark.sql.types._
    val tmp = tempDir("graft-exp")
    val out = graft.operators.Experiment.run(spark, sfDir, Some(s"$tmp/summary"))
    out.count() shouldBe 1
    val row = out.collect()(0)
    row.getAs[String]("model") shouldBe "hashing_tf"
    row.getAs[Long]("n_queries") shouldBe 5L
    row.getAs[Double]("encode_sec") should be > 0.0
    val schema = StructType(out.schema.map(f => f.copy(dataType = StringType)))
    val back = Sources.readSummaryCsv(spark, s"$tmp/summary", schema)
    back.count() shouldBe 1
    back.collect()(0).getAs[String]("model") shouldBe "hashing_tf"
  }

  test("capBlocks drops only rows whose blocking key is oversized") {
    import spark.implicits._
    val df = ((1 to 100).map(i => ("hot", i.toLong)) ++
      Seq(("cold", 1L), ("cold", 2L))).toDF("k", "id")
    val capped = Skew.capBlocks(df, Seq("k"), 50)
    capped.count() shouldBe 2
    capped.select("k").distinct().as[String].head() shouldBe "cold"
  }

  test("adversarial skew: a 10k-member hot block is dropped, small blocks survive") {
    import spark.implicits._
    val tmp = tempDir("graft-skew")
    // 10,000 identical docs — one (lang, t0) block and one SimHash band;
    // uncapped these expand ~5×10⁷ pairs. Plus one genuine near-dup pair
    // in a small block that must survive the cap.
    val hot = (0L until 10000L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog", "en"))
    val near = Seq(
      (20000L, "alpha beta gamma delta epsilon zeta", "fr"),
      (20001L, "alpha beta gamma delta epsilon eta", "fr"))
    (hot ++ near).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = Dedup.ngramJaccard(spark, tmp, threshold = 0.2, maxBlock = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    pairs shouldBe Array((20000L, 20001L))
    // simhash: the hot band is dropped entirely; only small-band pairs remain
    val sp = Dedup.simhashPairs(spark, tmp, maxHamming = 61, maxBlock = 64)
    sp.filter(col("id_a") < 10000L).count() shouldBe 0
    sp.count() should be <= 1L
  }

  test("fxSum/fxAvg are partition- and order-invariant, raw double sum shown fragile") {
    import spark.implicits._
    import graft.functions.{fxAvg, fxSum}
    val xs = (1 to 5000).map(i => (i % 7, math.sin(i) * 1000))
    def agg(parts: Int) = xs.toDF("k", "v").repartition(parts, col("v"))
      .groupBy("k").agg(fxSum(col("v"), 6).as("s"), fxAvg(col("v"), 6).as("a"))
      .collect().map(r => (r.getInt(0), (r.getDouble(1), r.getDouble(2)))).toMap
    // exact equality across partitionings — long sums are associative
    agg(1) shouldBe agg(31)
  }

  test("minhash doc-frequency stoplist keeps true near-dups") {
    import spark.implicits._
    val tmp = tempDir("graft-stop")
    val boiler = "terms and conditions apply to everything here"
    val docs = (0L until 40L).map(i =>
      (i, s"unique$i content$i token$i " + boiler, "en")) ++
      Seq((100L, "alpha beta gamma delta epsilon theta iota kappa lambda mu nu xi zeta " + boiler, "en"),
        (101L, "alpha beta gamma delta epsilon theta iota kappa lambda mu nu xi eta " + boiler, "en"))
    docs.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // boilerplate shingles sit in 100% of docs; with the stoplist they
    // are dropped before signatures, and the genuine near-dup survives
    val pairs = Dedup.minhashLsh(spark, tmp, threshold = 0.3, stopDf = Some(0.5))
      .select("id_a", "id_b").as[(Long, Long)].collect()
    pairs should contain((100L, 101L))
    pairs.foreach { case (a, b) => (a, b) shouldBe ((100L, 101L)) }
  }

  test("saltOf is deterministic and within range") {
    import spark.implicits._
    val s = Tables.orders(spark, sfDir)
      .select(Skew.saltOf(col("o_orderkey"), 16).as("s"))
    s.agg(min("s"), max("s")).as[(Int, Int)].head() match {
      case (lo, hi) => lo should be >= 0; hi should be < 16
    }
    val a = s.groupBy("s").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val b = s.groupBy("s").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    a shouldBe b
  }
}

class ShapingSpec extends AnyFunSuite with Matchers with SharedSpark {
  import graft.operators.{Shaping, TextAnalysis}

  test("snippet queries retrieve their source doc (unit_test_precision.py flow)") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Encoders
    // the ref's own unit test, mirrored faithfully: a tiny planted
    // corpus whose docs each carry a unique keyword and fit inside the
    // snippet window (unit_test_precision.py:7 builds exactly this),
    // snippet queries generated from it, retrieval must put each
    // query's source doc at rank 1 — qrels p@1 = 1.0. On the big
    // synthetic soup corpora self-retrieval at rank 1 is NOT implied
    // (a 200-char snippet of a long doc can match a short doc better),
    // which is why the planted corpus is the right fixture, exactly as
    // the ref chose.
    val s2 = spark
    import s2.implicits._
    val tmp = tempDir("graft-utp")
    (1 to 5).map(i =>
        (i.toLong, s"some unique content about topic $i and keyword_$i"))
      .toDF("doc_id", "text")
      .write.parquet(s"$tmp/documents.parquet")
    val qs = graft.operators.Shaping.queryGen(spark, tmp, qCount = 5)
    val res = Encoders.hashingSearchText(spark, tmp,
      qs.select(col("q_num").as("q_id"), col("query").as("text")), k = 5)
    val rank1 = res.filter(col("rank") === 1)
      .collect().map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("doc_id")).toMap
    val qrels = qs.collect()
      .map(r => r.getAs[Long]("q_num") -> r.getAs[Long]("rel_doc_id"))
    qrels.length shouldBe 5
    qrels.foreach { case (q, d) =>
      withClue(s"query $q (source doc $d): ") { rank1(q) shouldBe d }
    }
    // and the snippet IS the full doc here, so the top score is exact 1
    res.filter(col("rank") === 1).collect()
      .foreach(_.getAs[Double]("score") shouldBe 1.0)
  }

  test("queryGen: deterministic snippet queries with self-consistent qrels") {
    val q = Shaping.queryGen(spark, sfDir, qCount = 50, snippetLen = 40)
    val rows = q.collect()
    rows.length shouldBe 50
    // ranks are 1..q, qids formatted q<rank> (create_qs.py's shape)
    rows.map(_.getAs[Long]("q_num")) shouldBe (1L to 50L).toArray
    rows.foreach(r => r.getAs[String]("q_id") shouldBe s"q${r.getAs[Long]("q_num")}")
    // one qrel doc per query, all distinct (sampling without replacement)
    rows.map(_.getAs[Long]("rel_doc_id")).distinct.length shouldBe 50
    // the query IS the relevant doc's prefix
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      r.getAs[String]("query") shouldBe
        texts(r.getAs[Long]("rel_doc_id")).take(40)
    }
    // deterministic: a second run is identical (no rand() anywhere)
    Shaping.queryGen(spark, sfDir, qCount = 50, snippetLen = 40)
      .collect().map(_.toString) shouldBe rows.map(_.toString)
    // qCount caps at the corpus size
    val n = Tables.documents(spark, sfDir).count()
    Shaping.queryGen(spark, sfDir, qCount = 100000).count() shouldBe n
  }

  test("stratified sample honors per-language quotas and is deterministic") {
    val docs = Tables.documents(spark, sfDir)
    val total = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = Shaping.stratifiedSample(spark, sfDir).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // full-quota languages keep everything; en is downsampled to ~30%
    Shaping.quotas.filter(_._2 == 1000).foreach { case (l, _) =>
      kept.getOrElse(l, 0L) shouldBe total.getOrElse(l, 0L)
    }
    // en is downsampled: strictly fewer kept than present (the exact
    // fraction ~0.3 is only meaningful at larger corpus sizes)
    kept("en") should be < total("en")
    kept("en") should be > 0L
    // deterministic: same rows on a second run
    val again = Shaping.stratifiedSample(spark, sfDir).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    again shouldBe kept
  }

  test("sequence packing conserves tokens and fills bins contiguously") {
    val d = Tables.documents(spark, sfDir)
      .select(Fn.size(graft.functions.tokens(col("text"))).cast("long").as("n"))
    val totalToks = d.agg(sum("n")).collect()(0).getLong(0)
    val bins = Shaping.packSequences(spark, sfDir).cache()
    bins.agg(sum("bin_tokens")).collect()(0).getLong(0) shouldBe totalToks
    // per shard: bins are 0..max contiguous and non-empty
    val bad = bins.groupBy("shard")
      .agg(Fn.count(lit(1)).as("n_bins"), Fn.max("bin").as("max_bin"),
        Fn.min("n_docs").as("min_docs"))
      .filter(col("n_bins") =!= col("max_bin") + 1 || col("min_docs") < 1)
    bad.count() shouldBe 0
    bins.unpersist()
  }

  test("source stats conserve totals across sources") {
    val stats = Shaping.sourceStats(spark, sfDir).cache()
    val totalDocs = Tables.documents(spark, sfDir).count()
    stats.agg(Fn.sum("n_docs")).collect()(0).getLong(0) shouldBe totalDocs
    // dup counts are bounded by doc counts and non-negative
    stats.filter(col("n_dups") < 0 || col("n_dups") >= col("n_docs"))
      .count() shouldBe 0
    // quality is a [0,1]-ish score
    stats.filter(col("mean_quality") < 0.0 || col("mean_quality") > 1.2)
      .count() shouldBe 0
    stats.unpersist()
  }

  test("pii scrub redacts exactly the planted email and phone") {
    val r = TextAnalysis.piiScrub(spark, sfDir).cache()
    r.filter(col("n_email") =!= 1 || col("n_phone") =!= 1).count() shouldBe 0
    // scrubbed text ends with the placeholders, not the planted PII
    val planted = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com call +1-555-"),
      lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"))
    val expected = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        Fn.length(regexp_replace(regexp_replace(planted, TextAnalysis.EmailRe, "<EMAIL>"),
          TextAnalysis.PhoneRe, "<PHONE>")).cast("long").as("n_expect"))
    r.join(expected, "doc_id").filter(col("n_chars_scrubbed") =!= col("n_expect"))
      .count() shouldBe 0
    r.unpersist()
  }

  test("cross-corpus decontamination flags only true shingle overlaps") {
    val hits = Dedup.crossCorpus(spark, sfDir, nEval = 50).cache()
    hits.filter(col("doc_id") < 50).count() shouldBe 0
    hits.filter(col("n_hits") < 1).count() shouldBe 0
    // spot-verify: a flagged doc really shares a shingle with the eval set
    val sh = Dedup.hashedShingles(spark, sfDir)
      .select(col("doc_id"), explode(col("shh")).as("h"))
    val ev = sh.filter(col("doc_id") < 50).select("h").distinct()
    val flagged = hits.select("doc_id")
    val verified = sh.join(ev, Seq("h")).filter(col("doc_id") >= 50)
      .select("doc_id").distinct()
    flagged.exceptAll(verified).count() shouldBe 0
    verified.exceptAll(flagged).count() shouldBe 0
    hits.unpersist()
  }
}

class EmptyCorpusSpec extends AnyFunSuite with Matchers with SharedSpark {
  test("every query family degrades to empty output on an empty corpus") {
    // zero-row tables with the production schemas: aggregations over
    // empty groups, window functions over empty partitions and LSH
    // banding over nothing must all plan and return cleanly at 100 TB
    // scale, partitions WILL be empty
    val tmp = tempDir("graft-empty")
    for (t <- Seq("documents", "embeddings", "events", "customer", "orders")) {
      spark.read.parquet(s"$sfDir/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$tmp/$t.parquet")
    }
    val perFamily = Seq(
      "q_latest_by_key", "v_cosine_similarity", "knn_bruteforce",
      "ann_lsh_hyperplane", "ann_ivf", "enc_hashing_tf", "enc_tfidf",
      "dedup_exact", "dedup_minhash_lsh", "dedup_simhash_pairs",
      "dedup_cross_corpus", "text_lang_id", "text_pii_scrub",
      "sample_stratified", "pack_sequences", "pipeline_quality_filter",
      "corpus_source_stats", "latency_percentiles", "run_summary_rollup",
      "stream_windowed_agg", "stream_topk_trending", "mm_binary_meta",
      "eval_ndcg_at_k", "eval_mrr", "ann_ivf_pq", "q_semi_anti_join",
      "dedup_cluster_labels", "mm_embed_search",
      "source_roundtrip_events_csv", "source_roundtrip_docs_jsonl",
      "text_vocab_coverage", "audit_corpus_integrity", "events_salted_sum",
      "pivot_daily", "text_repetition", "events_funnel", "events_retention",
      "events_histogram", "events_anomaly", "v_centroids",
      "dedup_incremental", "eval_lang_confusion", "mm_modality_route",
      "sample_reservoir", "text_entropy", "events_salted_join",
      "stream_histogram", "pipeline_experiment_matrix",
      // r14 additions: OPQ rotation degrades to identity on an empty
      // second moment, trained codebooks to an empty codebook, the
      // drift legs to one null-stat row each, the composed persisted
      // layout to an empty scan
      "eval_ann_recall_opq", "eval_ann_recall_opq_trained",
      "ann_pq_trained", "eval_ann_recall_pq_trained",
      "index_drift_stats", "ann_ivf_pq_indexed")
    val failures = perFamily.flatMap { n =>
      try { SparkEntry.queries(n)(spark, tmp).count(); None }
      catch { case e: Throwable => Some(s"$n: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(120)}") }
    }
    withClue(failures.mkString("\n")) { failures shouldBe empty }
  }

  test("null text rows propagate as nulls, never executor exceptions") {
    import org.apache.spark.sql.Row
    val tmp = tempDir("graft-nulls")
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val rows = java.util.Arrays.asList(
      Row(1L, "a normal document with several tokens inside", "en", "s0", 44L),
      Row(2L, null, "en", "s0", 0L),
      Row(3L, "", "fr", "s1", 0L))
    spark.createDataFrame(rows, schema)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    spark.read.parquet(s"$sfDir/embeddings.parquet").limit(0)
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val subset = Seq("text_token_count", "text_lang_id", "text_normalize",
      "text_fingerprint", "text_pii_scrub", "dedup_exact",
      "dedup_simhash", "sample_stratified", "pack_sequences",
      "text_repetition", "dedup_incremental", "sample_reservoir",
      "mm_modality_route", "eval_lang_confusion", "text_entropy")
    val failures = subset.flatMap { n =>
      try { SparkEntry.queries(n)(spark, tmp).count(); None }
      catch { case e: Throwable => Some(s"$n: ${e.getClass.getSimpleName}") }
    }
    withClue(failures.mkString("\n")) { failures shouldBe empty }
  }
}

/** SQ8 scalar-quantized search ([[operators.Ann.sq8Search]]): the
  * oracle crosscheck pins engine equality; these pin the QUANTIZATION
  * contract — code range, fit shape, and the near-lossless recall SQ8
  * exists to offer (vs PQ's deeper compression). */
class Sq8Spec extends AnyFunSuite with Matchers with SharedSpark {

  test("sq8 fit is Dim ordered (lo, hi) rows; search has the family shape") {
    val ranges = operators.Ann.sq8Ranges(spark, sfDir).collect()
    ranges.length shouldBe operators.VectorCore.Dim
    ranges.foreach(r => r.getDouble(1) should be <= r.getDouble(2))
    val k = operators.Ann.sq8Search(spark, sfDir)
    k.count() should be > 0L
    // per-query result shape matches the rest of the ann family
    k.columns shouldBe Array("q_id", "rank", "doc_id", "score")
  }

  test("sq8 recall-vs-exact is near-lossless at sf0.001") {
    val rec = operators.Eval.annRecallSq8(spark, sfDir)
      .agg(avg("recall")).collect()(0).getDouble(0)
    rec should be >= 0.95
  }
}
