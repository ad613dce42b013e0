package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.operators._

/** Round-4 additions: NDCG/MRR eval, IVF+PQ composed search, source
  * round-trips, trending top-k (batch + streaming). */
class Round4Spec extends AnyFunSuite with Matchers with SharedSpark {

  private def collectSet(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("ndcg discount/idcg tables: literal, monotone, correct at rank 1") {
    Eval.discounts.head shouldBe 1.0
    Eval.discounts.sliding(2).foreach { case Seq(a, b) => a should be > b }
    Eval.idcgTable.head shouldBe 1.0
    Eval.idcgTable.sliding(2).foreach { case Seq(a, b) => a should be < b }
    Eval.idcgTable.last shouldBe Eval.discounts.sum +- 1e-12
  }

  test("eval_ndcg_at_k: one row per query, values in [0, 1]") {
    val rows = Eval.ndcgAtK(spark, sfDir).collect()
    rows.length shouldBe Knn.NQueries
    for (r <- rows; i <- 1 to 3) {
      val v = r.getDouble(i)
      v should be >= 0.0
      v should be <= 1.0
    }
  }

  test("eval_ndcg_at_k matches a driver-side recomputation from ranked hits") {
    // independently rebuild per-query (rank, rel) + n_rel, apply the
    // same literal discount tables in plain Scala, compare rounded
    val ranked = Knn.bruteForce(spark, sfDir, Eval.KMax)
      .join(Knn.querySet(spark, sfDir).select("q_id", "q_label"), "q_id")
      .join(Knn.docSet(spark, sfDir).select("doc_id", "doc_label"), "doc_id")
      .select(col("q_id"), col("rank"),
        (col("q_label") === col("doc_label")).cast("long").as("rel"))
      .collect().map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2)))
    val nRel = Knn.docSet(spark, sfDir)
      .join(Knn.querySet(spark, sfDir).select("q_id", "q_label"),
        col("doc_label") === col("q_label"))
      .groupBy("q_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def rnd4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val expected = ranked.groupBy(_._1).map { case (q, rows) =>
      val byK = Eval.Ks.map { k =>
        val dcg = rows.filter(r => r._2 <= k && r._3 == 1)
          .map(r => math.floor(Eval.discounts(r._2 - 1) * 1e9 + 0.5) / 1e9)
          .sum
        val m = math.min(nRel.getOrElse(q, 0L).toInt, k)
        if (m > 0) rnd4(dcg / Eval.idcgTable(m - 1)) else 0.0
      }
      q -> byK
    }
    val got = Eval.ndcgAtK(spark, sfDir).collect()
      .map(r => r.getLong(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    got.keySet shouldBe expected.keySet
    for ((q, exp) <- expected; i <- 0 until 3)
      got(q)(i) shouldBe exp(i) +- 1e-9
  }

  test("eval_mrr: single summary row over the query set, mrr in [0, 1]") {
    val r = Eval.mrr(spark, sfDir).collect()
    r.length shouldBe 1
    r(0).getDouble(0) should be >= 0.0
    r(0).getDouble(0) should be <= 1.0
    r(0).getLong(1) shouldBe Knn.NQueries.toLong
  }

  test("ann_ivf_pq: k rows per query, ranked, nonzero overlap with exact search") {
    val ivfpq = Ann.ivfPq(spark, sfDir)
    val perQ = ivfpq.groupBy("q_id").count().collect()
    all(perQ.map(_.getLong(1))) should be <= Knn.K.toLong
    val exact = Knn.bruteForce(spark, sfDir).select("q_id", "doc_id")
    val overlap = ivfpq.select("q_id", "doc_id")
      .join(exact, Seq("q_id", "doc_id")).count()
    overlap should be > 0L
  }

  test("ann_ivf_pq plan: in-row cells, codes, probes; topk partial agg") {
    val p = Ann.ivfPq(spark, sfDir).queryExecution.executedPlan.toString()
    // no docs × centroids product and no per-doc or per-subvector
    // argmin aggregate: the pinned fits assign inside the row
    p should not include "BroadcastNestedLoopJoin"
    p.toLowerCase should not include "min_by"
    p.toLowerCase should include("codebook_assign")
    p.toLowerCase should include("partial_topkbyscore")
    p should not include "Window"
  }

  test("source round-trips equal the same aggregate computed directly on parquet") {
    val direct = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        graft.functions.rnd(graft.functions.fxSum(col("value"), 4), 4).as("sum_value"),
        min("ts").as("min_ts"), max("ts").as("max_ts"))
      .orderBy("event_type")
    collectSet(graft.sources.Sources.roundTripEventsCsv(spark, sfDir)) shouldBe
      collectSet(direct)

    val directDocs = Tables.documents(spark, sfDir)
      .groupBy(col("lang").as("category"))
      .agg(count(lit(1)).as("n"),
        sum(org.apache.spark.sql.functions.length(col("text")).cast("long")).as("sum_chars"),
        sum(graft.functions.polyHash(col("text"))).as("content_hash_sum"))
      .orderBy("category")
    collectSet(graft.sources.Sources.roundTripDocsJsonl(spark, sfDir)) shouldBe
      collectSet(directDocs)
  }

  private val roundTrips: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)] =
    Seq("events_csv" -> graft.sources.Sources.roundTripEventsCsv,
      "docs_jsonl" -> graft.sources.Sources.roundTripDocsJsonl,
      "docs_orc" -> graft.sources.Sources.roundTripDocsOrc)

  test("round-trip frames built before any of them runs each keep their own result") {
    // every call reuses one scratch path per (JVM, input dir): a frame
    // that read those files lazily would find them overwritten by the
    // next call's write
    for ((name, q) <- roundTrips) {
      val frames = Seq.fill(3)(q(spark, sfDir))
      withClue(name) { frames.map(collectSet).distinct should have size 1 }
    }
  }

  test("racing round-trip callers share one scratch root and each read their own write") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val expected = roundTrips.map { case (_, q) => collectSet(q(spark, sfDir)) }
    val roots0 = Cleanup.registeredPaths.toSet
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val calls = (1 to 4).map(_ => Future {
        start.await()
        roundTrips.map { case (_, q) => collectSet(q(spark, sfDir)) }
      })
      start.countDown()
      calls.map(Await.result(_, 5.minutes)).foreach(_ shouldBe expected)
      Cleanup.registeredPaths.toSet shouldBe roots0
    } finally pool.shutdown()
  }

  test("q_semi_anti_join: segment totals partition the customer set") {
    val rows = Relational.semiAntiJoin(spark, sfDir).collect()
    val total = rows.map(r => r.getLong(1) + r.getLong(2)).sum
    total shouldBe Tables.customer(spark, sfDir).count()
    // every order's customer exists, so the semi side is the distinct
    // order-custkey count
    rows.map(_.getLong(1)).sum shouldBe
      Tables.orders(spark, sfDir).select("o_custkey").distinct().count()
  }

  test("q_semi_anti_join plan: one pass over customers, no row multiplication") {
    val p = Relational.semiAntiJoin(spark, sfDir).queryExecution.executedPlan.toString()
    // the distinct-custkey side aggregates before the join
    p should not include "CartesianProduct"
    p.toLowerCase should include("aggregate")
  }

  test("mm_embed_search: stub embedding matches a driver-side strided byte sum") {
    val payload = "hello world of spark".getBytes("UTF-8")
    val v = Multimodal.stubEmbed(payload, 8)
    val expected = Array.tabulate(8) { j =>
      payload.indices.filter(_ % 8 == j).map(i => (payload(i) & 0xff).toLong).sum.toFloat
    }
    v shouldBe expected
    // retrieval shape: k rows per media query, ranked
    val out = Multimodal.embedSearch(spark, sfDir).collect()
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      rs.map(_.getLong(1)).sorted shouldBe (1L to rs.length).toSeq
    }
  }

  test("connectedComponents equals a driver-side union-find on the same pairs") {
    val pairs = Dedup.minhashLsh(spark, sfDir).select("id_a", "id_b")
    val collected = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    collected should not be empty
    // driver-side union-find
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    collected.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = collected.flatMap(p => Seq(p._1, p._2)).distinct
      .map(n => n -> find(n)).toMap
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe expected
  }

  test("connectedComponents: chain graph converges to one cluster") {
    val s = spark
    import s.implicits._
    // 0-1-2-...-9 as a path: worst-case diameter for label propagation
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val lab = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    lab.values.toSet shouldBe Set(0L)
    lab.keySet shouldBe (0L to 9L).toSet
  }

  test("stream_topk_trending batch: at most 3 ranked types per window, ordered by count") {
    val rows = EventsAnalytics.trendingTopK(spark, sfDir).collect()
    rows.groupBy(_.getTimestamp(0)).foreach { case (_, ws) =>
      ws.length should be <= 3
      ws.map(_.getLong(1)).sorted shouldBe (1L to ws.length).toSeq
      // counts non-increasing with rank
      ws.sortBy(_.getLong(1)).map(_.getLong(3)).reverse shouldBe sorted
    }
  }

  test("trendingTopKStream: closed windows match the batch top-k") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    def ts(minute: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = graft.streaming.StreamOps.trendingTopKStream(events) { batch =>
      got.synchronized { got ++= batch.collect().map(_.toString) }
    }.start()
    try {
      // events in hours 0-2, then a late watermark pusher at minute 400:
      // watermark 400-120 = 280 ⇒ hourly windows ending ≤ 280 min close
      val data = (0 until 180 by 7).map(m =>
        (ts(m), Seq("a", "b", "c", "d")(m % 4), 1.0)) :+ ((ts(400), "z", 1.0))
      input.addData(data: _*)
      q.processAllAvailable()
      input.addData((ts(401), "z", 1.0)) // flush: emit windows closed by 400
      q.processAllAvailable()
      val batchAll = data.toDF("ts", "event_type", "value")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("w")
            .orderBy(col("n").desc, col("event_type"))).cast("long"))
        .filter(col("rank") <= 3 &&
          col("w.start") < lit(ts(280))) // only closed windows
        .select(col("w.start").as("window_start"), col("rank"),
          col("event_type"), col("n"))
      got.toSet shouldBe batchAll.collect().map(_.toString).toSet
    } finally q.stop()
  }

  test("text_repetition matches a driver-side recomputation") {
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def rnd4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val expected = texts.map { case (id, text) =>
      val toks = text.split(" ").filter(_.nonEmpty)
      val n = toks.length.toLong
      val (topTok, modeCnt) =
        if (n == 0) ("", 0L)
        else {
          val counts = toks.groupBy(identity).view.mapValues(_.length.toLong)
          val mx = counts.values.max
          (counts.filter(_._2 == mx).keys.min, mx)
        }
      val maxRun =
        if (n == 0) 0L
        else toks.foldLeft(("", 0L, 0L)) { case ((prev, run, mx), t) =>
          val r2 = if (t == prev) run + 1 else 1L
          (t, r2, math.max(mx, r2))
        }._3
      val bg = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val dup = if (bg.isEmpty) 0.0
        else rnd4((bg.size - bg.distinct.size).toDouble / bg.size)
      (id, n, topTok, if (n > 0) rnd4(modeCnt.toDouble / n) else 0.0, maxRun, dup)
    }.toSet
    val got = TextAnalysis.repetitionStats(spark, sfDir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5))).toSet
    got shouldBe expected
  }

  test("funnelStream: out-of-order arrival converges to the batch funnel semantics") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    def ts(minute: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")
    def ev(id: Long, m: Int, u: Long, t: String) =
      graft.streaming.StreamOps.Ev(id, ts(m), u, t, 1.0)
    val input = MemoryStream[graft.streaming.StreamOps.Ev]
    val q = graft.streaming.StreamOps.funnelStream(input.toDS())
      .writeStream.format("memory").queryName("funnel")
      .outputMode("update").start()
    try {
      // user 1 completes the funnel but arrives OUT of order;
      // user 2's click precedes their first view -> must stay stage 1
      input.addData(
        ev(1, 20, 1, "click"), ev(2, 30, 1, "purchase"), ev(3, 10, 1, "view"),
        ev(4, 5, 2, "click"), ev(5, 15, 2, "view"))
      q.processAllAvailable()
      input.addData(ev(6, 400, 99, "view")) // watermark pusher
      q.processAllAvailable()
      input.addData(ev(7, 401, 99, "view")) // fire remaining timeouts
      q.processAllAvailable()
      val rows = spark.table("funnel")
        .as[graft.streaming.StreamOps.FunnelOut].collect()
      val u1 = rows.filter(_.user_id == 1L).maxBy(_.stage)
      (u1.stage, u1.t1_us, u1.t2_us, u1.t3_us) shouldBe
        (3L, ts(10).getTime * 1000, ts(20).getTime * 1000, ts(30).getTime * 1000)
      val u2 = rows.filter(_.user_id == 2L).maxBy(_.stage)
      (u2.stage, u2.t1_us, u2.t2_us) shouldBe (1L, ts(15).getTime * 1000, -1L)
    } finally q.stop()
  }

  test("movingAvgStream: out-of-order arrival converges to the batch moving average") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    def ts(minute: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")
    def ev(id: Long, m: Int, u: Long, v: Double) =
      graft.streaming.StreamOps.Ev(id, ts(m), u, "view", v)
    val input = MemoryStream[graft.streaming.StreamOps.Ev]
    val q = graft.streaming.StreamOps.movingAvgStream(input.toDS())
      .writeStream.format("memory").queryName("movavg")
      .outputMode("append").start()
    try {
      // user 1's three events arrive OUT of event-time order; the
      // drained averages must still be the event-time trailing-3 ones
      input.addData(ev(2, 20, 1, 2.0), ev(3, 30, 1, 4.0), ev(1, 10, 1, 1.0))
      q.processAllAvailable()
      input.addData(ev(6, 400, 99, 1.0)) // watermark pusher
      q.processAllAvailable()
      input.addData(ev(7, 401, 99, 1.0))
      q.processAllAvailable()
      val got = spark.table("movavg")
        .as[graft.streaming.StreamOps.MovAvgOut].collect()
        .filter(_.user_id == 1L).sortBy(_.event_id).map(_.mov_avg).toSeq
      def rnd4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
      got shouldBe Seq(1.0, 1.5, rnd4(7.0 / 3))
    } finally q.stop()
  }

  test("movingAvgStream: the tail survives a drain-timeout (gap > horizon, < idle TTL)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    def ts(minute: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")
    def ev(id: Long, m: Int, u: Long, v: Double) =
      graft.streaming.StreamOps.Ev(id, ts(m), u, "view", v)
    val input = MemoryStream[graft.streaming.StreamOps.Ev]
    val q = graft.streaming.StreamOps.movingAvgStream(input.toDS())
      .writeStream.format("memory").queryName("movavg_gap")
      .outputMode("append").start()
    try {
      input.addData(ev(1, 10, 1, 1.0))
      q.processAllAvailable()
      // push the watermark far past event 1: its drain-timeout fires
      // with an emptied buffer — the tail must NOT be dropped
      input.addData(ev(90, 60, 99, 1.0))
      q.processAllAvailable()
      input.addData(ev(91, 61, 99, 1.0))
      q.processAllAvailable()
      // an hour after event 1 (gap > 10-minute horizon, << 24 h TTL;
      // event time above the current watermark, so not late data)
      input.addData(ev(2, 70, 1, 3.0))
      q.processAllAvailable()
      input.addData(ev(92, 120, 99, 1.0))
      q.processAllAvailable()
      input.addData(ev(93, 121, 99, 1.0))
      q.processAllAvailable()
      val got = spark.table("movavg_gap")
        .as[graft.streaming.StreamOps.MovAvgOut].collect()
        .filter(_.user_id == 1L).sortBy(_.event_id).map(_.mov_avg).toSeq
      // event 2 averages (1.0, 3.0) = 2.0; a dropped tail would read 3.0
      got shouldBe Seq(1.0, 2.0)
    } finally q.stop()
  }

  test("dauStream: closed days report the batch DAU") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    def ev(id: Long, ts: String, u: Long) =
      graft.streaming.StreamOps.Ev(id, Timestamp.valueOf(ts), u, "view", 1.0)
    val input = MemoryStream[graft.streaming.StreamOps.Ev]
    val q = graft.streaming.StreamOps.dauStream(input.toDS().toDF())
      .writeStream.format("memory").queryName("dau")
      .outputMode("append").start()
    try {
      // day 1: user 1 twice + user 2; day 2: users 1 and 3
      input.addData(
        ev(1, "2024-01-01 01:00:00", 1), ev(2, "2024-01-01 09:30:00", 1),
        ev(3, "2024-01-01 15:00:00", 2),
        ev(4, "2024-01-02 08:00:00", 1), ev(5, "2024-01-02 19:00:00", 3))
      q.processAllAvailable()
      // watermark pushers: close both days (horizon 25 h)
      input.addData(ev(90, "2024-01-05 00:00:00", 99))
      q.processAllAvailable()
      input.addData(ev(91, "2024-01-05 00:01:00", 99))
      q.processAllAvailable()
      val got = spark.table("dau").collect()
        .map(r => (r.getDate(0).toString, r.getLong(1))).toMap
      got("2024-01-01") shouldBe 2L
      got("2024-01-02") shouldBe 2L
    } finally q.stop()
  }

  test("funnelStream: stage progress survives a drain-timeout (gap > horizon, < idle TTL)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    def ts(minute: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")
    def ev(id: Long, m: Int, u: Long, t: String) =
      graft.streaming.StreamOps.Ev(id, ts(m), u, t, 1.0)
    val input = MemoryStream[graft.streaming.StreamOps.Ev]
    val q = graft.streaming.StreamOps.funnelStream(input.toDS())
      .writeStream.format("memory").queryName("funnel_gap")
      .outputMode("update").start()
    try {
      input.addData(ev(1, 10, 1, "view"))
      q.processAllAvailable()
      // drain the view via watermark pushers (its drain-timeout fires
      // with an emptied buffer; t1 must survive)
      input.addData(ev(90, 60, 99, "view"))
      q.processAllAvailable()
      input.addData(ev(91, 61, 99, "view"))
      q.processAllAvailable()
      // the click comes an hour after the view — far past the
      // 10-minute horizon but well inside the 24 h idle TTL
      input.addData(ev(2, 70, 1, "click"))
      q.processAllAvailable()
      input.addData(ev(92, 180, 99, "view"))
      q.processAllAvailable()
      input.addData(ev(93, 181, 99, "view"))
      q.processAllAvailable()
      val u1 = spark.table("funnel_gap")
        .as[graft.streaming.StreamOps.FunnelOut].collect()
        .filter(_.user_id == 1L).maxBy(_.stage)
      // a state row dropped at the drain-timeout would leave t1=-1 and
      // never count the click
      u1.stage shouldBe 2L
      u1.t1_us shouldBe ts(10).getTime * 1000
      u1.t2_us shouldBe ts(70).getTime * 1000
    } finally q.stop()
  }

  test("funnelStream: sub-millisecond stage gaps fold at microsecond precision") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    def tsUs(base: String, us: Int): Timestamp = {
      val t = Timestamp.valueOf(base)
      t.setNanos(us * 1000); t
    }
    // view at .000100, click at .000900 — same millisecond; a ms-level
    // fold reads click.ts > view.ts as false and never converts
    val input = MemoryStream[graft.streaming.StreamOps.Ev]
    val q = graft.streaming.StreamOps.funnelStream(input.toDS())
      .writeStream.format("memory").queryName("funnel_us")
      .outputMode("update").start()
    try {
      input.addData(
        graft.streaming.StreamOps.Ev(1, tsUs("2024-01-01 00:10:00", 100), 1, "view", 1.0),
        graft.streaming.StreamOps.Ev(2, tsUs("2024-01-01 00:10:00", 900), 1, "click", 1.0))
      q.processAllAvailable()
      input.addData(graft.streaming.StreamOps.Ev(3,
        Timestamp.valueOf("2024-01-01 06:00:00"), 99, "view", 1.0))
      q.processAllAvailable()
      input.addData(graft.streaming.StreamOps.Ev(4,
        Timestamp.valueOf("2024-01-01 06:00:01"), 99, "view", 1.0))
      q.processAllAvailable()
      val u1 = spark.table("funnel_us")
        .as[graft.streaming.StreamOps.FunnelOut].collect()
        .filter(_.user_id == 1L).maxBy(_.stage)
      u1.stage shouldBe 2L
      (u1.t2_us - u1.t1_us) shouldBe 800L
    } finally q.stop()
  }

  test("mm_modality_route matches a driver-side recomputation") {
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def rnd4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val headers = Multimodal.ModalityHeaders
    val expected = texts.map { case (id, text) =>
      val (_, modality) = headers((id % 3).toInt)
      val body = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val s = body.map(_ & 0xff).map(_.toLong).sum
      val feat = modality match {
        case "image" => (s % 997).toDouble / 997.0
        case "audio" => (s % 101).toDouble / 101.0
        case _ => ((body.length + 63) / 64).toDouble
      }
      (id, modality, body.length.toLong, s, rnd4(feat))
    }.toSet
    val got = Multimodal.modalityRoute(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    got shouldBe expected
  }

  test("events_funnel matches a driver-side recomputation") {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def stage(kind: String, prev: Map[Long, Long]): Map[Long, Long] =
      ev.filter(_._2 == kind)
        .flatMap { case (u, _, t) => prev.get(u).filter(t > _).map(_ => (u, t)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val t1 = ev.filter(_._2 == "view").groupBy(_._1).view.mapValues(_.map(_._3).min).toMap
    val t2 = stage("click", t1)
    val t3 = stage("purchase", t2)
    def rnd2(x: Double) = math.floor(x * 1e2 + 0.5) / 1e2
    val d12 = t2.map { case (u, t) => t - t1(u) }
    val d23 = t3.map { case (u, t) => t - t2(u) }
    val row = EventsAnalytics.funnel(spark, sfDir).collect()(0)
    row.getLong(row.fieldIndex("n_view")) shouldBe t1.size
    row.getLong(row.fieldIndex("n_click")) shouldBe t2.size
    row.getLong(row.fieldIndex("n_purchase")) shouldBe t3.size
    row.getDouble(row.fieldIndex("avg_view_to_click_s")) shouldBe
      rnd2(d12.sum.toDouble / d12.size / 1e6)
    row.getDouble(row.fieldIndex("avg_click_to_purchase_s")) shouldBe
      rnd2(d23.sum.toDouble / d23.size / 1e6)
  }

  test("events_retention matches a driver-side recomputation") {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val cohort = ev.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val expected = ev.distinct
      .map { case (u, d) =>
        (cohort(u), java.time.temporal.ChronoUnit.DAYS.between(cohort(u), d)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = EventsAnalytics.retention(spark, sfDir).collect().map(r =>
      (r.getDate(0).toLocalDate, r.getLong(1)) -> r.getLong(2)).toMap
    got shouldBe expected
    // offset 0 of every cohort contains at least the users born that day
    got.keys.count(_._2 == 0L) shouldBe cohort.values.toSet.size
  }

  test("events_histogram: counts reconcile and shares sum to ~1 per type") {
    val rows = EventsAnalytics.histogram(spark, sfDir).collect()
    rows.map(_.getLong(3)).sum shouldBe Tables.events(spark, sfDir).count()
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      rs.map(_.getDouble(4)).sum shouldBe 1.0 +- 0.01
    }
    all(rows.map(_.getLong(1))) should (be >= 0L and be < EventsAnalytics.HistNumBins.toLong)
  }

  test("v_centroids: labels x dims rows; one centroid equals the driver-side mean") {
    val rows = VectorCore.centroids(spark, sfDir).collect()
    val labels = Tables.embeddings(spark, sfDir).select("label").distinct().count()
    rows.length shouldBe labels * VectorCore.Dim
    val vecs0 = Tables.embeddings(spark, sfDir)
      .filter(col("label") === 0).select("embedding")
      .collect().map(_.getSeq[Float](0))
    val fx = vecs0.map(v => math.floor(v(0).toDouble * 1e6 + 0.5).toLong).sum
    val exp = math.floor((fx.toDouble / vecs0.length / 1e6) * 1e6 + 0.5) / 1e6
    val got = rows.find(r => r.getInt(0) == 0 && r.getLong(1) == 0L).get.getDouble(3)
    got shouldBe exp
  }

  test("dedup_incremental matches a driver-side recomputation") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (inc, existing) = docs.partition(_._1 % 10 == 0)
    val corpusTexts = existing.map(_._2).toSet
    val survivor = inc.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    val expected = inc.map { case (id, text) =>
      val status =
        if (corpusTexts.contains(text)) "corpus_dup"
        else if (id != survivor(text)) "batch_dup"
        else "new"
      (id, status, survivor(text))
    }.toSet
    val got = Dedup.incremental(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    got shouldBe expected
  }

  test("eval_lang_confusion: counts cover every document exactly once") {
    val rows = TextAnalysis.langConfusion(spark, sfDir).collect()
    rows.map(_.getLong(2)).sum shouldBe Tables.documents(spark, sfDir).count()
    // row-wise totals equal per-language document counts
    val byLang = rows.groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2)).sum)
    val docCounts = Tables.documents(spark, sfDir).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    byLang.toMap shouldBe docCounts
  }

  test("pipeline_experiment_matrix: one row per (model, search_mode), hashing/vector leg equals the summary") {
    val m = Experiment.matrix(spark, sfDir).collect()
    m.map(r => (r.getString(0), r.getString(1))).toSeq.sorted shouldBe Seq(
      ("hashing_tf", "hybrid"), ("hashing_tf", "vector"),
      ("tfidf", "hybrid"), ("tfidf", "vector"))
    val s = Experiment.summary(spark, sfDir).collect()(0)
    val hv = m.find(r => r.getString(0) == "hashing_tf" && r.getString(1) == "vector").get
    (hv.toSeq.take(1) ++ hv.toSeq.drop(2)) shouldBe s.toSeq
    // every (model, mode) leg retrieves for every query and scores in [0, 1]
    m.foreach { r =>
      r.getLong(4) shouldBe Experiment.NQ.toLong
      for (i <- 5 to 7) { r.getDouble(i) should (be >= 0.0 and be <= 1.0) }
    }
  }

  test("text_entropy matches a driver-side recomputation through the literal table") {
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def rnd4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val tbl = TextAnalysis.log2Table
    val expected = texts.map { case (id, text) =>
      val toks = text.split(" ").filter(_.nonEmpty)
      val n = toks.length.toLong
      val cnts = toks.groupBy(identity).values.map(_.length.toLong).toSeq
      val h = if (n == 0) 0.0 else {
        val sfx = cnts.map(c => math.floor(
          c.toDouble * tbl(math.min(c, TextAnalysis.EntropyCap.toLong).toInt - 1) * 1e6 + 0.5).toLong).sum
        rnd4(tbl(math.min(n, TextAnalysis.EntropyCap.toLong).toInt - 1) - (sfx / 1e6) / n)
      }
      (id, n, cnts.size.toLong, h)
    }.toSet
    val got = TextAnalysis.entropy(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    got shouldBe expected
    // entropy is maximal for all-distinct docs: H == log2(n) there
    got.filter(r => r._2 == r._3 && r._2 > 0)
      .foreach(r => r._4 shouldBe rnd4(tbl(math.min(r._2, 256L).toInt - 1)))
  }

  test("sample_reservoir matches a driver-side priority sample") {
    def pHash(s: String, base: Long = 131L): Long =
      s.foldLeft(0L)((h, c) => (h * base + c.toLong) % graft.functions.HashP)
    val docs = Tables.documents(spark, sfDir).select("lang", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val expected = docs.groupBy(_._1).toSeq.flatMap { case (lang, rows) =>
      rows.toSeq.map(r => (pHash(s"rsv${r._2}"), r._2)).sorted.take(20)
        .zipWithIndex.map { case ((_, id), i) => (lang, id, (i + 1).toLong) }
    }.toSet
    val got = Shaping.reservoirSample(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    got shouldBe expected
  }

  test("events_anomaly matches a driver-side z-score recomputation") {
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "event_type", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    def fx6(xs: Seq[Double]) = xs.map(x => math.floor(x * 1e6 + 0.5).toLong).sum / 1e6
    val stats = ev.groupBy(_._2).map { case (t, rows) =>
      val vs = rows.map(_._3).toSeq
      val mean = fx6(vs) / vs.size
      t -> (mean, math.sqrt(fx6(vs.map(v => v * v)) / vs.size - mean * mean))
    }
    def rnd4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val expected = ev.flatMap { case (id, t, v) =>
      val (mean, std) = stats(t)
      if (std > 0 && math.abs(v - mean) > 3.0 * std)
        Some((id, t, rnd4(v), rnd4((v - mean) / std))) else None
    }.toSet
    expected should not be empty
    val got = EventsAnalytics.anomalies(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3))).toSet
    got shouldBe expected
  }

  test("pivot_daily: wide counts reconcile with the raw events table") {
    val wide = Relational.pivotDaily(spark, sfDir)
    wide.columns.toSeq shouldBe
      ("day" +: Relational.pivotTypes.flatMap(t => Seq(s"${t}_cnt", s"${t}_val")))
    val cntCols = Relational.pivotTypes.map(t => col(s"${t}_cnt"))
    val pivotTotal = wide.select(cntCols.reduce(_ + _).as("n"))
      .agg(sum("n")).collect()(0).getLong(0)
    val raw = Tables.events(spark, sfDir)
    // every event type in the data is covered by the fixed pivot list
    raw.select("event_type").distinct().collect().map(_.getString(0)).toSet
      .subsetOf(Relational.pivotTypes.toSet) shouldBe true
    pivotTotal shouldBe raw.count()
    // spot-check one (day, type) cell against a direct filtered aggregate
    val day0 = wide.select("day").orderBy("day").first().getDate(0)
    val cell = wide.filter(col("day") === lit(day0))
      .select("click_cnt").first().getLong(0)
    raw.filter(to_date(col("ts")) === lit(day0) &&
      col("event_type") === "click").count() shouldBe cell
  }

  test("no oracle SQL carries an interpolated Scala null (object-init cycle guard)") {
    // A val-initialization cycle between SqlOracle objects interpolates
    // the not-yet-assigned member as the lowercase string "null"
    // (legitimate SQL in this repo always writes NULL uppercase) — it
    // parses, silently changes semantics, and only fails at crosscheck.
    for ((name, sql) <- SparkEntry.oracleSql)
      withClue(s"$name: ") { "\\bnull\\b".r.findFirstIn(sql) shouldBe None }
  }

  test("events_moving_avg matches a driver-side recomputation") {
    def rnd4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val evs = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val expected = evs.groupBy(_._2).values.flatMap { rows =>
      val sorted = rows.sortBy(r => (r._3, r._1))
      sorted.zipWithIndex.map { case ((id, _, _, _), i) =>
        val win = sorted.slice(math.max(0, i - 2), i + 1)
          .map(r => math.floor(r._4 * 1e6 + 0.5).toLong)
        id -> rnd4(win.sum.toDouble / win.length / 1e6)
      }
    }.toMap
    val got = EventsAnalytics.movingAvg(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    got shouldBe expected
  }

  test("events_session_stats: session-length histogram reconciles with the raw log") {
    val stats = EventsAnalytics.sessionStats(spark, sfDir).collect()
    stats.map(_.getLong(0)).min should be >= 1L
    // every event belongs to exactly one session
    val total = stats.map(r => r.getLong(0) * r.getLong(1)).sum
    total shouldBe Tables.events(spark, sfDir).count()
    for (r <- stats) r.getDouble(2) should be <= r.getLong(3).toDouble
  }

  test("corpus_mixture_weights: weighted shares rebalance to uniform") {
    val rows = Shaping.mixtureWeights(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    rows.map(_._2).sum shouldBe Tables.documents(spark, sfDir).count()
    rows.map(_._3).sum shouldBe 1.0 +- 0.01
    // applying each source's weight to its share yields the uniform target
    for ((_, _, share, weight) <- rows)
      (share * weight) shouldBe (1.0 / rows.length) +- 0.001
  }

  test("shard_assignment: every doc lands in exactly one balanced shard") {
    val rows = Shaping.shardAssignment(spark, sfDir).collect()
    rows.map(_.getLong(0)).toSet.subsetOf((0L until 16L).toSet) shouldBe true
    val nDocs = Tables.documents(spark, sfDir).count()
    rows.map(_.getLong(1)).sum shouldBe nDocs
    // deterministic hash sharding should be roughly balanced: no shard
    // holds more than 3x its fair share at this sf
    rows.map(_.getLong(1)).max.toDouble should be < 3.0 * nDocs / 16
  }

  test("sample_importance: keeps exactly the docs whose hash clears their quality quota") {
    def polyHash(s: String): Long =
      s.foldLeft(0L)((h, c) => (h * 31 + c.toLong) % 1000000007L)
    val all = Shaping.withQualityColumns(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"), col("text")))
      .filter(col("n_toks") > 0)
      .select(col("doc_id"), col("quality")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val kept = Shaping.importanceSample(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    kept should not be empty
    kept.length.toLong should be < all.size.toLong
    for ((id, q) <- kept) all(id) shouldBe q
    // the exact advertised contract: doc kept <=> its deterministic
    // hash-in-[0,1000) falls under floor(quality*1000). (A mean-quality
    // comparison is NOT asserted: the expected uplift is Var(q)/E(q),
    // which at this sf is inside sampling noise.)
    val expected = all.collect {
      case (id, q) if polyHash(s"imp$id") % 1000 < math.floor(q * 1000) => id
    }.toSet
    kept.map(_._1).toSet shouldBe expected
  }

  test("text_keyword_extract: ranked keywords are the doc's own top-weighted vocab terms") {
    val rows = Encoders.keywordExtract(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    rows should not be empty
    val byDoc = rows.groupBy(_._1)
    for ((_, rs) <- byDoc) {
      val sorted = rs.sortBy(_._2)
      sorted.map(_._2) shouldBe (1L to sorted.length)
      // scores non-increasing down the ranks
      sorted.map(_._4).sliding(2).foreach {
        case Array(a, b) => a should be >= b
        case _ =>
      }
      sorted.length should be <= Encoders.KeywordsPerDoc
    }
    // keywords actually occur in their documents
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).toSet).toMap
    for ((doc, _, term, _) <- rows.take(200)) texts(doc) should contain(term)
  }

  test("eval_ann_recall_sweep: recall is monotone in nprobe and tops out at the single-config value") {
    def rnd4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val rows = Eval.annRecallIvfSweep(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    rows.map(_._1).toSeq shouldBe Eval.SweepProbes.map(_.toLong)
    // probing more lists can only add candidates
    rows.map(_._2).sliding(2).foreach {
      case Array(a, b) => b should be >= a
      case _ =>
    }
    // the nprobe=4 row must equal the mean of the single-config recall
    // query (addressed by value — r13 widened the grid past 4, so it
    // is no longer the last row)
    val single = Eval.annRecallIvf(spark, sfDir).collect().map(_.getDouble(1))
    val fxMean = single.map(x => math.floor(x * 1e6 + 0.5).toLong).sum / single.length / 1e6
    rows.find(_._1 == operators.Ann.NProbe.toLong).get._2 shouldBe rnd4(fxMean)
  }

  test("q_top_supplier matches a driver-side argmax recomputation") {
    val li = Tables.lineitem(spark, sfDir)
      .select("l_suppkey", "l_extendedprice", "l_discount").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val rev = li.groupBy(_._1).map { case (sk, rs) =>
      sk -> rs.map(r => math.floor(r._2 * (1.0 - r._3) * 1e2 + 0.5).toLong).sum / 1e2
    }
    val mx = rev.values.max
    val names = Tables.supplier(spark, sfDir).select("s_suppkey", "s_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = rev.filter(_._2 == mx).toSeq.sortBy(_._1)
      .map { case (sk, t) => (sk, names(sk), math.floor(t * 1e2 + 0.5) / 1e2) }
    val got = Relational.topSupplier(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    got shouldBe expected
  }

  test("v_quantize_int8: one row per dim, reconstruction error within half a grid step") {
    val rows = VectorCore.quantizeInt8(spark, sfDir).collect()
    rows.length shouldBe VectorCore.Dim
    rows.map(_.getLong(0)).toSeq.sorted shouldBe (1L to VectorCore.Dim)
    for (r <- rows) {
      val (lo, hi, err) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      hi should be >= lo
      err should be >= 0.0
      // mean |v - recon| can never exceed half the 256-level grid step
      err should be <= (hi - lo) / 255.0 / 2.0 + 1e-6
    }
  }

  test("text_bigram_lm matches a driver-side recomputation") {
    def rnd4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").filter(_.nonEmpty).toSeq))
    val uni = texts.flatMap(_._2).groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val vocab = uni.size.toLong
    val allGrams = texts.flatMap { case (_, ts) =>
      ts.sliding(2).filter(_.length == 2).map(p => (p.head, p.mkString(" "))).toSeq
    }
    val c2 = allGrams.groupBy(_._2).map { case (g, gs) => g -> gs.size.toLong }
    val expected = texts.filter(_._2.length >= 2).map { case (id, ts) =>
      val qlps = ts.sliding(2).filter(_.length == 2).map { p =>
        val prob = (c2(p.mkString(" ")) + 1) / (uni(p.head) + vocab).toDouble
        math.floor(math.log(prob) * 1e6 + 0.5).toLong
      }.toSeq
      (id, qlps.length.toLong, rnd4(qlps.sum.toDouble / qlps.length / 1e6))
    }.toSet
    val got = TextAnalysis.bigramLmScore(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    got shouldBe expected
  }

  test("events_active_users matches a driver-side recomputation") {
    def rnd4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val ud = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day")).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate)).distinct
    val dau = ud.groupBy(_._2).map { case (d, rs) => d -> rs.map(_._1).distinct.size.toLong }
    val wau = ud.flatMap { case (u, d) => (0 to 6).map(i => (u, d.plusDays(i))) }
      .groupBy(_._2).map { case (d, rs) => d -> rs.map(_._1).distinct.size.toLong }
    val expected = dau.toSeq.sortBy(_._1.toString).map { case (d, n) =>
      (d, n, wau(d), rnd4(n.toDouble / wau(d)))
    }
    val got = EventsAnalytics.activeUsers(spark, sfDir).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    got shouldBe expected
  }

  test("events_top_users matches a driver-side recomputation") {
    def rnd4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val totals = Tables.events(spark, sfDir).select("user_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .groupBy(_._1)
      .map { case (u, rs) =>
        u -> rs.map(r => math.floor(r._2 * 1e6 + 0.5).toLong).sum / 1e6
      }
    val expected = totals.toSeq.sortBy { case (u, t) => (-t, u) }
      .take(EventsAnalytics.TopUsersK)
      .zipWithIndex
      .map { case ((u, t), i) => (i + 1L, u, rnd4(t)) }
    val got = EventsAnalytics.topUsers(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    got shouldBe expected
  }

  test("q_small_qty_revenue matches a driver-side correlated recomputation") {
    val li = Tables.lineitem(spark, sfDir)
      .select("l_partkey", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val avgQ = li.groupBy(_._1).map { case (pk, rs) =>
      pk -> rs.map(r => math.floor(r._2 * 1e6 + 0.5).toLong).sum.toDouble / rs.length / 1e6
    }
    val brand = Tables.part(spark, sfDir).select("p_partkey", "p_brand").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = li.filter { case (pk, q, _) => q < 0.5 * avgQ(pk) }
      .groupBy(r => brand(r._1))
      .map { case (b, rs) =>
        val s = rs.map(r => math.floor(r._3 * 1e2 + 0.5).toLong).sum / 1e2
        (b, rs.length.toLong, math.floor(s / 7.0 * 1e2 + 0.5) / 1e2)
      }.toSet
    val got = Relational.smallQtyRevenue(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    got shouldBe expected
  }
}
