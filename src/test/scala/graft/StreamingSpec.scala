package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.operators.EventsAnalytics
import graft.streaming.StreamOps

/** Real Structured Streaming execution: the streaming forms must agree
  * with their batch-equivalent (oracle-verified) forms once all data is
  * ingested and windows close. */
class StreamingSpec extends AnyFunSuite with Matchers with SharedSpark {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("windowedAggStream over MemoryStream equals batch groupBy") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = StreamOps.windowedAggStream(events)
      .writeStream.format("memory").queryName("wagg")
      .outputMode("complete").start()
    try {
      val data = (0 until 180 by 7).map(m => (ts(m), if (m % 2 == 0) "a" else "b", m / 10.0))
      input.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("wagg")
      val batch = data.toDF("ts", "event_type", "value")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), graft.functions.rnd(sum("value"), 4).as("sum_value"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
      streamed.exceptAll(batch).count() shouldBe 0
      batch.exceptAll(streamed).count() shouldBe 0
    } finally q.stop()
  }

  test("histogramStream: closed windows equal the batch binned counts") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = StreamOps.histogramStream(events)
      .writeStream.format("memory").queryName("hstream")
      .outputMode("append").start()
    try {
      val data = (0 until 180 by 7).map(m =>
        (ts(m), if (m % 2 == 0) "a" else "b", (m * 7 % 500).toDouble))
      input.addData(data: _*)
      q.processAllAvailable()
      // push the watermark far enough to close the hours 0-2 windows
      input.addData((ts(400), "z", 1.0))
      q.processAllAvailable()
      input.addData((ts(401), "z", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("hstream")
        .filter(col("window_start") < lit(ts(280)))
      val bin = graft.operators.EventsAnalytics.binCol(col("value"))
      val batch = data.toDF("ts", "event_type", "value")
        .select(col("ts"), col("event_type"), bin.as("bin"))
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"), col("bin"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("bin"), col("cnt"))
        .filter(col("window_start") < lit(ts(280)))
      streamed.exceptAll(batch).count() shouldBe 0
      batch.exceptAll(streamed).count() shouldBe 0
    } finally q.stop()
  }

  test("anomalyStream flags exactly the batch anomalies against the trained baseline") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // offline-trained baseline from the real corpus
    val stats = graft.operators.EventsAnalytics.typeStats(spark, sfDir)
    stats.cache().count()
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = StreamOps.anomalyStream(events, stats)
      .writeStream.format("memory").queryName("astream")
      .outputMode("append").start()
    try {
      val data = Seq(
        (1L, ts(10), "click", 50.0),     // typical -> not flagged
        (2L, ts(20), "click", 99999.0),  // extreme -> flagged
        (3L, ts(30), "view", -5000.0),   // extreme negative -> flagged
        (4L, ts(40), "nosuchtype", 1.0)) // no baseline -> dropped by join
      input.addData(data: _*)
      q.processAllAvailable()
      val flagged = spark.table("astream").collect()
      flagged.map(_.getLong(0)).toSet shouldBe Set(2L, 3L)
      // identical decision to the batch operator's filter on the same rows
      val batchFlag = data.toDF("event_id", "ts", "event_type", "value")
        .join(stats, "event_type")
        .filter(col("std") > 0 &&
          abs(col("value") - col("mean")) > lit(3.0) * col("std"))
        .select("event_id").collect().map(_.getLong(0)).toSet
      batchFlag shouldBe Set(2L, 3L)
    } finally q.stop()
  }

  test("sessionizeStream emits closed sessions matching gap semantics") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[StreamOps.Ev]
    val q = StreamOps.sessionizeStream(input.toDS(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      // user 1: two sessions separated by > 30 min; second stays open
      input.addData(
        StreamOps.Ev(1, ts(0), 1, "a", 1.0),
        StreamOps.Ev(2, ts(10), 1, "a", 1.0),
        StreamOps.Ev(3, ts(60), 1, "a", 1.0))
      q.processAllAvailable()
      val closed = spark.table("sess").as[StreamOps.SessionOut].collect()
      closed.length shouldBe 1
      closed.head.n_events shouldBe 2
      closed.head.session_start shouldBe ts(0)
    } finally q.stop()
  }

  test("file-source stream -> windowed agg -> parquet sink equals batch answer") {
    val tmp = new java.io.File(tempDir("graft-stream"))
    val src = new java.io.File(tmp, "src"); src.mkdirs()
    val sink = new java.io.File(tmp, "sink")
    val ckpt = new java.io.File(tmp, "ckpt")
    // stage the real events parquet as the stream source
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(src.getAbsolutePath, "events.parquet"))
    val q = StreamOps.windowedAggStream(
        StreamOps.eventsReadStream(spark, src.getAbsolutePath))
      .writeStream.format("parquet")
      .option("path", sink.getAbsolutePath)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // append-mode emits only watermark-closed windows; every emitted row
    // must match the batch computation exactly
    val streamed = spark.read.parquet(sink.getAbsolutePath)
    val batch = EventsAnalytics.windowedAgg(spark, sfDir)
    streamed.count() should be > 0L
    streamed.exceptAll(batch).count() shouldBe 0
  }

  test("checkpointed sink: restart resumes exactly-once, no duplicated windows") {
    val tmp = new java.io.File(tempDir("graft-ckpt"))
    val src = new java.io.File(tmp, "src"); src.mkdirs()
    val sink = new java.io.File(tmp, "sink")
    val ckpt = new java.io.File(tmp, "ckpt")
    // split the events log at the median timestamp: phase 2 data is
    // strictly later, so nothing lands behind the phase-1 watermark
    // (loader-normalized so the split works on any ts encoding)
    val raw = Tables.events(spark, sfDir)
    val (lo, hi) = raw.agg(min("ts"), max("ts")).collect()(0) match {
      case r => (r.getTimestamp(0), r.getTimestamp(1))
    }
    val mid = new java.sql.Timestamp(lo.getTime + (hi.getTime - lo.getTime) / 2)
    def stage(cond: org.apache.spark.sql.Column, name: String): Unit = {
      val d = new java.io.File(tmp, s"stage-$name")
      raw.filter(cond).coalesce(1).write.parquet(d.getAbsolutePath)
      val part = d.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(src.getAbsolutePath, s"$name.parquet"))
    }
    def runOnce(): Unit = {
      val q = StreamOps.windowedAggToParquet(
        StreamOps.eventsReadStream(spark, src.getAbsolutePath),
        sink.getAbsolutePath, ckpt.getAbsolutePath)
      q.awaitTermination(120000)
    }
    stage(col("ts") <= mid, "phase1")
    runOnce() // "crash" after phase 1 commits
    val c1 = spark.read.parquet(sink.getAbsolutePath).count()
    stage(col("ts") > mid, "phase2")
    runOnce() // restart from the same checkpoint
    val streamed = spark.read.parquet(sink.getAbsolutePath)
    val batch = EventsAnalytics.windowedAgg(spark, sfDir)
    // every emitted row matches the batch answer (batch has each window
    // once, so a replayed/duplicated window would fail exceptAll)
    streamed.exceptAll(batch).count() shouldBe 0
    streamed.groupBy("window_start", "event_type").count()
      .filter(col("count") > 1).count() shouldBe 0
    streamed.count() should be >= c1
    streamed.count() should be > 0L
  }

  test("dedupStream drops re-seen content within the watermark horizon") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val q = StreamOps.dedupStream(input.toDF().toDF("ts", "text"))
      .writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      input.addData(
        (ts(0), "alpha beta"), (ts(1), "gamma delta"),
        (ts(2), "alpha beta"), (ts(3), "alpha beta"), (ts(4), "epsilon"))
      q.processAllAvailable()
      val out = spark.table("sdedup")
      out.count() shouldBe 3 // one row per distinct content
      out.select("text").distinct().count() shouldBe 3
    } finally q.stop()
  }

  test("stream-stream join matches pairs within the time bound only") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val la = MemoryStream[(Long, Timestamp, Double)]
    val lb = MemoryStream[(Long, Timestamp, Double)]
    val q = StreamOps.streamStreamJoin(
        la.toDF().toDF("user_id", "ts", "value"),
        lb.toDF().toDF("user_id", "ts", "value"))
      .writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    try {
      la.addData((1L, ts(30), 1.0), (2L, ts(30), 2.0))
      lb.addData((1L, ts(35), 10.0), // within ±10 min -> joins
        (1L, ts(55), 11.0), // outside the bound -> no pair
        (3L, ts(30), 12.0)) // no matching user -> no pair
      q.processAllAvailable()
      val out = spark.table("ssj")
      out.count() shouldBe 1
      out.select("user_id").as[Long].head() shouldBe 1L
    } finally q.stop()
  }

  test("latestByKeyStream: state tracks the max-(ts, event_id) row across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[StreamOps.Ev]
    val q = StreamOps.latestByKeyStream(input.toDS())
      .writeStream.format("memory").queryName("latest")
      .outputMode("update").start()
    try {
      input.addData(StreamOps.Ev(1, ts(10), 1, "a", 1.0))
      q.processAllAvailable()
      // a newer event wins; an older straggler in the same batch must not
      input.addData(StreamOps.Ev(2, ts(50), 1, "b", 2.0),
        StreamOps.Ev(3, ts(5), 1, "c", 3.0))
      q.processAllAvailable()
      val rows = spark.table("latest").as[StreamOps.LatestOut].collect()
      rows.length shouldBe 2 // one emission per touched batch
      rows.map(_.event_id).toSet shouldBe Set(1L, 2L)
      rows.last // the final emission is the true latest
      val fin = rows.filter(_.event_id == 2L).head
      fin.event_type shouldBe "b"
    } finally q.stop()
  }

  test("batch sessionize: session boundaries respect the 30-minute gap") {
    val r = EventsAnalytics.sessionize(spark, sfDir)
    r.count() should be > 0L
    // no session may contain an internal gap > 30 min: sessions of n=1
    // have duration 0; all durations are non-negative
    r.filter(col("duration_ms") < 0).count() shouldBe 0
  }

  test("cleanDocsStream gates quality and dedups within the watermark") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text", "lang")
    val q = StreamOps.cleanDocsStream(docs, minToks = 5L, minQuality = 0.0)
      .writeStream.format("memory").queryName("clean")
      .outputMode("append").start()
    try {
      val good = (1 to 8).map(i => s"alpha bravo charlie delta echo foxtrot golf unique$i").mkString(" ")
      input.addData(
        (1L, ts(0), good, "en"),                  // kept
        (2L, ts(1), good, "en"),                  // exact dup of 1 -> dropped
        (3L, ts(2), good.toUpperCase, "en"),      // same normalized text -> dropped
        (4L, ts(3), "too short", "en"),           // fails the token gate
        (5L, ts(4), good + " different tail now here", "en")) // kept
      q.processAllAvailable()
      val kept = spark.table("clean").select("doc_id").as[Long].collect().toSet
      kept shouldBe Set(1L, 5L)
    } finally q.stop()
  }
}
