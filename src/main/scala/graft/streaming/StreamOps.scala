package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp
import graft.functions.{fxSum, rnd}
import graft.operators.EventsAnalytics.SessionGapMin

/** Streaming operators (the ref ingests in streaming batches —
  * ingestion/ingest.py:52-80 `run_*_ingest_stream`; here re-expressed
  * as Structured Streaming), exercised in ScalaTest via memory and
  * file sources.
  *
  * Each is the streaming form of a batch operator in
  * [[graft.operators.EventsAnalytics]], [[graft.operators.Dedup]],
  * [[graft.operators.Shaping]] or [[graft.operators.Chunking]] with
  * identical semantics: a correct streaming windowed agg must produce
  * exactly the batch answer once the watermark closes. The batch forms
  * are what the verified queries run and the DuckDB oracle checks.
  */
object StreamOps {
  /** Streaming form of [[graft.operators.EventsAnalytics.trendingTopK]]:
    * watermarked windowed counts (append mode — a window is emitted
    * once, when it closes),
    * then the per-window top-k rank runs in foreachBatch over the few
    * CLOSED window rows of that micro-batch. Ranking state never grows:
    * each batch ranks only windows finalized in it. */
  def trendingTopKStream(events: DataFrame, k: Int = 3)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(batch
          .withColumn("rank", row_number().over(
            Window.partitionBy("w").orderBy(col("n").desc, col("event_type"))).cast("long"))
          .filter(col("rank") <= k)
          .select(col("w.start").as("window_start"), col("rank"),
            col("event_type"), col("n")))
      }

  /** File-source streaming read of an events directory (parquet), with
    * the same nanos→µs timestamp handling as the batch reader. New
    * files landing in `dir` flow through incrementally. */
  def eventsReadStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    // A streaming source needs its schema fixed upfront, but the events
    // parquet has shipped three ts encodings across driver data
    // refreshes (see Tables.events). Sniff the encoding from whatever
    // static files are already in the directory (falling back to
    // TIMESTAMP_NTZ, the current testdata encoding, for an empty one),
    // then normalize through the same loader contract as batch.
    val tsType =
      try spark.read.parquet(dir).schema("ts").dataType
      catch { case _: Throwable => TimestampNTZType }
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    graft.Tables.normalizeEventTs(spark.readStream.schema(schema).parquet(dir))
  }

  /** Streaming hourly windowed agg with a 2-hour watermark. */
  def windowedAggStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), rnd(fxSum(col("value"), 6), 4).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Checkpointed parquet sink for the windowed aggregate — the
    * production exactly-once path: the checkpoint records committed
    * source offsets + sink batch ids, so a crashed/restarted query
    * resumes from the last committed batch and the file sink's commit
    * log makes replayed batches idempotent (no duplicated windows).
    * Append mode emits each window exactly once, when the watermark
    * closes it. */
  def windowedAggToParquet(events: DataFrame, outDir: String,
                           checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    windowedAggStream(events)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming exact dedup — the streaming form of `Dedup.exact`: a row
    * whose content hash was already seen within the watermark horizon
    * is dropped. State is bounded BY the watermark (full-history dedup
    * state cannot exist on an unbounded stream; the batch operator is
    * the full-history form), which is exactly the training-data
    * ingest-dedup contract: duplicates arrive close together. */
  def dedupStream(docs: DataFrame, horizon: String = "2 hours"): DataFrame =
    docs
      .withColumn("content_hash", md5(col("text").cast("binary")))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming corpus cleaning — the ingest-side form of
    * [[graft.operators.Shaping.qualityFilterPipeline]]: the same
    * quality gate (stateless per-row map, shared expression via
    * `Shaping.withQualityColumns`) followed by exact dedup on the
    * normalized-text hash within the watermark horizon. Gate state: 0;
    * dedup state: bounded by the watermark — the pipeline runs forever
    * on an unbounded ingest stream. Input needs (doc_id, ts, text,
    * lang); output is the kept docs with their gate columns. */
  def cleanDocsStream(docs: DataFrame, horizon: String = "2 hours",
                      minToks: Long = 20L, minQuality: Double = 0.6): DataFrame =
    graft.operators.Shaping.withQualityColumns(docs)
      .filter(col("n_toks") >= minToks && col("quality") >= minQuality)
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("norm_hash")
      .select(col("doc_id"), col("ts"), col("lang"), col("n_toks"), col("quality"))

  /** Streaming sliding-window chunker — the ingest-side form of
    * [[graft.operators.Chunking.chunkSliding]]: each arriving document
    * explodes into its overlapping token windows (pure stateless
    * narrow ops — zero streaming state, works in append mode at any
    * rate). Input needs (doc_id, ts, text); output keeps ts per chunk
    * so downstream stages can watermark. Chain after
    * [[cleanDocsStream]]'s gate+dedup for the full
    * ingest→clean→passage pipeline. */
  def chunkStream(docs: DataFrame,
                  w: Int = graft.operators.Chunking.W,
                  s: Int = graft.operators.Chunking.Stride): DataFrame =
    graft.operators.Chunking.chunkRows(docs, w, s)

  /** Stream-stream inner join: events of two streams for the same user
    * within a ±10-minute event-time bound. Both sides carry watermarks
    * so the join state is GC'd once the bound passes — the unbounded-
    * state failure mode of a naive stream join is designed out. */
  def streamStreamJoin(left: DataFrame, right: DataFrame): DataFrame = {
    val a = left.withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts").as("a_ts"), col("value").as("a_value"))
    val b = right.withWatermark("ts", "1 hour")
      .select(col("user_id").as("b_user"), col("ts").as("b_ts"),
        col("value").as("b_value"))
    a.join(b, col("user_id") === col("b_user") &&
      col("b_ts") >= col("a_ts") - expr("INTERVAL 10 MINUTES") &&
      col("b_ts") <= col("a_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("user_id"), col("a_ts"), col("b_ts"),
        col("a_value"), col("b_value"))
  }

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
  case class SessionOut(user_id: Long, session_start: Timestamp, n_events: Long, duration_sec: Long)
  case class SessState(start: Long, last: Long, n: Long)

  case class LatestOut(user_id: Long, event_id: Long, event_type: String, value: Double)

  /** Streaming upsert compaction — the streaming form of
    * Relational.latestByKey (the ref's batch_upsert replace-by-id
    * semantics, applied continuously): state holds the max-(ts,
    * event_id) row per key; every micro-batch emits the current winner
    * for keys it touched (update output mode). State is one row per
    * key — the same footprint any streaming upsert view needs. */
  def latestByKeyStream(events: Dataset[Ev]): Dataset[LatestOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[Ev, LatestOut](GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[Ev]) =>
          val best = (evs ++ state.getOption.iterator)
            .maxBy(e => (e.ts.getTime, e.event_id))
          state.update(best)
          LatestOut(user, best.event_id, best.event_type, best.value)
      }
  }

  /** Streaming per-window value histogram — the live form of
    * [[graft.operators.EventsAnalytics.histogram]]: binning stays a
    * per-row map before the watermarked window aggregate, so the
    * stream shuffles (window, type, bin) partial counts only; append
    * mode emits each window's bins exactly once when it closes. */
  def histogramStream(events: DataFrame, horizon: String = "2 hours"): DataFrame = {
    val bin = graft.operators.EventsAnalytics.binCol(col("value"))
    events
      .withWatermark("ts", horizon)
      .select(col("ts"), col("event_type"), bin.as("bin"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("bin"), col("cnt"))
  }

  /** Online anomaly filter — the production anomaly shape: per-type
    * mean/std are TRAINED OFFLINE (the batch
    * [[graft.operators.EventsAnalytics.anomalies]] stats pass) and
    * applied to the live stream as a stateless broadcast (stream-static)
    * join + filter. No streaming state at all, so it scales to any
    * event rate; retraining is swapping the static side. */
  def anomalyStream(events: DataFrame, stats: DataFrame, z: Double = 3.0): DataFrame =
    events.join(broadcast(stats), "event_type")
      .filter(col("std") > 0 && abs(col("value") - col("mean")) > lit(z) * col("std"))
      .select(col("event_id"), col("event_type"), col("value"),
        rnd((col("value") - col("mean")) / col("std"), 4).as("z_score"))

  /** Funnel progress state: events still above the watermark (held for
    * ordering; timestamps in MICROSECONDS, matching the batch funnel's
    * unix_micros arithmetic) + the drained horizon + stage timestamps
    * (-1 = unset). */
  case class FunnelSt(buf: Seq[(Long, Long, String)], drainedTo: Long,
                      t1: Long, t2: Long, t3: Long)
  case class FunnelOut(user_id: Long, stage: Long, t1_us: Long, t2_us: Long, t3_us: Long)

  /** Microseconds since epoch — java.sql.Timestamp.getTime truncates to
    * ms, and the batch funnel's strict `ts > t1` comparisons are µs
    * (unix_micros), so a ms fold would miss sub-ms stage gaps. */
  private def usOf(ts: Timestamp): Long =
    math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  /** Streaming conversion funnel — the streaming form of
    * [[graft.operators.EventsAnalytics.funnel]] (first view, first
    * click strictly after it, first purchase strictly after that),
    * correct under OUT-OF-ORDER arrival: new events buffer in state
    * until the watermark passes them, then fold into the stage machine
    * in (event-time µs, event_id) order and leave the buffer. Because
    * drains are watermark-monotone, the fold sees events in global
    * event-time order however they arrived, so the converged state
    * equals the batch funnel on the same data. Events at-or-below the
    * drained horizon are dropped, the standard late-data contract.
    *
    * State stays bounded on an open-ended user population: the buffer
    * drains with the watermark, a COMPLETED journey (stage 3, empty
    * buffer) removes its state immediately, and an idle user's state
    * expires `idleMs` after their last drained event (event-time
    * timeout). A group with held events instead arms its timeout at
    * the EARLIEST held timestamp — mapGroupsWithState only runs for
    * groups with new input, so without a timeout a quiet user would
    * never drain. Emits the user's current stage each invocation
    * (update semantics, [[latestByKeyStream]]'s shape). */
  def funnelStream(events: Dataset[Ev], horizon: String = "10 minutes",
                   stages: Seq[String] = graft.operators.EventsAnalytics.FunnelStages,
                   idleMs: Long = 24L * 3600 * 1000): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", horizon)
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelSt, FunnelOut](GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[FunnelSt]) =>
          val st0 = state.getOption.getOrElse(FunnelSt(Nil, Long.MinValue, -1L, -1L, -1L))
          val fresh = evs.map(e => (usOf(e.ts), e.event_id, e.event_type))
            .filter(_._1 > st0.drainedTo).toSeq
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (ripe, hold) = (st0.buf ++ fresh).partition(_._1 <= wmUs)
          var (t1, t2, t3) = (st0.t1, st0.t2, st0.t3)
          ripe.sortBy(e => (e._1, e._2)).foreach { case (ts, _, tpe) =>
            if (tpe == stages(0)) { if (t1 < 0) t1 = ts }
            else if (tpe == stages(1)) { if (t2 < 0 && t1 >= 0 && ts > t1) t2 = ts }
            else if (tpe == stages(2)) { if (t3 < 0 && t2 >= 0 && ts > t2) t3 = ts }
          }
          val stage = Seq(t1, t2, t3).count(_ >= 0).toLong
          if (hold.isEmpty && (stage == 3 ||
              (state.hasTimedOut && ripe.isEmpty))) {
            // journey complete, or a GENUINE idle timeout (nothing
            // drained this invocation, nothing held — quiet for
            // idleMs): drop the state row — unbounded user populations
            // must not accumulate one state entry per user forever.
            // A drain-timeout (armed at the oldest held event) also
            // has hasTimedOut=true but ripe non-empty; removing then
            // would discard stage progress (t1/t2) and the drainedTo
            // late-data guard after any stage gap longer than the
            // watermark horizon, undercounting conversions vs batch.
            if (state.exists) state.remove()
          } else {
            state.update(FunnelSt(hold, math.max(st0.drainedTo, wmUs), t1, t2, t3))
            if (hold.nonEmpty)
              // re-wake when the watermark reaches the oldest held
              // event (ceil to ms keeps it > the current watermark)
              state.setTimeoutTimestamp(hold.map(_._1).min / 1000L + 1L)
            else
              state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + idleMs)
          }
          FunnelOut(user, stage, t1, t2, t3)
      }
  }

  /** Live daily-active-users counter — the streaming form of
    * [[graft.operators.EventsAnalytics.activeUsers]]'s DAU side: the
    * stream first deduplicates (user, day) within the watermark
    * horizon (state = one row per active user-day, dropped as the
    * watermark passes — bounded however many events repeat), then a
    * per-day windowed count emits each closed day exactly once in
    * append mode. The horizon must cover a full day plus allowed
    * lateness so a user's second event on the same day always meets
    * the dedup state. */
  def dauStream(events: DataFrame, horizon: String = "25 hours"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .select(col("ts"), col("user_id"), to_date(col("ts")).as("day"))
      .dropDuplicatesWithinWatermark("user_id", "day")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("dau"))
      .select(col("w.start").cast("date").as("day"), col("dau"))

  /** Moving-average state: held (us, event_id, fx) events above the
    * watermark + the trailing ≤ w−1 drained fixed-point values + the
    * drained horizon. */
  case class MovAvgSt(buf: Seq[(Long, Long, Long)], tail: Seq[Long], drainedTo: Long)
  case class MovAvgOut(user_id: Long, event_id: Long, mov_avg: Double)

  /** Streaming per-user trailing moving average — the streaming form of
    * [[graft.operators.EventsAnalytics.movingAvg]], correct under
    * OUT-OF-ORDER arrival via [[funnelStream]]'s watermark-ordered
    * fold: events buffer in state until the watermark passes them, then
    * drain in (event-time µs, event_id) order through the trailing
    * window, so each emitted average equals the batch operator's row
    * for that event. State stays bounded: the buffer drains with the
    * watermark, the tail holds w−1 longs, and an idle user's state
    * (tail included) expires `idleMs` after their last drained event —
    * a user returning later starts a fresh smoothing window, the
    * documented trade for not holding one state row per ever-seen user. */
  def movingAvgStream(events: Dataset[Ev],
                      w: Int = graft.operators.EventsAnalytics.MovAvgWindow,
                      horizon: String = "10 minutes",
                      idleMs: Long = 24L * 3600 * 1000): Dataset[MovAvgOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", horizon)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[MovAvgSt, MovAvgOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[MovAvgSt]) =>
          val st0 = state.getOption.getOrElse(MovAvgSt(Nil, Nil, Long.MinValue))
          val fresh = evs
            .map(e => (usOf(e.ts), e.event_id, math.floor(e.value * 1e6 + 0.5).toLong))
            .filter(_._1 > st0.drainedTo).toSeq
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (ripe, hold) = (st0.buf ++ fresh).partition(_._1 <= wmUs)
          var tail = st0.tail
          val out = ripe.sortBy(e => (e._1, e._2)).map { case (_, id, fx) =>
            val win = (tail :+ fx).takeRight(w)
            tail = win.takeRight(w - 1)
            MovAvgOut(user, id,
              math.floor(win.sum.toDouble / win.length / 1e6 * 1e4 + 0.5) / 1e4)
          }
          if (state.hasTimedOut && ripe.isEmpty && hold.isEmpty) {
            // a GENUINE idle timeout: nothing drained this invocation
            // and nothing held — the user has been quiet for idleMs. A
            // drain-timeout (armed at the oldest held event) also
            // arrives with hasTimedOut=true but with ripe non-empty;
            // removing state then would discard the tail and drainedTo
            // right after a drain, restarting the window and
            // re-admitting late duplicates after ANY gap longer than
            // the watermark horizon instead of after idleMs.
            if (state.exists) state.remove()
          } else {
            state.update(MovAvgSt(hold, tail, math.max(st0.drainedTo, wmUs)))
            if (hold.nonEmpty)
              state.setTimeoutTimestamp(hold.map(_._1).min / 1000L + 1L)
            else
              state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + idleMs)
          }
          out.iterator
      }
  }

  /** Streaming sessionization via flatMapGroupsWithState: a session is
    * emitted when a later event for the user passes the inactivity gap,
    * or (with ProcessingTimeTimeout, the production default) when the
    * state times out with no further events. */
  def sessionizeStream(events: Dataset[Ev],
                       timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append, timeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(user, new Timestamp(s.start), s.n, (s.last - s.start) / 1000))
          } else {
            val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val out = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= SessionGapMin * 60000L =>
                  cur = Some(s.copy(last = t, n = s.n + 1))
                case Some(s) =>
                  out += SessionOut(user, new Timestamp(s.start), s.n, (s.last - s.start) / 1000)
                  cur = Some(SessState(t, t, 1))
                case None =>
                  cur = Some(SessState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (timeout == GroupStateTimeout.ProcessingTimeTimeout)
                state.setTimeoutDuration(s"$SessionGapMin minutes")
            }
            out.result().iterator
          }
      }
  }
}
