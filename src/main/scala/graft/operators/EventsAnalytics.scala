package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions._
import graft.functions.{Sql => S}

/** Sequential/behavioral analytics over the events log — the funnel,
  * cohort-retention, and histogram queries every large-scale product
  * pipeline runs next to its ops dashboards (the reference aggregates
  * run metrics with pandas group-bys, e.g. experiments/
  * produce_h3_summary_and_plots.py; these are the event-log analogues
  * re-expressed as shuffle-conscious Catalyst plans).
  *
  * Scale shapes: every operator aggregates BEFORE it joins (the join
  * inputs are per-user/per-type reductions, never the raw log), all
  * time arithmetic is integer microseconds (engine-exact), and no
  * window runs over an unaggregated frame.
  */
object EventsAnalytics {

  val FunnelStages: Seq[String] = Seq("view", "click", "purchase")

  /** Conversion funnel view → click → purchase with STRICTLY
    * increasing timestamps per user, plus mean stage-transition delays.
    *
    * Each stage is a groupBy(user) min-timestamp aggregate joined to
    * the (already tiny) previous stage — the raw log is scanned once
    * per stage but never self-joined, so there is no pair expansion at
    * any skew; per-stage state is one µs long per user. A hot user
    * contributes one row to each join side regardless of event count. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val Seq(k1, k2, k3) = FunnelStages
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val s1 = e.filter(col("event_type") === k1)
      .groupBy("user_id").agg(min("us").as("t1"))
    val s2 = e.filter(col("event_type") === k2)
      .join(s1, "user_id").filter(col("us") > col("t1"))
      .groupBy("user_id").agg(min("us").as("t2"), min("t1").as("t1"))
    val s3 = e.filter(col("event_type") === k3)
      .join(s2.select("user_id", "t2"), "user_id").filter(col("us") > col("t2"))
      .groupBy("user_id").agg(min("us").as("t3"), min("t2").as("t2"))
    val r1 = s1.agg(count(lit(1)).as("n_view"))
    val r2 = s2.agg(count(lit(1)).as("n_click"),
      coalesce(rnd(sum(col("t2") - col("t1")).cast("double") / count(lit(1)) / lit(1e6), 2),
        lit(0.0)).as("avg_view_to_click_s"))
    val r3 = s3.agg(count(lit(1)).as("n_purchase"),
      coalesce(rnd(sum(col("t3") - col("t2")).cast("double") / count(lit(1)) / lit(1e6), 2),
        lit(0.0)).as("avg_click_to_purchase_s"))
    r1.crossJoin(r2).crossJoin(r3)
  }

  /** Cohort retention matrix: users grouped by the date of their first
    * event, counted on each later day they were active. ONE shuffle of
    * the event stream: groupBy(user) with a map-side-combined
    * collect_set of active days (bounded — ≤ the calendar span, not
    * event count), cohort = min day of the sorted set, explode, and a
    * constant-size (cohorts × offsets) final groupBy. The previous
    * distinct + cohort-groupBy + join form shuffled the stream three
    * times and read exponent 0.47 at 10×; this folds all per-user work
    * into the single aggregation. */
  def retention(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy("user_id")
      .agg(sort_array(collect_set(col("day"))).as("days"))
      .select(element_at(col("days"), 1).as("cohort"), explode(col("days")).as("day"))
      .groupBy(col("cohort"), datediff(col("day"), col("cohort")).cast("long").as("offset_days"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy("cohort", "offset_days")

  val HistBinWidth = 25.0
  val HistNumBins = 20

  /** THE bin definition — shared by [[histogram]],
    * [[windowedHistogram]], the streaming
    * [[graft.streaming.StreamOps.histogramStream]] and (as
    * [[SqlOracle.binSql]]) the oracles, so a clamping change can never
    * drift between the verified queries. */
  def binCol(value: Column): Column =
    least(greatest(floor(value / HistBinWidth), lit(0.0)),
      lit((HistNumBins - 1).toDouble)).cast("long")

  /** Fixed-bin value histogram per event type with within-type shares.
    * Binning is a pure per-row map (map-side combined groupBy); the
    * share window runs over the AGGREGATED types × bins frame, which is
    * constant-size however large the log is. */
  def histogram(spark: SparkSession, dir: String): DataFrame = {
    val bin = binCol(col("value"))
    val w = Window.partitionBy("event_type")
    Tables.events(spark, dir)
      .select(col("event_type"), bin.as("bin"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("share", rnd(col("cnt") / sum("cnt").over(w).cast("double"), 4))
      .select(col("event_type"), col("bin"),
        rnd(col("bin") * HistBinWidth, 2).as("bin_lo"), col("cnt"), col("share"))
  }

  /** Semi-structured payload extraction — the JSON-column surface
    * (events carry a JSON `props` string, the shape telemetry and
    * product logs arrive in): `from_json` with an EXPLICIT schema
    * parses the typed field per row — the 100 TB-correct form (one
    * schema-driven parse per row, no per-field path re-scan, and new
    * fields are a schema edit instead of a new path expression); a
    * malformed payload yields a NULL field exactly like the
    * path-extraction form ([[propsExtractPaths]], pinned equal in
    * EventsSpec). Then a per-type aggregate over the extracted value —
    * the log shuffles only its one-row-per-type partials. */
  def propsExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k LONG")).getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(col("k")).as("n_parsed"),
        sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"),
        countDistinct(col("k")).as("n_distinct_k"))

  /** The per-path extraction form of [[propsExtract]]
    * (`get_json_object('$.k')` + try_cast) — kept as the
    * ad-hoc-exploration twin (no schema needed) and spec-pinned
    * result-equal to the schema-driven parse. The cast MUST be
    * `try_cast`: under ANSI (Spark 4 default) a plain cast THROWS on a
    * non-integral payload value where `from_json` yields NULL — the
    * exact engine divergence ADVICE r9 flagged. */
  def propsExtractPaths(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").try_cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(col("k")).as("n_parsed"),
        sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"),
        countDistinct(col("k")).as("n_distinct_k"))
      .orderBy("event_type")

  /** Z-score outlier detection per event type — the metric-anomaly
    * sweep an ops pipeline runs over its telemetry. Two passes: a
    * map-side-combined stats aggregate (count + fixed-point Σv, Σv²,
    * so mean/std are identical bit-for-bit on any partitioning — at
    * larger value ranges the fixed-point scale must shrink to keep the
    * long sum from overflowing; Welford partials are the
    * arbitrary-range variant), broadcast back over the log as a pure
    * filter. No shuffle of the log itself. */
  /** Per-type (mean, std) from one fixed-point stats pass — the
    * "trained baseline" both [[anomalies]] and the streaming
    * [[graft.streaming.StreamOps.anomalyStream]] filter against. */
  def typeStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), fxSum(col("value"), 6).as("sm"),
        fxSum(col("value") * col("value"), 6).as("sm2"))
      .select(col("event_type"), (col("sm") / col("n")).as("mean"),
        sqrt(col("sm2") / col("n") - (col("sm") / col("n")) * (col("sm") / col("n"))).as("std"))

  def anomalies(spark: SparkSession, dir: String, z: Double = 3.0): DataFrame = {
    Tables.events(spark, dir)
      .join(broadcast(typeStats(spark, dir)), "event_type")
      .filter(col("std") > 0 && abs(col("value") - col("mean")) > lit(z) * col("std"))
      .select(col("event_id"), col("event_type"), rnd(col("value"), 4).as("value"),
        rnd((col("value") - col("mean")) / col("std"), 4).as("z_score"))
  }

  val MovAvgWindow = 3

  /** Per-user trailing moving average of `value` over the last
    * [[MovAvgWindow]] events — the smoothing pass behind every ops
    * time-series panel. The window is PARTITIONED BY user_id (each
    * frame holds one user's history, never the whole log), ordered by
    * (µs, event_id) so ties are deterministic, and the frame sum runs
    * over per-row fixed-point longs so both engines accumulate the
    * identical integers in any order. One shuffle (by user), no joins. */
  def movingAvg(spark: SparkSession, dir: String, w: Int = MovAvgWindow): DataFrame = {
    val frame = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(-(w - 1), Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("value"), floor(col("value") * 1e6 + 0.5).cast("long").as("fx"))
      .select(col("event_id"), col("user_id"), rnd(col("value"), 4).as("value"),
        rnd(sum("fx").over(frame) / count(lit(1)).over(frame) / lit(1e6), 4).as("mov_avg"))
  }

  /** Event-time hourly windowed counts/sums per event_type
    * (`stream_windowed_agg`). */
  def windowedAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), rnd(fxSum(col("value"), 6), 4).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** Sliding-window counts/sums (1-hour windows, 30-minute slide):
    * every event contributes to exactly two windows. Spark expands the
    * window set at the map side; the oracle mirrors the expansion with
    * an explicit two-start unnest. */
  def slidingAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), rnd(fxSum(col("value"), 6), 4).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** Hourly-window per-type binned value counts (`stream_histogram`):
    * the [[binCol]] map of [[histogram]] under an hourly window. */
  def windowedHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("ts"), col("event_type"), binCol(col("value")).as("bin"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("bin"), col("cnt"))
      .orderBy("window_start", "event_type", "bin")

  /** Trending detection: the top-3 event types per hourly window by
    * event count (ties by type name). The rank runs AFTER the windowed
    * aggregation — the frame is already reduced to (windows × types)
    * rows, so the partitioned row_number sorts a handful of rows per
    * window, not the event log; the only full-data shuffle is the
    * windowed groupBy with map-side partials. */
  def trendingTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("rank", row_number().over(
        Window.partitionBy("w").orderBy(col("n").desc, col("event_type"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("w.start").as("window_start"), col("rank"),
        col("event_type"), col("n"))
      .orderBy("window_start", "rank")
  }

  val SessionGapMin = 30

  /** Sessionization with a [[SessionGapMin]]-minute inactivity gap via
    * lag + cumulative session starts (single shuffle on user_id). */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val cum = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_millis(col("ts")) - unix_millis(col("prev_ts")) > SessionGapMin * 60000L,
          1L).otherwise(0L))
      .withColumn("sess_id", sum("new_sess").over(cum))
      .groupBy("user_id", "sess_id")
      .agg(min("ts").as("session_start"),
        count(lit(1)).as("n_events"),
        (unix_millis(max("ts")) - unix_millis(min("ts"))).as("duration_ms"))
  }

  /** Session-length distribution: how many sessions have n events, and
    * how long they run — the summary a product team reads off the
    * sessionizer. Reuses [[sessionize]]
    * (its final sort is eliminated under this aggregate by Catalyst's
    * EliminateSorts); sessions reduce to one row per (n_events) bucket,
    * so the output is bounded by the longest session, not the log. */
  def sessionStats(spark: SparkSession, dir: String): DataFrame =
    sessionize(spark, dir)
      .groupBy("n_events")
      .agg(count(lit(1)).as("n_sessions"),
        rnd(sum("duration_ms") / count(lit(1)), 2).as("avg_duration_ms"),
        max("duration_ms").as("max_duration_ms"))

  /** Daily and trailing-7-day active users with the DAU/WAU stickiness
    * ratio — the standard engagement panel. The log first reduces to
    * DISTINCT (user, day) — bounded by users × active-days, not event
    * count — then each active day contributes to the 7 target days
    * whose trailing window contains it (a bounded 7× explode on the
    * already-reduced frame; a range self-join would pair-expand).
    * Both counts are exact distincts over keyed shuffles. */
  def activeUsers(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val dau = ud.groupBy("day").agg(countDistinct("user_id").as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
      .groupBy("day").agg(countDistinct("user_id").as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        rnd(col("dau") / col("wau"), 4).as("stickiness"))
      .orderBy("day")
  }

  /** Global top-[[TopUsersK]] users by lifetime value — the "whale"
    * leaderboard. Two-level reduction: the per-user fixed-point sum is
    * a map-side-combined keyed groupBy, then the GLOBAL top-k runs
    * through the bounded-heap TopKByScore aggregate, so each partition
    * forwards ≤ k candidate rows to the single final reducer — a global
    * ORDER BY ... LIMIT k would instead range-shuffle every user row.
    * Ties break on user_id ascending, deterministically. */
  val TopUsersK = 20

  def topUsers(spark: SparkSession, dir: String, k: Int = TopUsersK): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(fxSum(col("value"), 6).as("total"))
      .agg(graft.functions.TopKAgg.topKBy(col("total"), col("user_id"), k).as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "e")))
      .select((col("pos") + 1).cast("long").as("rank"), col("e.id").as("user_id"),
        rnd(col("e.score"), 4).as("total_value"))
      .orderBy("rank")

  object SqlOracle {
    val propsExtract: String =
      """WITH x AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |  count(k) AS n_parsed,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  min(k) AS min_k, max(k) AS max_k,
        |  CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k
        |FROM x GROUP BY event_type""".stripMargin

    val activeUsers: String =
      s"""WITH ud AS (
         |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         |dau AS (
         |  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
         |  FROM ud GROUP BY day),
         |wau AS (
         |  SELECT ud.day + CAST(i AS INTEGER) AS day,
         |    CAST(count(DISTINCT user_id) AS BIGINT) AS wau
         |  FROM ud, range(0, 7) t(i) GROUP BY ud.day + CAST(i AS INTEGER))
         |SELECT day, dau, wau,
         |  ${S.rnd("dau / CAST(wau AS DOUBLE)", 4)} AS stickiness
         |FROM dau JOIN wau USING (day)
         |ORDER BY day""".stripMargin

    def topUsers(k: Int = TopUsersK): String =
      s"""WITH u AS (
         |  SELECT user_id, ${S.fxSum("value", 6)} AS total
         |  FROM events GROUP BY user_id),
         |r AS (
         |  SELECT user_id, total,
         |    row_number() OVER (ORDER BY total DESC, user_id) AS rank
         |  FROM u)
         |SELECT CAST(rank AS BIGINT) AS rank, user_id,
         |  ${S.rnd("total", 4)} AS total_value
         |FROM r WHERE rank <= $k ORDER BY rank""".stripMargin

    def movingAvg(w: Int = MovAvgWindow): String =
      s"""WITH e AS (
         |  SELECT event_id, user_id, epoch_us(ts) AS us, value,
         |    CAST(floor(value * 1e6 + 0.5e0) AS BIGINT) AS fx
         |  FROM ${S.eventsUs} events)
         |SELECT event_id, user_id, ${S.rnd("value", 4)} AS value,
         |  ${S.rnd("CAST(sum(fx) OVER w AS BIGINT) / (count(*) OVER w) / 1e6", 4)} AS mov_avg
         |FROM e
         |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
         |             ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW)""".stripMargin

    val funnel: String = {
      val Seq(k1, k2, k3) = FunnelStages
      s"""WITH e AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS us FROM ${S.eventsUs} events),
         |s1 AS (
         |  SELECT user_id, min(us) AS t1 FROM e WHERE event_type = '$k1' GROUP BY user_id),
         |s2 AS (
         |  SELECT e.user_id, min(us) AS t2, min(t1) AS t1
         |  FROM e JOIN s1 USING (user_id)
         |  WHERE event_type = '$k2' AND us > t1 GROUP BY e.user_id),
         |s3 AS (
         |  SELECT e.user_id, min(us) AS t3, min(t2) AS t2
         |  FROM e JOIN s2 USING (user_id)
         |  WHERE event_type = '$k3' AND us > t2 GROUP BY e.user_id),
         |r1 AS (SELECT count(*) AS n_view FROM s1),
         |r2 AS (SELECT count(*) AS n_click,
         |  coalesce(${S.rnd("CAST(CAST(sum(t2 - t1) AS BIGINT) AS DOUBLE) / count(*) / 1e6", 2)}, 0.0e0)
         |    AS avg_view_to_click_s FROM s2),
         |r3 AS (SELECT count(*) AS n_purchase,
         |  coalesce(${S.rnd("CAST(CAST(sum(t3 - t2) AS BIGINT) AS DOUBLE) / count(*) / 1e6", 2)}, 0.0e0)
         |    AS avg_click_to_purchase_s FROM s3)
         |SELECT * FROM r1, r2, r3""".stripMargin
    }

    val retention: String =
      s"""WITH e AS (
         |  SELECT user_id, CAST(ts AS DATE) AS day FROM ${S.eventsUs} events),
         |cohorts AS (
         |  SELECT user_id, min(day) AS cohort FROM e GROUP BY user_id),
         |active AS (SELECT DISTINCT user_id, day FROM e)
         |SELECT cohort,
         |  CAST(date_diff('day', cohort, day) AS BIGINT) AS offset_days,
         |  count(*) AS n_active
         |FROM active JOIN cohorts USING (user_id)
         |GROUP BY cohort, offset_days
         |ORDER BY cohort, offset_days""".stripMargin

    def anomalies(z: Double = 3.0): String =
      s"""WITH s AS (
         |  SELECT event_type, count(*) AS n,
         |    ${S.fxSum("value", 6)} AS sm, ${S.fxSum("value * value", 6)} AS sm2
         |  FROM events GROUP BY event_type),
         |st AS (
         |  SELECT event_type, sm / n AS mean,
         |    sqrt(sm2 / n - (sm / n) * (sm / n)) AS std
         |  FROM s)
         |SELECT event_id, e.event_type,
         |  ${S.rnd("value", 4)} AS value,
         |  ${S.rnd("(value - mean) / std", 4)} AS z_score
         |FROM events e JOIN st ON e.event_type = st.event_type
         |WHERE std > 0 AND abs(value - mean) > ${z}e0 * std""".stripMargin

    /** Bin expression shared by the histogram oracles. */
    val binSql: String =
      s"CAST(least(greatest(floor(value / ${HistBinWidth}e0), 0.0e0), " +
        s"${(HistNumBins - 1).toDouble}e0) AS BIGINT)"

    val histogram: String = {
      val bin = binSql
      s"""WITH b AS (
         |  SELECT event_type, $bin AS bin FROM events),
         |g AS (
         |  SELECT event_type, bin, count(*) AS cnt FROM b GROUP BY event_type, bin)
         |SELECT event_type, bin,
         |  ${S.rnd(s"bin * ${HistBinWidth}e0", 2)} AS bin_lo, cnt,
         |  ${S.rnd("cnt / CAST(CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS DOUBLE)", 4)} AS share
         |FROM g""".stripMargin
    }

    val windowedAgg: String =
      s"""SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n, (floor((${S.fxSum("value", 6)}) * 1e4 + 0.5e0) / 1e4) AS sum_value
        |FROM events GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin

    val slidingAgg: String =
      s"""WITH ev AS (SELECT * FROM ${S.eventsUs} e),
         |x AS (
         |  SELECT event_type, value,
         |    date_trunc('hour', ts) + CASE WHEN minute(ts) >= 30
         |      THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END AS b
         |  FROM ev),
         |w AS (
         |  SELECT unnest([b - INTERVAL 30 MINUTE, b]) AS window_start,
         |    event_type, value
         |  FROM x)
         |SELECT window_start, event_type, count(*) AS n,
         |  (floor((${S.fxSum("value", 6)}) * 1e4 + 0.5e0) / 1e4) AS sum_value
         |FROM w GROUP BY window_start, event_type
         |ORDER BY window_start, event_type""".stripMargin

    val windowedHistogram: String =
      s"""WITH b AS (
         |  SELECT date_trunc('hour', ts) AS window_start, event_type,
         |    $binSql AS bin
         |  FROM events)
         |SELECT window_start, event_type, bin, count(*) AS cnt
         |FROM b GROUP BY window_start, event_type, bin
         |ORDER BY window_start, event_type, bin""".stripMargin

    val trendingTopK: String =
      s"""WITH counts AS (
         |  SELECT date_trunc('hour', ts) AS window_start, event_type,
         |    count(*) AS n
         |  FROM ${S.eventsUs} e
         |  GROUP BY window_start, event_type),
         |ranked AS (
         |  SELECT window_start, event_type, n,
         |    row_number() OVER (PARTITION BY window_start
         |                       ORDER BY n DESC, event_type) AS rank
         |  FROM counts)
         |SELECT window_start, CAST(rank AS BIGINT) AS rank, event_type, n
         |FROM ranked WHERE rank <= 3
         |ORDER BY window_start, rank""".stripMargin

    val sessionize: String =
      s"""WITH x AS (
         |  SELECT user_id, ts, event_id,
         |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM ${S.eventsUs} events),
         |y AS (
         |  SELECT user_id, ts, event_id,
         |    CASE WHEN prev_ts IS NULL
         |           OR epoch_ms(ts) - epoch_ms(prev_ts) > ${SessionGapMin * 60000} THEN 1 ELSE 0 END AS new_sess
         |  FROM x),
         |z AS (
         |  SELECT user_id, ts,
         |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                        ROWS UNBOUNDED PRECEDING) AS sess_id
         |  FROM y)
         |SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id, min(ts) AS session_start,
         |  count(*) AS n_events,
         |  CAST(epoch_ms(max(ts)) - epoch_ms(min(ts)) AS BIGINT) AS duration_ms
         |FROM z GROUP BY user_id, sess_id""".stripMargin

    val sessionStats: String =
      s"""WITH sess AS ($sessionize)
         |SELECT n_events, count(*) AS n_sessions,
         |  ${S.rnd("CAST(sum(duration_ms) AS BIGINT) / CAST(count(*) AS DOUBLE)", 2)} AS avg_duration_ms,
         |  max(duration_ms) AS max_duration_ms
         |FROM sess GROUP BY n_events""".stripMargin
  }
}
