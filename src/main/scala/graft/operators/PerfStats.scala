package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions._

/** Performance/ops analytics over the events table, standing in for the
  * reference's timing logs:
  *  - latency percentiles + QPS (ref: evaluation/search_eval.py:14-16
  *    `latency_stats` mean/p95/p99/qps; auto_run_tests.py
  *    `measure_offline_query_latency` mean/p50/p90/p99),
  *  - per-batch ingest throughput (ref: ingestion/ingest.py:17-33
  *    `summarize_timings` batch_time/batch_size/throughput_vps + totals),
  *  - group-by run summaries (ref: experiments/
  *    produce_h3_summary_and_plots.py mean/median/min/max by n_docs).
  *
  * Exact interpolated percentiles (≡ Spark `percentile` ≡ DuckDB
  * `quantile_cont`, numpy-style linear interpolation), computed over a
  * bounded fixed-point HISTOGRAM instead of the exact `percentile()`
  * aggregate — whose buffer holds a value→count map PER GROUP, so one
  * hot event_type with high-cardinality continuous values buffers
  * O(distinct values) inside a single aggregation buffer (the last
  * textbook scale-killer this library had in a verified query). See
  * [[histPercentiles]]; group-by aggregation with map-side partials;
  * no driver loops.
  */
object PerfStats {

  /** Exact per-group interpolated percentiles over a 1e4 fixed-point
    * histogram — the [[Shaping.qualityCalibration]] technique applied
    * to a CONTINUOUS metric column: one map-side-combined
    * groupBy(keys, quantized value) collapses the log to a bounded
    * frame (≤ value_range·10⁴ rows per group — constant in row count),
    * cumulative windows run on that histogram, and each requested
    * percentile reads its two bracketing ranks with Spark's own
    * `Percentile` interpolation arithmetic, reproduced operand for
    * operand: position = (n−1)·p; the bucket covering 0-based rank i
    * is the one with cum−cnt ≤ i < cum; lower==higher and
    * lowerKey==higherKey short-circuit to the lower key (the
    * interpolation identity (1−f)·v + f·v can differ from v by an
    * ulp); otherwise (higher−pos)·v_lo + (pos−lower)·v_hi.
    *
    * Exactness contract: quantiles are exact whenever values carry ≤4
    * decimals (the reference's latency logs are ms-scale, and the
    * events table is 1e2-grid); sub-1e-4 noise collapses into its
    * grid bucket (represented by the bucket's min value) — the
    * documented quantization, with the histogram size bounded either
    * way. The per-bucket `_fx` partial carries the TRUE per-row 1e6
    * fixed-point longs, so mean/qps stay bit-exact for arbitrary
    * values, not just grid-aligned ones.
    *
    * Returns one row per key: keys…, n, _fx (Σ floor(v·1e6+0.5) as
    * long), _vmin, _vmax, and one double column per requested
    * (name, p). */
  private def histPercentiles(base: DataFrame, keys: Seq[String],
                              ps: Seq[(String, Double)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = base
      .groupBy((keys.map(col) :+
        floor(col("value") * 1e4 + 0.5).cast("long").as("_qv")): _*)
      .agg(
        count(lit(1)).as("_cnt"),
        sum(floor(col("value") * 1e6 + 0.5).cast("long")).as("_fx"),
        min(col("value")).as("_v"),
        max(col("value")).as("_vx"))
    val part = Window.partitionBy(keys.map(col): _*)
    // the windows (and the final groupBy) all hash-partition on the
    // SAME keys, so only the histogram build and one keys-shuffle run
    val h = hist
      .withColumn("_cum", sum("_cnt").over(part.orderBy("_qv")))
      .withColumn("_n", sum("_cnt").over(part))
    def valueAt(idx: Column): Column =
      max(when(col("_cum") - col("_cnt") <= idx && idx < col("_cum"), col("_v")))
    val pctCols = ps.map { case (name, p) =>
      val pos = (col("_n") - 1) * lit(p)
      val lo = floor(pos)
      val hi = ceil(pos)
      when(max(lo) === max(hi), valueAt(lo))
        .when(valueAt(lo) === valueAt(hi), valueAt(lo))
        .otherwise((max(hi) - max(pos)) * valueAt(lo) +
          (max(pos) - max(lo)) * valueAt(hi))
        .as(name)
    }
    val aggs = Seq(sum("_cnt").as("n"), sum("_fx").as("_fx"),
      min("_v").as("_vmin"), max("_vx").as("_vmax")) ++ pctCols
    h.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  def latencyPercentiles(spark: SparkSession, dir: String): DataFrame =
    histPercentiles(
      Tables.events(spark, dir).select(col("event_type"), col("value")),
      Seq("event_type"),
      Seq("_p50" -> 0.5, "_p90" -> 0.9, "_p95" -> 0.95, "_p99" -> 0.99))
      .select(col("event_type"), col("n"),
        // ≡ rnd(fxAvg(value, 6), 4) / rnd(n / fxSum(value, 6), 4):
        // same long sum, same divide order, same IEEE values
        rnd(col("_fx") / col("n") / 1e6, 4).as("mean_v"),
        rnd(col("_p50"), 4).as("p50"),
        rnd(col("_p90"), 4).as("p90"),
        rnd(col("_p95"), 4).as("p95"),
        rnd(col("_p99"), 4).as("p99"),
        rnd(col("n") / (col("_fx") / 1e6), 4).as("qps"))

  /** Per-type value sums via [[Skew.saltedAgg]] — the two-phase
    * skew-safe aggregation wired into a VERIFIED query: phase 1 groups
    * on (event_type, salt-of-event_id) so a pathological hot type
    * spreads over 8 reducers, phase 2 merges the 8 partials. The
    * partial is a fixed-point long sum (a semigroup, and order-free),
    * so the salted result is bit-identical to the unsalted oracle. */
  def saltedSum(spark: SparkSession, dir: String): DataFrame =
    Skew.saltedAgg(
      Tables.events(spark, dir), col("event_type"), col("event_id"), 8,
      col("value"),
      v => sum(floor(v * 1e4 + 0.5).cast("long")),
      pv => sum(pv))
      .select(col("_k").as("event_type"),
        rnd(col("value") / 1e4, 4).as("sum_value"))

  /** Skew.saltedJoin wired into a VERIFIED query: the event log joined
    * to a per-user activity profile through the salted (key, salt)
    * equi-join — a hot user's events spread over 8 reducers instead of
    * one straggler — then reduced per event type. The oracle is the
    * PLAIN unsalted join, so hash equality proves salting changes the
    * execution strategy and nothing else (saltedSum's argument, for
    * the join path). */
  def saltedJoinStats(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val profile = e.groupBy("user_id").agg(count(lit(1)).as("user_n"))
    Skew.saltedJoin(
      e.select("event_id", "user_id", "event_type"),
      profile, "user_id", col("event_id"), 8)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        rnd(fxAvg(col("user_n").cast("double"), 4), 4).as("mean_user_events"))
  }

  /** Batches of 256 by event_id (mirrors the ref's fixed batch loop,
    * ingest.py:44-48): per-batch time/size/throughput. */
  def ingestThroughput(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(floor(col("event_id") / 256).as("batch_id"))
      .agg(
        count(lit(1)).cast("long").as("batch_size"),
        rnd(fxSum(col("value"), 6), 4).as("batch_time"),
        rnd(count(lit(1)) / fxSum(col("value"), 6), 4).as("throughput_vps"))
      .orderBy("batch_id")

  /** mean/median/min/max summary grouped by (event_type, hour-of-day) —
    * the h3_summary_by_n_docs shape. The median rides the same bounded
    * [[histPercentiles]] histogram as [[latencyPercentiles]] (min/max/
    * mean fall out of the same pass), so no per-group value→count
    * buffer exists here either. */
  def runSummary(spark: SparkSession, dir: String): DataFrame =
    histPercentiles(
      Tables.events(spark, dir).select(col("event_type"),
        hour(col("ts")).cast("long").as("hr"), col("value")),
      Seq("event_type", "hr"), Seq("_p50" -> 0.5))
      .select(col("event_type"), col("hr"), col("n"),
        rnd(col("_fx") / col("n") / 1e6, 4).as("mean_v"),
        rnd(col("_p50"), 4).as("median_v"),
        rnd(col("_vmin"), 4).as("min_v"),
        rnd(col("_vmax"), 4).as("max_v"))

  /** Rollup summary — both of the reference's summary granularities
    * (per (event_type, hour) AND per event_type AND grand total, the
    * by-n_docs/by-model shapes of produce_h3_summary_and_plots.py) in
    * ONE pass: `rollup` plans a single shuffle with map-side partial
    * aggregation for every grouping set; `gid` disambiguates levels.
    * Null ordering is pinned (asc_nulls_first ≡ DuckDB NULLS FIRST). */
  def runSummaryRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .rollup(col("event_type"), hour(col("ts")).cast("long").as("hr"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        rnd(fxAvg(col("value"), 6), 4).as("mean_v"),
        rnd(min("value"), 4).as("min_v"),
        rnd(max("value"), 4).as("max_v"))

  /** Paired statistical comparison of two metric populations (ref:
    * experiments/stats.py `paired_tests` — scipy ttest_rel + wilcoxon):
    * per-user mean 'click' latency vs mean 'view' latency, paired on
    * users having both. Emits the paired t statistic (+ df + two-sided
    * p-value) and the Wilcoxon signed-rank W⁺ (average ranks over |d|
    * ties, zero differences dropped — scipy's defaults) with its
    * normal-approximation p-value. All moments are fixed-point sums so
    * results are accumulation-order-free. The Wilcoxon p-value is null
    * in the regime where scipy's method='auto' would switch to the
    * exact signed-rank distribution (tie-free n ≤ 50) — there the
    * approximation would silently diverge from the reference.
    *
    * p-value determinism (the oracle mirrors every step): the t CDF
    * uses the exact closed form for integer df — for even df a pure
    * product-sum recurrence (only IEEE +,·,/,√, all correctly rounded,
    * so bit-identical across engines); for odd df the same plus one
    * atan, whose output is quantized at 1e9 before use (JVM StrictMath
    * vs libm can differ in the last ulp). The Wilcoxon p uses the
    * tie-corrected normal approximation (no continuity correction,
    * scipy's correction=False default) with Φ via the Abramowitz-
    * Stegun 7.1.26 erf polynomial (|err| ≤ 1.5e-7, quoted well inside
    * the 1e-6 output grid), whose single exp() is 1e9-quantized the
    * same way. */
  def pairedTests(spark: SparkSession, dir: String,
                  typeA: String = "click", typeB: String = "view"): DataFrame = {
    val e = Tables.events(spark, dir)
    def meanOf(t: String, as: String) =
      e.filter(col("event_type") === t).groupBy("user_id")
        .agg(fxAvg(col("value"), 6).as(as))
    val dj = meanOf(typeA, "a").join(meanOf(typeB, "b"), "user_id")
      .select(col("user_id"), (col("a") - col("b")).as("d"))
    val d = dj.filter(col("d") =!= 0.0)
    // Average ranks of |d| (ties share (min+max)/2) for Wilcoxon W+,
    // computed WITHOUT an unpartitioned window: a global sort (range-
    // partitioned, distributed) + zipWithIndex gives each row its
    // 0-based position; min(position)+1 per distinct |d| is the exact
    // min-rank regardless of how ties were split across partitions.
    // Shuffle volume is one (ad, d) pair per row — no single-partition
    // coalesce anywhere. W+ and the tie-correction sum are exact:
    // average ranks are multiples of 0.5 (dyadic, so double addition
    // is associativity-free here) and the tie cubes are longs.
    import spark.implicits._
    val ranked = d.select(abs(col("d")).as("ad"), col("d")).as[(Double, Double)]
      .orderBy("ad").rdd.zipWithIndex()
      .map { case ((ad, dv), i) => (ad, dv, i + 1L) }
      .toDF("ad", "d", "r")
    val w = ranked.groupBy("ad")
      .agg(min("r").as("r_min"), count(lit(1)).as("n_tie"),
        sum(when(col("d") > 0, 1L).otherwise(0L)).as("n_pos"))
      .agg(
        coalesce(sum((col("r_min") + (col("n_tie") - 1) / 2.0) * col("n_pos")),
          lit(0.0)).as("w_plus"),
        coalesce(sum(col("n_tie") * col("n_tie") * col("n_tie") - col("n_tie")),
          lit(0L)).as("_ties3"))
    // aggregated over the UNFILTERED join so the dropped-zero count
    // rides along: zeros contribute exactly 0 to both fixed-point sums,
    // so _sd/_sd2 are unchanged and n still counts nonzero differences
    val base = dj.agg(
      coalesce(sum(when(col("d") =!= 0.0, 1L).otherwise(0L)), lit(0L)).as("n"),
      fxSum(col("d"), 6).as("_sd"),
      fxSum(col("d") * col("d"), 6).as("_sd2"),
      coalesce(sum(when(col("d") === 0.0, 1L).otherwise(0L)), lit(0L)).as("_zeros"))

    // ---- expression builders over the single (base × w) row ----
    val n = col("n")
    // divisor nulled at n ≤ 1 so the t-stat arithmetic short-circuits
    // to NULL instead of tripping ANSI division-by-zero: the output
    // columns guard on n, but codegen's common-subexpression pass
    // evaluates these eagerly even under a never-taken when() branch
    // (n can be 0 with _sd a non-null 0 now that base aggregates the
    // unfiltered join — all-zero differences hit exactly that)
    val nD = when(n > 1, n)
    val varTerm = (col("_sd2") - col("_sd") * col("_sd") / nD) / (nD - 1) / nD
    val tRaw = col("_sd") / nD / sqrt(varTerm)
    val tAbs = abs(tRaw)
    val nuD = (n - 1).cast("double")
    val u = nuD / (nuD + tAbs * tAbs)
    // m = floor(ν/2) = the term count of BOTH closed-form branches:
    // even ν sums j = 0..ν/2−1; odd ν sums j = 0..(ν−3)/2, i.e.
    // (ν−1)/2 terms — both equal floor(ν/2).
    val m = floor(nuD / 2).cast("int")
    // Σ_{j=0}^{m-1} Π_{i=1}^{j} (u·num(i)/den(i)) as ONE O(m) left
    // fold carrying (prefix product p, running sum s) — ν is the
    // paired-user count, so the naive per-term prefix recomputation is
    // O(ν²) and hangs at millions of users. Each prefix product still
    // associates ((1·x₁)·x₂)… and the sum still starts from the j=0
    // term 1.0, so the IEEE value stream is unchanged — and the oracle
    // mirrors the identical fold.
    def sumTerms(num: Column => Column, den: Column => Column) = {
      val folded = aggregate(
        sequence(lit(1), m - 1),
        struct(lit(1.0).as("p"), lit(1.0).as("s")),
        (acc, i) => {
          val t = u * num(i) / den(i)
          struct((acc("p") * t).as("p"), (acc("s") + acc("p") * t).as("s"))
        })
      // sequence(1, m-1) DESCENDS when m-1 < 1 — guard both degenerate
      // term counts explicitly instead
      when(m <= 0, lit(0.0)).when(m === 1, lit(1.0)).otherwise(folded("s"))
    }
    val sumE = sumTerms(
      i => (i * 2 - 1).cast("double"), i => (i * 2).cast("double"))
    val sumO = sumTerms(
      i => (i * 2).cast("double"), i => (i * 2 + 1).cast("double"))
    val fEven = lit(0.5) + tAbs / (lit(2.0) * sqrt(nuD + tAbs * tAbs)) * sumE
    val qatan = rnd(atan(tAbs / sqrt(nuD)), 9)
    val fOdd = lit(0.5) +
      (qatan + tAbs * sqrt(nuD) / (nuD + tAbs * tAbs) * sumO) / lit(math.Pi)
    val pT = lit(2.0) * (lit(1.0) - when(pmod(n - 1, lit(2L)) === 0, fEven).otherwise(fOdd))
    // Wilcoxon normal approximation with tie correction. Moments are
    // computed in double arithmetic from the first factor on: the
    // all-integer n(n+1)(2n+1) silently wraps 64-bit near n ≈ 2.1M
    // paired users in Spark while DuckDB raises on BIGINT overflow —
    // promoting before the product keeps both engines on the same
    // (exact up to 2^53, then correctly-rounded) path.
    val mnW = n.cast("double") * (n + 1) / lit(4.0)
    val vrW = n.cast("double") * (n + 1) * (n * 2 + 1) / lit(24.0) -
      col("_ties3").cast("double") / lit(48.0)
    val zW = abs(col("w_plus") - mnW) / sqrt(vrW)
    val xW = zW / sqrt(lit(2.0))
    val tau = lit(1.0) / (lit(1.0) + lit(0.3275911) * xW)
    val qexp = rnd(exp(-(xW * xW)), 9)
    val pW = tau * (lit(0.254829592) + tau * (lit(-0.284496736) +
      tau * (lit(1.421413741) + tau * (lit(-1.453152027) +
        tau * lit(1.061405429))))) * qexp

    base.crossJoin(w).select(
      n,
      rnd(tRaw, 4).as("t_stat"),
      (n - 1).as("t_df"),
      when(n >= 2 && (col("_sd2") - col("_sd") * col("_sd") / n) > 0,
        rnd(pT, 6)).as("paired_t_pvalue"),
      rnd(col("w_plus"), 4).as("wilcoxon_w"),
      // In scipy's method='auto' regime (ref stats.py uses the
      // defaults), a tie-free zero-free sample of n ≤ 50 gets the
      // EXACT signed-rank distribution, not the normal approximation —
      // emitting the approximation there would silently diverge from
      // the reference (n = 1 even raises in scipy, recorded as None).
      // Gate the p-value to null in that regime; with ties, with
      // dropped zero differences, or above n = 50, scipy itself
      // approximates and the values agree.
      when(vrW > 0 &&
          (col("_zeros") > 0L || !(n <= 50 && col("_ties3") === 0L)),
        rnd(pW, 6)).as("wilcoxon_pvalue"))
  }

  /** Sketch-based summaries for cardinalities/quantiles too big for
    * exact computation (library API; approx values are engine-specific
    * so they are test-covered rather than oracle-compared). HLL++ and
    * Greenwald-Khanna via Spark built-ins — codegen'd, partial-agg. */
  def approxSummary(spark: SparkSession, dir: String, relErr: Double = 0.05): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), relErr).as("approx_users"),
        expr("approx_percentile(value, array(0.5, 0.95, 0.99), 1000)").as("approx_pcts"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  object SqlOracle {
    /** The unsalted formulation — equality proves salting is a pure
      * execution-strategy change, invisible in results. */
    val saltedSum: String =
      s"""SELECT event_type,
         |  ${Sql.rnd(Sql.fxSum("value", 4), 4)} AS sum_value
         |FROM events GROUP BY event_type""".stripMargin

    val saltedJoinStats: String =
      s"""WITH prof AS (
         |  SELECT user_id, count(*) AS user_n FROM events GROUP BY user_id)
         |SELECT event_type, count(*) AS n,
         |  ${Sql.rnd(Sql.fxAvg("CAST(user_n AS DOUBLE)", 4), 4)} AS mean_user_events
         |FROM events JOIN prof USING (user_id)
         |GROUP BY event_type""".stripMargin

    val latencyPercentiles: String =
      s"""SELECT event_type,
        |  count(*) AS n,
        |  (floor((${Sql.fxAvg("value", 6)}) * 1e4 + 0.5e0) / 1e4) AS mean_v,
        |  (floor((quantile_cont(value, 0.5)) * 1e4 + 0.5e0) / 1e4) AS p50,
        |  (floor((quantile_cont(value, 0.9)) * 1e4 + 0.5e0) / 1e4) AS p90,
        |  (floor((quantile_cont(value, 0.95)) * 1e4 + 0.5e0) / 1e4) AS p95,
        |  (floor((quantile_cont(value, 0.99)) * 1e4 + 0.5e0) / 1e4) AS p99,
        |  (floor((count(*) / ${Sql.fxSum("value", 6)}) * 1e4 + 0.5e0) / 1e4) AS qps
        |FROM events GROUP BY event_type""".stripMargin

    val ingestThroughput: String =
      s"""SELECT CAST(floor(event_id / 256) AS BIGINT) AS batch_id,
        |  count(*) AS batch_size,
        |  (floor((${Sql.fxSum("value", 6)}) * 1e4 + 0.5e0) / 1e4) AS batch_time,
        |  (floor((count(*) / ${Sql.fxSum("value", 6)}) * 1e4 + 0.5e0) / 1e4) AS throughput_vps
        |FROM events GROUP BY batch_id ORDER BY batch_id""".stripMargin

    /** Mirrors [[PerfStats.pairedTests]] step for step: identical IEEE
      * arithmetic for the closed-form t CDF (left-folded list_reduce ≡
      * Spark's aggregate fold), with the lone atan/exp outputs
      * 1e9-quantized on both engines before use. */
    def pairedTests(typeA: String = "click", typeB: String = "view"): String = {
      // One O(m) fold carrying (prefix product p, running sum s) —
      // mirrors the operator's aggregate() struct fold value for value:
      // each prefix product still associates ((1·x₁)·x₂)… and the sum
      // still starts from the j=0 term 1.0, so the IEEE value stream is
      // identical. list_reduce's accumulator shares the element type,
      // so loop indices ride in as structs. Field ORDER is load-bearing:
      // DuckDB evaluates struct fields sequentially and a later field's
      // acc.p reads the already-updated p, so s (which needs the OLD p)
      // must come first.
      def fold(num: String => String, den: String => String): String = {
        val t = s"(u * CAST(${num("x.p")} AS DOUBLE) / CAST(${den("x.p")} AS DOUBLE))"
        s"""CASE WHEN m <= 0 THEN 0.0 WHEN m = 1 THEN 1.0 ELSE
           |      (list_reduce(list_prepend(
           |        {'s': CAST(1.0 AS DOUBLE), 'p': CAST(1.0 AS DOUBLE)},
           |        [{'s': CAST(0.0 AS DOUBLE), 'p': CAST(i AS DOUBLE)} for i in range(1, m)]),
           |        (acc, x) -> {'s': acc.s + acc.p * $t, 'p': acc.p * $t})).s
           |      END""".stripMargin
      }
      val pw = "tau * (0.254829592 + tau * (-0.284496736 + tau * (1.421413741 + " +
        "tau * (-1.453152027 + tau * 1.061405429)))) * qexp"
      s"""WITH a AS (
         |  SELECT user_id, ${Sql.fxAvg("value", 6)} AS a
         |  FROM events WHERE event_type = '$typeA' GROUP BY user_id),
         |b AS (
         |  SELECT user_id, ${Sql.fxAvg("value", 6)} AS b
         |  FROM events WHERE event_type = '$typeB' GROUP BY user_id),
         |dj AS (
         |  SELECT user_id, a.a - b.b AS d
         |  FROM a JOIN b USING (user_id)),
         |d0 AS (SELECT * FROM dj WHERE d <> 0),
         |r AS (
         |  SELECT d, rank() OVER (ORDER BY abs(d)) AS r_min,
         |    count(*) OVER (PARTITION BY abs(d)) AS n_tie
         |  FROM d0),
         |x AS (SELECT d, r_min + (n_tie - 1) / 2.0 AS r_avg, n_tie FROM r),
         |aggw AS (
         |  SELECT coalesce(sum(CASE WHEN d > 0 THEN r_avg ELSE 0.0 END), 0.0) AS wp,
         |    coalesce(sum(n_tie * n_tie - 1), 0) AS ties3
         |  FROM x),
         |aggd AS (
         |  SELECT CAST(coalesce(sum(CASE WHEN d <> 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n,
         |    ${Sql.fxSum("d", 6)} AS sd, ${Sql.fxSum("d * d", 6)} AS sd2,
         |    CAST(coalesce(sum(CASE WHEN d = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS zeros
         |  FROM dj),
         |agg AS (SELECT * FROM aggd, aggw),
         |calc AS (
         |  SELECT *,
         |    CASE WHEN n > 1
         |      THEN sd / n / sqrt((sd2 - sd * sd / n) / (n - 1) / n) END AS traw,
         |    CAST(n - 1 AS DOUBLE) AS nud
         |  FROM agg),
         |tc AS (
         |  SELECT *, abs(traw) AS tabs,
         |    nud / (nud + abs(traw) * abs(traw)) AS u,
         |    CAST(floor(nud / 2) AS INTEGER) AS m
         |  FROM calc),
         |sums AS (
         |  SELECT *,
         |    ${fold(i => s"2 * $i - 1", i => s"2 * $i")} AS sume,
         |    ${fold(i => s"2 * $i", i => s"2 * $i + 1")} AS sumo
         |  FROM tc),
         |pv AS (
         |  SELECT *,
         |    CASE WHEN (n - 1) % 2 = 0
         |      THEN 0.5 + tabs / (2.0 * sqrt(nud + tabs * tabs)) * sume
         |      ELSE 0.5 + (${Sql.rnd("atan(tabs / sqrt(nud))", 9)} +
         |        tabs * sqrt(nud) / (nud + tabs * tabs) * sumo) / 3.141592653589793
         |    END AS fcdf,
         |    CAST(n AS DOUBLE) * (n + 1) / 4.0 AS mnw,
         |    CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0 -
         |      CAST(ties3 AS DOUBLE) / 48.0 AS vrw
         |  FROM sums),
         |wil AS (
         |  SELECT *, abs(wp - mnw) / sqrt(vrw) / sqrt(2.0) AS xw FROM pv)
         |SELECT n,
         |  ${Sql.rnd("traw", 4)} AS t_stat,
         |  n - 1 AS t_df,
         |  CASE WHEN n >= 2 AND (sd2 - sd * sd / n) > 0
         |    THEN ${Sql.rnd("2.0 * (1.0 - fcdf)", 6)} END AS paired_t_pvalue,
         |  ${Sql.rnd("wp", 4)} AS wilcoxon_w,
         |  CASE WHEN vrw > 0 AND (zeros > 0 OR NOT (n <= 50 AND ties3 = 0))
         |    THEN ${Sql.rnd(pw, 6)} END AS wilcoxon_pvalue
         |FROM wil, LATERAL (SELECT 1.0 / (1.0 + 0.3275911 * xw) AS tau,
         |  ${Sql.rnd("exp(-(xw * xw))", 9)} AS qexp) t""".stripMargin
    }

    val runSummaryRollup: String =
      s"""SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
        |  CAST(GROUPING(event_type, hour(ts)) AS BIGINT) AS gid,
        |  count(*) AS n,
        |  (floor((${Sql.fxAvg("value", 6)}) * 1e4 + 0.5e0) / 1e4) AS mean_v,
        |  (floor((min(value)) * 1e4 + 0.5e0) / 1e4) AS min_v,
        |  (floor((max(value)) * 1e4 + 0.5e0) / 1e4) AS max_v
        |FROM events
        |GROUP BY ROLLUP (event_type, hour(ts))""".stripMargin

    val runSummary: String =
      s"""SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
        |  count(*) AS n,
        |  (floor((${Sql.fxAvg("value", 6)}) * 1e4 + 0.5e0) / 1e4) AS mean_v,
        |  (floor((quantile_cont(value, 0.5)) * 1e4 + 0.5e0) / 1e4) AS median_v,
        |  (floor((min(value)) * 1e4 + 0.5e0) / 1e4) AS min_v,
        |  (floor((max(value)) * 1e4 + 0.5e0) / 1e4) AS max_v
        |FROM events GROUP BY event_type, hr""".stripMargin
  }
}
