package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions._

/** General relational/analytics surface (the reference aggregates run
  * metrics with pandas group-bys, e.g. experiments/
  * produce_h3_summary_and_plots.py; here re-expressed over the TPC-H-ish
  * driver tables as declarative Catalyst plans).
  *
  * Scale notes: aggregates get map-side partial aggregation for free;
  * dimension joins are explicitly broadcast; window top-n shuffles once
  * on the partition key.
  */
object Relational {

  /** Pricing-summary shape (scan → filter → groupBy → agg). Money/
    * quantity sums use fixed-point longs ([[graft.functions.fxSum]]) so
    * the result is independent of accumulation order — a raw double sum
    * is ULP-order-dependent and could flip a value across a rounding
    * half-boundary under different partitioning. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 0)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        rnd(fxSum(col("l_quantity")), 2).as("sum_qty"),
        rnd(fxSum(col("l_extendedprice")), 2).as("sum_base_price"),
        rnd(fxSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        rnd(fxAvg(col("l_quantity")), 4).as("avg_qty"),
        rnd(fxAvg(col("l_discount"), 6), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** customer ⋈ orders ⋈ lineitem revenue per order; dims broadcast. */
  def q3JoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(spark, dir).select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey")
      .agg(rnd(fxSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(desc("revenue"), col("l_orderkey"))
      .limit(100)
  }

  /** Window-function top-n: top 3 orders by totalprice per customer
    * (single shuffle on o_custkey; ties broken by o_orderkey). */
  def windowTopN(spark: SparkSession, dir: String, n: Int = 3): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= n)
      .select(col("o_custkey"), col("o_orderkey"),
        rnd(col("o_totalprice"), 2).as("o_totalprice"),
        col("rnk").cast("long").as("rnk"))
      .orderBy("o_custkey", "rnk")
  }

  /** Upsert compaction: last write wins per key (the semantics of the
    * ref's vector-store `batch_upsert`, pinecone/client.py:40-66 — a
    * later upsert of the same id replaces the earlier one). Expressed
    * as max_by on a (ts, event_id) struct — lexicographic struct max =
    * latest write, ties to the higher event_id — so each map task
    * reduces to one row per key before the single shuffle (a window
    * row_number here would sort-shuffle the whole log). */
  def latestByKey(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(max_by(
        struct(col("event_id"), col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("e"))
      .select(col("user_id"), col("e.event_id").as("event_id"),
        col("e.event_type").as("event_type"),
        rnd(col("e.value"), 4).as("value"))

  /** As-of join: for every 'click' event, the most recent 'view' of
    * the same user at-or-before its timestamp (NULLs when none) — the
    * classic event-attribution query Spark has no native operator for.
    *
    * Expressed WITHOUT a range self-join (whose per-user expansion is
    * clicks×views): both event kinds flow through ONE user-keyed
    * window, and each click reads the running `last` non-null view via
    * ignoreNulls — one shuffle of the filtered log, O(1) state per row,
    * no pair expansion at any skew. Ties break on (ts, event_id). */
  def asofJoin(spark: SparkSession, dir: String,
               kindA: String = "click", kindB: String = "view"): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .filter(col("event_type").isin(kindA, kindB))
      .withColumn("_pv",
        last(when(col("event_type") === kindB,
          struct(col("event_id"), col("ts"))), ignoreNulls = true).over(w))
      .filter(col("event_type") === kindA)
      .select(col("event_id").as("click_id"), col("user_id"),
        col("_pv.event_id").as("view_id"),
        (unix_millis(col("ts")) - unix_millis(col("_pv.ts"))).as("gap_ms"))
  }

  /** Range join: all (click, view) pairs of the same user within
    * ±`boundMin` minutes. A raw |Δt| ≤ W join predicate plans a
    * nested-loop/cartesian in Spark; instead the click side emits its
    * time bucket and both neighbors (bucket width = W, so any in-range
    * pair differs by ≤ 1 bucket and each pair meets in EXACTLY one —
    * no dedup pass), making the join a plain equi-join on
    * (user, bucket) with a final |Δt| filter. PlanSpec asserts no
    * CartesianProduct/BroadcastNestedLoopJoin. */
  def rangeJoin(spark: SparkSession, dir: String, kindA: String = "click",
                kindB: String = "view", boundMin: Int = 10): DataFrame = {
    val W = boundMin * 60000L
    val e = Tables.events(spark, dir)
    val a = e.filter(col("event_type") === kindA)
      .select(col("event_id").as("click_id"), col("user_id"),
        unix_millis(col("ts")).as("a_ms"))
      .withColumn("bucket", explode(array(
        floor(col("a_ms") / W).cast("long") - 1,
        floor(col("a_ms") / W).cast("long"),
        floor(col("a_ms") / W).cast("long") + 1)))
    val b = e.filter(col("event_type") === kindB)
      .select(col("event_id").as("view_id"), col("user_id"),
        unix_millis(col("ts")).as("b_ms"))
      .withColumn("bucket", floor(col("b_ms") / W).cast("long"))
    a.join(b, Seq("user_id", "bucket"))
      .filter(abs(col("a_ms") - col("b_ms")) <= W)
      .select(col("click_id"), col("user_id"), col("view_id"),
        (col("a_ms") - col("b_ms")).as("delta_ms"))
  }

  /** Semi/anti-join surface (TPC-H Q22's customers-without-orders
    * shape): per market segment, how many customers have vs have no
    * orders, plus the idle segment's total account balance. Both
    * existence checks run in ONE left-semi-style pass: the DISTINCT
    * order custkeys aggregate first (map-side combined, far smaller
    * than the order log), then a single left join classifies each
    * customer — no row multiplication (custkey is unique on the right
    * after the distinct), no second scan of orders. */
  def semiAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val withOrders = Tables.orders(spark, dir)
      .select(col("o_custkey")).distinct()
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .join(withOrders, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_mktsegment")
      .agg(
        sum(when(col("o_custkey").isNotNull, 1L).otherwise(0L)).as("n_with_orders"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_without_orders"),
        rnd(fxSum(when(col("o_custkey").isNull, col("c_acctbal")).otherwise(0.0)), 2)
          .as("idle_acctbal"))
  }

  /** Small-quantity revenue per brand (the TPC-H Q17 pattern): lineitems
    * whose quantity is under half their part's average quantity, i.e. a
    * correlated aggregate subquery, DECORRELATED by hand into the plan
    * Spark would want at 100 TB — the per-part average is a keyed
    * (map-side-combined) groupBy on l_partkey, re-joined to lineitem on
    * the same key so the two shuffles share partitioning, then the part
    * dimension joins on its key for the brand. No correlated re-scan
    * per outer row, which is what a naive subquery would execute. The
    * per-part average is a fixed-point sum — order-free, so the filter
    * threshold is bit-identical on any partitioning. */
  def smallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val avgQty = li.groupBy("l_partkey").agg(fxAvg(col("l_quantity"), 6).as("avg_qty"))
    li.select("l_partkey", "l_quantity", "l_extendedprice")
      .join(avgQty, "l_partkey")
      .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
      .join(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_small"),
        rnd(fxSum(col("l_extendedprice"), 2) / lit(7.0), 2).as("avg_yearly"))
  }

  /** Top supplier(s) by lineitem revenue (the TPC-H Q15 pattern — a
    * correlated max subquery): per-supplier revenue is one keyed
    * fixed-point groupBy; the global maximum is a SINGLE-ROW aggregate
    * broadcast back over the (one row per supplier) revenue frame as a
    * filter — argmax with no global sort and no window, and revenue
    * ties all surface. The double equality in the join
    * is safe because fxSum yields exact multiples of 0.01 on both
    * engines. */
  def topSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .groupBy("l_suppkey")
      .agg(fxSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 2)
        .as("total_rev"))
    val mx = rev.agg(max("total_rev").as("max_rev"))
    rev.join(broadcast(mx), col("total_rev") === col("max_rev"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), rnd(col("total_rev"), 2).as("total_rev"))
  }

  /** Exact distinct counts over several columns in one pass. */
  def distinctCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(col("o_orderstatus")).as("n_status"),
        countDistinct(col("o_orderpriority")).as("n_prio"),
        count(lit(1)).as("n_rows"))

  /** The event-type values pivoted by [[pivotDaily]] — fixed and shared
    * with the oracle, so the pivot compiles in ONE pass (pivot without
    * explicit values runs an extra distinct job over the corpus just to
    * learn the columns, then the real aggregation — at 100 TB that is a
    * full extra scan, and nondeterministic columns besides). */
  val pivotTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** Daily event matrix — the long→wide reshaping every ops dashboard
    * runs (one row per day, one column pair per event type), as
    * EXPLICIT conditional aggregation rather than the `pivot` API:
    * Spark plans `pivot` (even with explicit values) as TWO aggregates
    * (groupBy(day, type) then PivotFirst — an extra shuffle), whereas
    * conditional aggregation is ONE map-side-combinable groupBy on day
    * over one scan — the shape PlanSpec pins. Empty (day, type) cells
    * are a literal 0 by construction; sums are fixed-point
    * ([[graft.functions.fxSum]]) so the wide columns hash-match the
    * oracle under any partitioning. */
  def pivotDaily(spark: SparkSession, dir: String): DataFrame = {
    val aggs = pivotTypes.flatMap { t =>
      val isT = col("event_type") === t
      Seq(
        sum(when(isT, 1L).otherwise(0L)).as(s"${t}_cnt"),
        rnd(coalesce(
          fxSum(when(isT, col("value"))), lit(0.0)), 2).as(s"${t}_val"))
    }
    Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("event_type"), col("value"))
      .groupBy("day")
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("day")
  }

  object SqlOracle {
    val q1Agg: String =
      s"""SELECT l_returnflag, l_linestatus,
        |  (floor((${Sql.fxSum("l_quantity")}) * 1e2 + 0.5e0) / 1e2) AS sum_qty,
        |  (floor((${Sql.fxSum("l_extendedprice")}) * 1e2 + 0.5e0) / 1e2) AS sum_base_price,
        |  (floor((${Sql.fxSum("l_extendedprice * (1.0 - l_discount)")}) * 1e2 + 0.5e0) / 1e2) AS sum_disc_price,
        |  (floor((${Sql.fxAvg("l_quantity")}) * 1e4 + 0.5e0) / 1e4) AS avg_qty,
        |  (floor((${Sql.fxAvg("l_discount", 6)}) * 1e6 + 0.5e0) / 1e6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_quantity > 0
        |GROUP BY l_returnflag, l_linestatus""".stripMargin

    val q3JoinAgg: String =
      s"""SELECT l_orderkey,
        |  (floor((${Sql.fxSum("l_extendedprice * (1.0 - l_discount)")}) * 1e2 + 0.5e0) / 1e2) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 100""".stripMargin

    val windowTopN: String =
      """SELECT o_custkey, o_orderkey, (floor((o_totalprice) * 1e2 + 0.5e0) / 1e2) AS o_totalprice, rnk
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3
        |ORDER BY o_custkey, rnk""".stripMargin

    def asofJoin(kindA: String = "click", kindB: String = "view"): String =
      s"""WITH e AS (
         |  SELECT event_id, user_id, ts, event_type FROM ${Sql.eventsUs} ev
         |  WHERE event_type IN ('$kindA', '$kindB')),
         |x AS (
         |  SELECT event_id, user_id, ts, event_type,
         |    last_value(CASE WHEN event_type = '$kindB'
         |        THEN {'id': event_id, 'ts': ts} END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv
         |  FROM e)
         |SELECT event_id AS click_id, user_id, pv.id AS view_id,
         |  CAST(epoch_ms(ts) - epoch_ms(pv.ts) AS BIGINT) AS gap_ms
         |FROM x WHERE event_type = '$kindA'""".stripMargin

    def rangeJoin(kindA: String = "click", kindB: String = "view",
                  boundMin: Int = 10): String = {
      val w = boundMin * 60000L
      s"""WITH a AS (
         |  SELECT event_id AS click_id, user_id, epoch_ms(ts) AS a_ms
         |  FROM ${Sql.eventsUs} ev WHERE event_type = '$kindA'),
         |b AS (
         |  SELECT event_id AS view_id, user_id, epoch_ms(ts) AS b_ms
         |  FROM ${Sql.eventsUs} ev WHERE event_type = '$kindB')
         |SELECT click_id, user_id, view_id,
         |  CAST(a_ms - b_ms AS BIGINT) AS delta_ms
         |FROM a JOIN b USING (user_id)
         |WHERE abs(a_ms - b_ms) <= $w""".stripMargin
    }

    val latestByKey: String =
      s"""SELECT user_id, event_id, event_type,
        |  (floor((value) * 1e4 + 0.5e0) / 1e4) AS value
        |FROM (
        |  SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS r
        |  FROM ${graft.functions.Sql.eventsUs} events)
        |WHERE r = 1""".stripMargin

    val semiAntiJoin: String =
      s"""WITH wo AS (SELECT DISTINCT o_custkey FROM orders)
         |SELECT c_mktsegment,
         |  CAST(sum(CASE WHEN wo.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_orders,
         |  CAST(sum(CASE WHEN wo.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_without_orders,
         |  ${Sql.rnd(Sql.fxSum("CASE WHEN wo.o_custkey IS NULL THEN c_acctbal ELSE 0.0e0 END"), 2)} AS idle_acctbal
         |FROM customer LEFT JOIN wo ON c_custkey = wo.o_custkey
         |GROUP BY c_mktsegment""".stripMargin

    val smallQtyRevenue: String =
      s"""WITH a AS (
         |  SELECT l_partkey, ${Sql.fxAvg("l_quantity", 6)} AS avg_qty
         |  FROM lineitem GROUP BY l_partkey)
         |SELECT p_brand, count(*) AS n_small,
         |  ${Sql.rnd(s"(${Sql.fxSum("l_extendedprice", 2)}) / 7.0e0", 2)} AS avg_yearly
         |FROM lineitem l
         |JOIN a USING (l_partkey)
         |JOIN part ON p_partkey = l_partkey
         |WHERE l_quantity < 0.5e0 * avg_qty
         |GROUP BY p_brand""".stripMargin

    val topSupplier: String =
      s"""WITH rev AS (
         |  SELECT l_suppkey,
         |    ${Sql.fxSum("l_extendedprice * (1.0e0 - l_discount)", 2)} AS total_rev
         |  FROM lineitem GROUP BY l_suppkey),
         |mx AS (SELECT max(total_rev) AS max_rev FROM rev)
         |SELECT s_suppkey, s_name, ${Sql.rnd("total_rev", 2)} AS total_rev
         |FROM rev JOIN mx ON total_rev = max_rev
         |JOIN supplier ON l_suppkey = s_suppkey""".stripMargin

    val distinctCounts: String =
      """SELECT count(DISTINCT o_custkey) AS n_cust,
        |  count(DISTINCT o_orderstatus) AS n_status,
        |  count(DISTINCT o_orderpriority) AS n_prio,
        |  count(*) AS n_rows
        |FROM orders""".stripMargin

    /** FILTER-clause conditional aggregation — exactly what Spark's
      * explicit-values pivot rewrites to. Spark names multi-agg pivot
      * columns `{value}_{alias}`. */
    val pivotDaily: String = {
      val cols = pivotTypes.map { t =>
        s"""  count(*) FILTER (WHERE event_type = '$t') AS ${t}_cnt,
           |  coalesce(${Sql.rnd(s"CAST(sum(CAST(floor((value) * 1e4 + 0.5e0) AS BIGINT)) FILTER (WHERE event_type = '$t') AS BIGINT) / 1e4", 2)}, 0.0e0) AS ${t}_val""".stripMargin
      }.mkString(",\n")
      s"""SELECT CAST(ts AS DATE) AS day,
         |$cols
         |FROM ${Sql.eventsUs} events
         |GROUP BY day ORDER BY day""".stripMargin
    }
  }
}
