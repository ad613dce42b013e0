package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Dev-only measurement probe for the optimization rounds (guide §1):
  * for each named query, dump `.explain("formatted")` to
  * `<outDir>/<name>_<tag>.txt` and print one stats line — executed-plan
  * operator counts (Exchange / BroadcastExchange / ReusedExchange /
  * FileScan / WholeStageCodegen spans) plus runtime job/stage/task
  * counts and summed task time from a listener — so plan-shape claims
  * in OPTIMIZATION_r16.md are backed by committed files and the
  * wall-vs-task-time split separates scheduling floor from compute.
  *
  * Args: <dataDir> <outDir> <tag> <query> [query...]. Timing here is
  * indicative only (one warm pass); bench numbers stay the contract.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanDump <dir> <outDir> <tag> <query>...")
    val dir = args(0); val outDir = args(1); val tag = args(2)
    val names = args.drop(3).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskMs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskMetrics != null)
          taskMs.addAndGet(e.taskMetrics.executorRunTime)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // final ADAPTIVE plan of the last completed action (the count):
    // the df's own queryExecution is never executed by count(), so
    // runtime facts — AQE join conversions, exchange/stage reuse —
    // are only visible here
    val lastPlan = new java.util.concurrent.atomic.AtomicReference[String]("")
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               durationNs: Long): Unit =
          lastPlan.set(qe.executedPlan.toString)
        override def onFailure(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               exception: Exception): Unit = ()
      })
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => }
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, dir)
      df.count() // warm pass: codegen + any memoized index build
      val df2 = graft.SparkEntry.queries(n)(spark, dir)
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
      val t0 = System.nanoTime()
      df2.count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // drain listener bus
      // executedPlan AFTER the action so AQE's final plan is captured
      val planStr = df2.queryExecution.executedPlan.toString
      val formatted = df2.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${n}_$tag.txt"), formatted)
      Thread.sleep(200)
      val fin = lastPlan.get()
      Files.writeString(Paths.get(s"$outDir/${n}_$tag.final.txt"), fin)
      def cf(pat: String): Int = pat.r.findAllIn(fin).length
      def c(pat: String): Int = pat.r.findAllIn(planStr).length
      println(s"PLANF $n reusedExchange=${cf("ReusedExchange")} " +
        s"reusedStage=${cf("ReusedQueryStage")} shuffleStages=${cf("ShuffleQueryStage")} " +
        s"bcastStages=${cf("BroadcastQueryStage")} smjF=${cf("SortMergeJoin")} " +
        s"bhjF=${cf("BroadcastHashJoin")} scansF=${cf("FileScan parquet")}")
      println(f"PLANQ $n%-28s wall=$wall%7.3f s  taskTime=${taskMs.get / 1000.0}%8.3f s  " +
        s"jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get}  " +
        s"shuffleEx=${c("Exchange hashpartitioning") + c("Exchange rangepartitioning") + c("Exchange SinglePartition")} " +
        s"bcastEx=${c("BroadcastExchange")} reused=${c("ReusedExchange")} " +
        s"scans=${c("FileScan parquet")} wscg=${c("WholeStageCodegen")} " +
        s"smj=${c("SortMergeJoin")} shj=${c("ShuffledHashJoin")} bhj=${c("BroadcastHashJoin")} " +
        s"bnlj=${c("BroadcastNestedLoopJoin")} cart=${c("CartesianProduct")}")
      System.out.flush()
    }
    spark.stop()
  }
}
