package graft.tools

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev-only per-job decomposition probe (guide §1/§7): runs each named
  * query exactly as the bench does — ONE call `queries(name)(spark,
  * dir).count()` timed whole, so construction-phase jobs (iterative
  * walks' per-hop localCheckpoints, memoized fits) are covered — and
  * prints every Spark job's wall, task time, task count and call site.
  * Separates "how many serial jobs and what each costs" from the plan
  * shape PlanDump captures. Two passes per query; the second (warm)
  * pass's jobs are printed.
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JobProbe <dir> <query> [query...]")
    val dir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    final case class J(start: Long, var end: Long = -1L,
                       var site: String = "", var stages: Int = 0,
                       var tasks: Int = 0, var taskMs: Long = 0L)
    val jobs = new ConcurrentHashMap[Int, J]()
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    @volatile var record = false
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (record) {
        val j = J(e.time)
        j.site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        jobs.put(e.jobId, j)
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.end = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val sid = e.stageInfo.stageId
        val j = if (stageToJob.containsKey(sid)) jobs.get(stageToJob.get(sid)) else null
        if (j != null) {
          j.stages += 1
          j.tasks += e.stageInfo.numTasks
          j.taskMs += e.stageInfo.taskMetrics.executorRunTime
          if (j.site == "?" || j.site.isEmpty) j.site = e.stageInfo.name
        }
      }
    }
    spark.sparkContext.addSparkListener(l)
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => }
    args.drop(1).foreach { n =>
      def run(): Double = {
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      run() // cold: builds memoized scratch
      jobs.clear(); stageToJob.clear(); record = true
      val wall = run()
      record = false
      Thread.sleep(400)
      println(f"JOBQ $n warm_wall=$wall%7.3f s  n_jobs=${jobs.size}")
      import scala.jdk.CollectionConverters._
      jobs.asScala.toSeq.sortBy(_._1).foreach { case (id, j) =>
        val w = if (j.end > 0) (j.end - j.start) / 1000.0 else -1.0
        println(f"  job#$id%-4d wall=$w%7.3f s stages=${j.stages}%2d tasks=${j.tasks}%3d taskTime=${j.taskMs / 1000.0}%7.3f s  ${j.site}")
      }
      System.out.flush()
    }
    spark.stop()
  }
}
