package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import graft.{Cleanup, SparkEntry}

/** One benchmark run in a fresh JVM. It sets up once (session, corpus,
  * page-cache touch, one untimed call), runs a cold pass, settle passes and
  * then timed warm passes over the workload's queries, reads the end-of-run
  * memory and scratch figures, and finally writes every query's output for
  * the oracle check. Everything measured goes into one JSON report; run.py
  * turns it into metrics and runs the check.
  *
  * Each call is one `SparkEntry.queries(q)(spark, dir)` followed by a
  * `noop` write, the action that materializes every row and column.
  *
  * Usage: Main --workload floor|data --seed N --seconds S --trace 0|1
  *             --work DIR
  */
object Main {
  /** Untraced and traced warm pass pairs in a trace run, after the
    * workload's settle passes. */
  val TracedPairs = 2

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Call(q: String, pass: Int, traced: Boolean, startMs: Long,
                        endMs: Long, wallS: Double, buildS: Double,
                        actionS: Double, analysisMs: Long, newRoots: Int,
                        error: String)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.byName(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath.toString
    val cpus = Runtime.getRuntime.availableProcessors

    // --- set-up: session, corpus, page-cache touch, one untimed call ---
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val marks = ArrayBuffer[(String, Double)]()
    def mark(step: String): Unit =
      marks += step -> (System.currentTimeMillis - jvmStart) / 1e3
    mark("jvm")
    val spark = session(work, cpus)
    mark("session")
    val dir = s"$work/corpus"
    wl.generate(spark, dir, seed)
    mark("generate")
    touch(Paths.get(dir))
    mark("touch")
    noop(SparkEntry.queries(Workloads.WarmUp)(spark, dir))
    mark("warm_up")
    val setupS = marks.last._2

    // --- timed passes ---
    val rng = new scala.util.Random(seed)
    val trace = if (traced) Some(new Trace(spark)) else None
    val calls = ArrayBuffer[Call]()
    val passWalls = ArrayBuffer[(Int, Boolean, Double)]()
    def pass(p: Int, withTrace: Boolean): Unit = {
      if (withTrace) trace.foreach(_.attach())
      val t0 = System.nanoTime()
      rng.shuffle(wl.queries).foreach(q => calls += call(spark, dir, q, p, withTrace))
      passWalls += ((p, withTrace, (System.nanoTime() - t0) / 1e9))
      if (withTrace) trace.foreach(_.detach())
    }
    val timed0 = System.nanoTime()
    def elapsed = (System.nanoTime() - timed0) / 1e9
    pass(0, traced)
    // settle passes are warm, but run while the JIT still compiles the hot
    // paths; they are recorded and left out of the warm figures
    (1 to wl.settlePasses).foreach(pass(_, false))
    // a fixed number of timed passes: later passes keep getting faster, so
    // a run that fit in more passes would read lower
    val first = wl.settlePasses + 1
    if (!traced) (first until first + wl.timedPasses).foreach(pass(_, false))
    else
      // passes keep getting faster, so the pairs that give the trace
      // overhead alternate untraced-traced, traced-untraced
      for (k <- 0 until TracedPairs; j <- 0 to 1)
        pass(first + 2 * k + j, (j == 1) != (k % 2 == 1))
    val timedS = elapsed
    if (timedS < seconds)
      System.err.println(f"perfbench: timed passes took $timedS%.1f s, under --seconds $seconds%.0f")

    // --- end-of-run accounting, after a forced full GC ---
    val roots = Cleanup.registeredPaths
    val scratchBytes = roots.map(sizeOf).sum
    forceGc(spark)
    val pinnedBytes = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    val liveHeap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val kernels = if (traced) KernelProbe.run(spark, dir) else Map.empty[String, Double]
    val layers = trace.map(_.attribute(calls.toSeq.filter(_.traced)
      .map(c => (c.startMs, c.endMs)))).getOrElse(Nil)

    // --- untimed output dump for the oracle check ---
    val check0 = System.nanoTime()
    val checkDir = s"$work/check"
    val checkErrors = wl.queries.flatMap { q =>
      try {
        SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$checkDir/$q")
        None
      } catch { case e: Throwable => Some(q -> errText(e)) }
    }.toMap
    // the static oracle contract: Verify.oracleSqlFor only adds literal
    // overlays fitted from the corpus (OPQ and PQ codebooks, idf tables),
    // which cost about 20 s a run, and no workload query has one
    val oracles = SparkEntry.oracleSql.filter(kv => wl.queries.contains(kv._1))
    Files.createDirectories(Paths.get(checkDir))
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"), json.writeValueAsString(oracles))
    val checkS = (System.nanoTime() - check0) / 1e9

    val report = Map(
      "workload" -> wl.name, "seed" -> seed, "trace" -> traced, "cpus" -> cpus,
      "corpus_kind" -> wl.corpus, "corpus" -> dir, "check_dir" -> checkDir,
      "setup_s" -> setupS, "setup_marks_s" -> marks.toMap, "timed_s" -> timedS,
      "settle_passes" -> wl.settlePasses,
      "check_s" -> checkS,
      "passes" -> passWalls.toSeq.map { case (p, t, w) =>
        Map("pass" -> p, "traced" -> t, "wall_s" -> w) },
      "calls" -> calls.toSeq.map(c => Map(
        "q" -> c.q, "module" -> Workloads.module(c.q),
        "family" -> Workloads.family(Workloads.module(c.q)), "pass" -> c.pass,
        "traced" -> c.traced, "wall_s" -> c.wallS, "build_s" -> c.buildS,
        "action_s" -> c.actionS, "plan_analysis_ms" -> c.analysisMs,
        "new_roots" -> c.newRoots, "error" -> c.error)),
      "layers" -> layers,
      "scratch_roots" -> roots.size, "scratch_bytes" -> scratchBytes,
      "pinned_bytes" -> pinnedBytes, "live_heap_bytes" -> liveHeap,
      "kernels_ns" -> kernels, "check_errors" -> checkErrors)
    Files.writeString(Paths.get(s"$work/report.json"), json.writeValueAsString(report))
    spark.stop()
  }

  private def session(work: String, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def call(spark: SparkSession, dir: String, q: String, pass: Int,
                   traced: Boolean): Call = {
    val roots0 = Cleanup.registeredPaths.size
    val w0 = System.currentTimeMillis
    val t0 = System.nanoTime()
    var tb = -1L
    var analysisMs = 0L
    val err =
      try {
        val df = SparkEntry.queries(q)(spark, dir)
        tb = System.nanoTime()
        // the built plan is analyzed eagerly, inside the build; the
        // action's own plan wraps it and re-analyzes almost nothing
        analysisMs = df.queryExecution.tracker.phases.get("analysis")
          .map(_.durationMs).getOrElse(0L)
        noop(df)
        ""
      } catch { case e: Throwable => errText(e) }
    val t1 = System.nanoTime()
    val w1 = System.currentTimeMillis
    if (tb < 0) tb = t1
    Call(q, pass, traced, w0, w1, (t1 - t0) / 1e9, (tb - t0) / 1e9, (t1 - tb) / 1e9,
      analysisMs, Cleanup.registeredPaths.size - roots0, err)
  }

  private def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  private def sizeOf(p: Path): Long = files(p).map(Files.size).sum

  private def touch(p: Path): Unit = files(p).foreach(Files.readAllBytes)

  /** Full GC twice, with the listener bus drained in between, so the
    * ContextCleaner has released every RDD whose frame is unreachable. */
  private def forceGc(spark: SparkSession): Unit = {
    for (_ <- 1 to 2) {
      System.gc()
      Thread.sleep(200)
      org.apache.spark.BenchBus.drain(spark.sparkContext)
    }
  }
}
