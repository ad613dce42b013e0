package graft

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.sql.SparkSession

/** The session memo: every fit, index and retrieval arm graft builds
  * once per application and corpus state and then serves every later
  * query from — parquet schemas, vocabulary and corpus-stat fits,
  * PQ/OPQ codebooks and rotations, exact ground-truth sets, the kNN doc
  * graph, the experiment and std-text arms, the scratch index layouts —
  * and the prepared plans of the declared queries ([[Prepared]]).
  *
  * Key: (applicationId, artifact kind, corpus directory, the corpus's
  * [[Fingerprint]], the call site's other arguments). One SparkContext
  * runs per JVM and no caller uses `newSession`, so the application and
  * the session coincide; on a miss, entries of any other applicationId
  * belong to a stopped application and are dropped.
  *
  * Validity: an entry is served only while its corpus lists the same
  * files, with the same lengths and modification times, as when it was
  * built. A corpus rewritten in place under the same path lists new
  * part files, so every later call misses and builds against the new
  * content; the old entries are never served again and age out of the
  * LRU. A prepared plan's key also holds the session's SQL conf, so a
  * conf that analysis reads cannot serve a plan analyzed under another.
  *
  * At most once: a build runs at most once per key. The first caller
  * builds outside the map lock; same-key callers wait on its result,
  * callers of other keys never queue behind it. A build that throws is
  * not memoized: its waiters see the same exception and the next caller
  * builds again.
  *
  * Eviction: one LRU of [[Capacity]] entries for artifacts and another
  * for prepared plans, so no plan ever pushes out an artifact. Dropping
  * an entry drops the memo's only reference, and Spark's ContextCleaner
  * then reclaims a checkpointed frame's blocks. An evicted scratch
  * layout stays on disk until JVM exit ([[Cleanup.onExit]]); a later
  * call rebuilds it.
  *
  * Capacity: one application running all 148 declared queries on the
  * sf0.01 corpus (`graft.Verify`, oracle overlays included) peaks at 35
  * live artifacts and 145 prepared plans, so it evicts nothing. The
  * whole test suite, one application in one JVM, builds 788 artifacts
  * and 975 plans in all: its specs write many corpora, rewrite some in
  * place and clear the memo, and `MemoSpec` fills each LRU past 256
  * with keys of its own to test eviction. An eviction costs a rebuild,
  * never a stale entry.
  *
  * Counters: hits, misses, builds and build time per kind since JVM
  * start, read as one [[snapshot]]. A miss either builds or waits on a
  * racing caller's build. */
object Memo {
  val Capacity = 256

  /** The kind of a declared query's prepared plan. */
  val Prepared = "prepared"

  private type Key = (String, String, Seq[Any])

  private final class Lru extends java.util.LinkedHashMap[Key, Any](16, 0.75f, true) {
    var peak = 0
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Any]): Boolean =
      size() > Capacity
  }
  // both guarded by `artifacts`' monitor
  private val artifacts = new Lru
  private val plans = new Lru
  private def lru(kind: String): Lru = if (kind == Prepared) plans else artifacts
  private val inflight = new ConcurrentHashMap[Key, CompletableFuture[Any]]()

  private final class Tally {
    val hits, misses, builds, buildNs = new LongAdder
  }
  private val tallies = new ConcurrentHashMap[String, Tally]()
  private def tally(kind: String): Tally = tallies.computeIfAbsent(kind, _ => new Tally)

  /** One kind's use since JVM start. */
  final case class Counts(hits: Long, misses: Long, builds: Long, buildMs: Long)

  /** Every kind's [[Counts]], and the most entries each LRU has held. */
  final case class Snapshot(kinds: Map[String, Counts], peakArtifacts: Int, peakPlans: Int)

  def snapshot: Snapshot = {
    val kinds = Map.newBuilder[String, Counts]
    tallies.forEach { (k, t) =>
      kinds += k -> Counts(t.hits.sum, t.misses.sum, t.builds.sum, t.buildNs.sum / 1000000L)
    }
    artifacts.synchronized(Snapshot(kinds.result(), artifacts.peak, plans.peak))
  }

  /** The artifact `kind` of the corpus at `dir` and `args` in `spark`'s
    * application, built by `build` on a miss. */
  def apply[V](spark: SparkSession, kind: String, dir: String, args: Any*)(build: => V): V =
    get(spark.sparkContext.applicationId, kind, dir +: Fingerprint.of(spark, dir) +: args)(build)

  /** A scratch layout of the corpus at `dir`: `build` writes it under a
    * fresh directory named by `prefix` (removed at JVM exit); returns
    * the layout's path. */
  def scratch(spark: SparkSession, prefix: String, dir: String, args: Any*)(
      build: String => Unit): String =
    scratchWith(spark, prefix, dir, args: _*)(build)._1

  /** [[scratch]] whose build also returns a value memoized with the
    * layout (a fit pinned while building it). */
  def scratchWith[V](spark: SparkSession, prefix: String, dir: String, args: Any*)(
      build: String => V): (String, V) =
    apply(spark, prefix, dir, args: _*) {
      val p = Cleanup.onExit(java.nio.file.Files.createTempDirectory(prefix))
        .resolve("index").toString
      (p, build(p))
    }

  /** Drops every entry, of every application. */
  def clear(): Unit = artifacts.synchronized { artifacts.clear(); plans.clear() }

  private[graft] def get[V](app: String, kind: String, args: Seq[Any])(build: => V): V = {
    val key = (app, kind, args)
    val counts = tally(kind)
    val hit = artifacts.synchronized(lru(kind).get(key))
    if (hit != null) {
      counts.hits.increment()
      return hit.asInstanceOf[V]
    }
    counts.misses.increment()
    val fresh = new CompletableFuture[Any]()
    val prior = inflight.putIfAbsent(key, fresh)
    if (prior != null)
      try prior.join().asInstanceOf[V]
      catch { case e: CompletionException => throw e.getCause }
    else
      try {
        // re-check: a racing owner may have finished between the miss
        // and the putIfAbsent
        val cur = artifacts.synchronized {
          artifacts.keySet.removeIf(_._1 != app)
          plans.keySet.removeIf(_._1 != app)
          lru(kind).get(key)
        }
        val v = if (cur != null) cur else {
          counts.builds.increment()
          val t0 = System.nanoTime()
          val built: Any = try build finally counts.buildNs.add(System.nanoTime() - t0)
          artifacts.synchronized {
            val m = lru(kind)
            m.put(key, built)
            m.peak = math.max(m.peak, m.size)
          }
          built
        }
        fresh.complete(v)
        v.asInstanceOf[V]
      } catch {
        case t: Throwable => fresh.completeExceptionally(t); throw t
      } finally inflight.remove(key)
  }
}
