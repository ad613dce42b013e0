package graft

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}
import org.apache.spark.sql.SparkSession

/** The session memo: every fit, index and retrieval arm graft builds
  * once per application and then serves every later query from —
  * parquet schemas, vocabulary and corpus-stat fits, PQ/OPQ codebooks
  * and rotations, exact ground-truth sets, the kNN doc graph, the
  * experiment and std-text arms, and the scratch index layouts.
  *
  * Key: (applicationId, artifact kind, the call site's arguments). One
  * SparkContext runs per JVM and no caller uses `newSession`, so the
  * application and the session coincide; on a miss, entries of any
  * other applicationId belong to a stopped application and are dropped.
  *
  * At most once: a build runs at most once per key. The first caller
  * builds outside the map lock; same-key callers wait on its result,
  * callers of other keys never queue behind it. A build that throws is
  * not memoized: its waiters see the same exception and the next caller
  * builds again.
  *
  * Eviction: LRU at [[Capacity]] entries. Dropping an entry drops the
  * memo's only reference, and Spark's ContextCleaner then reclaims a
  * checkpointed frame's blocks. An evicted scratch layout stays on disk
  * until JVM exit ([[Cleanup.onExit]]); a later call rebuilds it.
  *
  * Capacity: one application running all 148 declared queries on the
  * sf0.01 corpus (`graft.Verify`, oracle overlays included) peaks at 35
  * live entries; the whole test suite, one application in one JVM,
  * builds 109 distinct keys, so it would peak at 109 if it never
  * dropped one. 256 sits above both, so no existing caller evicts.
  *
  * Boundary: the key names a corpus by its path, not its content. A
  * corpus rewritten in place keeps its memoized artifacts until
  * [[clear]] or the end of the application. */
object Memo {
  val Capacity = 256

  private type Key = (String, String, Seq[Any])

  private val entries = new java.util.LinkedHashMap[Key, Any](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Any]): Boolean =
      size() > Capacity
  }
  private val inflight = new ConcurrentHashMap[Key, CompletableFuture[Any]]()

  /** The artifact `kind` of `args` in `spark`'s application, built by
    * `build` on a miss. */
  def apply[V](spark: SparkSession, kind: String, args: Any*)(build: => V): V =
    get(spark.sparkContext.applicationId, kind, args)(build)

  /** A scratch layout: `build` writes it under a fresh directory named
    * by `prefix` (removed at JVM exit); returns the layout's path. */
  def scratch(spark: SparkSession, prefix: String, args: Any*)(
      build: String => Unit): String =
    apply(spark, prefix, args: _*) {
      val p = Cleanup.onExit(java.nio.file.Files.createTempDirectory(prefix))
        .resolve("index").toString
      build(p)
      p
    }

  /** Drops every entry, of every application. */
  def clear(): Unit = entries.synchronized(entries.clear())

  private[graft] def get[V](app: String, kind: String, args: Seq[Any])(build: => V): V = {
    val key = (app, kind, args)
    val hit = entries.synchronized(entries.get(key))
    if (hit != null) return hit.asInstanceOf[V]
    val fresh = new CompletableFuture[Any]()
    val prior = inflight.putIfAbsent(key, fresh)
    if (prior != null)
      try prior.join().asInstanceOf[V]
      catch { case e: CompletionException => throw e.getCause }
    else
      try {
        // re-check: a racing owner may have finished between the miss
        // and the putIfAbsent
        val cur = entries.synchronized {
          entries.keySet.removeIf(_._1 != app)
          entries.get(key)
        }
        val v = if (cur != null) cur else {
          val built: Any = build
          entries.synchronized(entries.put(key, built))
          built
        }
        fresh.complete(v)
        v.asInstanceOf[V]
      } catch {
        case t: Throwable => fresh.completeExceptionally(t); throw t
      } finally inflight.remove(key)
  }
}
