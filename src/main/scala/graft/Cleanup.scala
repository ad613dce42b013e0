package graft

/** JVM-exit removal of scratch directories. Operators that materialize
  * bench-local artifacts (memoized postings indexes, round-trip
  * format scratch) register their base dirs here; one shutdown hook
  * sweeps them so repeated apps in one JVM — and repeated JVMs on one
  * host — never accumulate parquet under /tmp. Deliberately
  * best-effort: a failed delete must not mask the app's own exit. */
object Cleanup {
  // a keySet, not a queue: repeat registrations of the same base (the
  // deterministic round-trip scratch re-registers per query run) must
  // not grow exit-time work — one sweep per distinct directory
  private lazy val registered = {
    val s = java.util.concurrent.ConcurrentHashMap
      .newKeySet[java.nio.file.Path]()
    Runtime.getRuntime.addShutdownHook(new Thread(() => s.forEach { base =>
      try java.nio.file.Files.walk(base)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      catch { case _: Throwable => }
    }))
    s
  }

  /** Registers `path` for recursive removal at JVM exit (idempotent);
    * returns it. */
  def onExit(path: java.nio.file.Path): java.nio.file.Path = {
    registered.add(path)
    path
  }

  /** Snapshot of the currently registered scratch roots — the bench's
    * page-cache pre-touch (VERDICT r15 §next-1) reads these plus the
    * sf inputs before each timed warm pass, so a query's persisted
    * scratch index is in one known cache state on every host. */
  def registeredPaths: Seq[java.nio.file.Path] = {
    val b = Seq.newBuilder[java.nio.file.Path]
    registered.forEach(p => b += p)
    b.result()
  }
}
