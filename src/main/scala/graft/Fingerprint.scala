package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** What a memo key knows of a corpus's content: every file under its
  * directory, by path relative to it, length and modification time,
  * read by one recursive Hadoop listing on the driver (no Spark job).
  * Spark names the part files of every write afresh, so a corpus
  * rewritten in place under the same path gets a new fingerprint even
  * when its sizes and times repeat. A missing directory fingerprints as
  * empty, so the operator reading it raises its own error. */
final case class Fingerprint(files: Vector[(String, Long, Long)])

object Fingerprint {
  // the listing fixed by the innermost `within` on this thread; not
  // inherited, so a pooled thread never sees another call's listing
  private val current = new ThreadLocal[(String, Fingerprint)]

  /** `dir`'s fingerprint: the one an enclosing [[within]] of `dir` on
    * this thread listed, else a fresh listing. */
  def of(spark: SparkSession, dir: String): Fingerprint = current.get match {
    case (d, fp) if d == dir => fp
    case _ => list(spark, dir)
  }

  /** Runs `body` with `dir` listed once: every [[of]] of `dir` on this
    * thread inside `body` returns that listing, so one call's memo keys
    * all name the same corpus state. */
  def within[T](spark: SparkSession, dir: String)(body: => T): T = {
    val prior = current.get
    current.set(dir -> of(spark, dir))
    try body finally current.set(prior)
  }

  // listStatus per directory level, not listFiles: on the local file
  // system listFiles builds a LocatedFileStatus per file, whose owner and
  // permission fields are loaded by a shell command per file
  private def list(spark: SparkSession, dir: String): Fingerprint = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(root).toUri.getPath.stripSuffix("/")
    val files = Vector.newBuilder[(String, Long, Long)]
    def walk(p: Path): Unit = fs.listStatus(p).foreach { f =>
      if (f.isDirectory) walk(f.getPath)
      else files += ((f.getPath.toUri.getPath.stripPrefix(base), f.getLen, f.getModificationTime))
    }
    try walk(root) catch { case _: java.io.FileNotFoundException => }
    Fingerprint(files.result().sortBy(_._1))
  }
}
