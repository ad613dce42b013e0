package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Crash-safe writes of the fit-carrying flat index layouts. */
object Compaction {

  /** Staged build-and-swap for the fit-carrying flat layouts
    * ([[Ann.writePqIndex]] / [[Ann.writeSq8Index]] /
    * [[Encoders.writeTfidfIndex]]): `build(tmp)` writes the WHOLE
    * layout — codes/postings first, the `_fit`/`_vocab` metadata
    * LAST — into a `.__building` staging dir, and only a complete
    * build is swapped over the serving path. Closes the
    * codes-without-fit crash window of the naive two-job overwrite
    * (the first job's overwrite wipes the previous `_fit`; a crash
    * before the second leaves an index whose reads fail until a full
    * rebuild). Properties: the previous index stays
    * readable for the entire build; no crash point leaves a PARTIAL
    * layout under the serving path — the only exposed instant is
    * between the delete and the rename, which reads as loud
    * PATH_NOT_FOUND, and the next build call heals it. A leftover
    * staging dir is always DISCARDED, never promoted: a build's source
    * may have changed since the orphan was staged, so a fresh build is
    * the only always-correct recovery. */
  def stagedBuild(spark: SparkSession, out: String)(
      build: String => Unit): Unit = {
    val p = new Path(out)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(out + ".__building")
    if (fs.exists(tmp)) fs.delete(tmp, true) // stale crashed build
    build(tmp.toString)
    if (fs.exists(p)) fs.delete(p, true)
    // Hadoop rename reports failure by RETURNING false, not throwing —
    // swallowing it here would leave no serving index while the staged
    // build sits in a .__building dir the next call discards (ADVICE
    // r14: a silent data-loss window). Fail loudly instead.
    require(fs.rename(tmp, p), s"failed to promote staged build $tmp -> $p")
  }
}
