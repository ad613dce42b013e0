package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{HashP, Kernels, tokens}

/** Single-thread direct calls into the public [[Kernels]] methods on
  * vectors and token arrays taken from the run's own corpus. Each result
  * is nanoseconds per input element: per vector component for the
  * vector kernels, per byte for `polyHash`, per token for the rest. */
object KernelProbe {
  private val WarmNs = 100000000L
  private val TimedNs = 250000000L

  def run(spark: SparkSession, dir: String): Map[String, Double] = {
    val vecs: Array[ArrayData] = graft.Tables.embeddings(spark, dir)
      .select(col("embedding")).limit(512).collect()
      .map(r => UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](0).toArray))
    val docs = graft.Tables.documents(spark, dir)
      .select(col("text"), tokens(col("text"))).limit(256).collect()
    val texts = docs.map(r => UTF8String.fromString(r.getString(0)))
    val toks: Array[ArrayData] = docs.map(r =>
      new GenericArrayData(r.getSeq[String](1).map(UTF8String.fromString).toArray))
    val dim = vecs.head.numElements()
    val pairs = vecs.length - 1
    var sink = 0L
    // Runs `body` (one sweep over the inputs, returning the elements it
    // covered) until the time budget is spent; ns per element.
    def time(body: () => Long): Double = {
      val w = System.nanoTime()
      while (System.nanoTime() - w < WarmNs) sink += body()
      var n = 0L
      val t0 = System.nanoTime()
      var t = t0
      while (t - t0 < TimedNs) { n += body(); t = System.nanoTime() }
      (t - t0).toDouble / n
    }
    val res = Map(
      "dotF" -> time { () =>
        var i = 0; var acc = 0.0
        while (i < pairs) { acc += Kernels.dotF(vecs(i), vecs(i + 1)); i += 1 }
        sink += acc.toLong; pairs.toLong * dim },
      "dist2F" -> time { () =>
        var i = 0; var acc = 0.0
        while (i < pairs) { acc += Kernels.dist2F(vecs(i), vecs(i + 1)); i += 1 }
        sink += acc.toLong; pairs.toLong * dim },
      "polyHash" -> time { () =>
        var n = 0L
        texts.foreach { u => sink += Kernels.polyHash(u, 31L, HashP); n += u.numBytes() }
        n },
      "tokenCounts" -> time { () =>
        var n = 0L
        toks.foreach { a => sink += Kernels.tokenCounts(a).numElements(); n += a.numElements() }
        n },
      "shingleHashes" -> time { () =>
        var n = 0L
        toks.foreach { a =>
          sink += Kernels.shingleHashes(a, 3, 31L, HashP).numElements()
          n += a.numElements()
        }
        n },
      "simhash62" -> time { () =>
        var n = 0L
        toks.foreach { a => sink += Kernels.simhash62(a, HashP); n += a.numElements() }
        n })
    if (sink == 42L) System.err.println("")
    res
  }
}
