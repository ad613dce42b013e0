package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.functions.TopKBuffer

/** Property tests: the bounded heap must agree with a naive
  * sort-and-take for any input, any k, and any merge split; and a top-k
  * tail ordered in one task ([[graft.operators.Knn.ranked]]) must equal
  * its global sort row for row. */
object TopKProps extends Properties("TopKBuffer") {

  private val entryGen: Gen[(Double, Long)] = for {
    s <- Gen.chooseNum(-1e6, 1e6)
    id <- Gen.chooseNum(0L, 1000L)
  } yield (s, id)

  private def naive(xs: List[(Double, Long)], k: Int): List[(Double, Long)] =
    xs.distinct.sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)).take(k)

  private def fill(xs: List[(Double, Long)], k: Int): TopKBuffer = {
    val buf = new TopKBuffer(k)
    xs.distinct.foreach { case (s, id) => buf.add(s, id) }
    buf
  }

  property("sorted == naive top-k") =
    forAll(Gen.listOf(entryGen), Gen.choose(1, 20)) { (xs, k) =>
      fill(xs, k).sorted.toList == naive(xs, k)
    }

  property("merge(a, b) == top-k of concatenation") =
    forAll(Gen.listOf(entryGen), Gen.listOf(entryGen), Gen.choose(1, 20)) {
      (xs, ys, k) =>
        // merge must be dedup-safe for this property: use disjoint ids
        val xs2 = xs.distinct.map { case (s, id) => (s, id * 2) }
        val ys2 = ys.distinct.map { case (s, id) => (s, id * 2 + 1) }
        val a = fill(xs2, k)
        val b = fill(ys2, k)
        var i = 0
        while (i < b.size) { a.add(b.scores(i), b.ids(i)); i += 1 }
        // merging partial top-ks loses nothing: every global top-k entry
        // survives in one of the partials
        a.sorted.toList == naive(xs2 ++ ys2, k)
    }

  property("never holds more than k entries") =
    forAll(Gen.listOf(entryGen), Gen.choose(1, 20)) { (xs, k) =>
      fill(xs, k).size <= k
    }

  // (q_id, doc_id, score) rows, one per (q_id, doc_id), over few score
  // values so that ties are common
  private val scoredGen: Gen[List[(Long, Long, Double)]] =
    Gen.listOf(for {
      q <- Gen.choose(0L, 5L)
      d <- Gen.choose(0L, 60L)
      s <- Gen.choose(0, 6)
    } yield (q, d, s / 2.0)).map(_.groupBy(r => (r._1, r._2)).values.map(_.head).toList)

  property("Knn.ranked over a top-k tail == its orderBy, row for row") =
    forAll(scoredGen, Gen.choose(1, 8)) { (rows, k) =>
      import graft.operators.Knn
      val spark = graft.SharedSpark.session
      import spark.implicits._
      val scored = rows.toDF("q_id", "doc_id", "score").repartition(4)
      val topK = Knn.topKPerKey(scored, Seq("q_id"), k)
      scored.rdd.getNumPartitions >= 4 &&
        topK.transform(Knn.ranked("q_id", "rank")).collect().toSeq ==
          topK.orderBy("q_id", "rank").collect().toSeq
    }
}
