package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.functions.TopKBuffer

/** Property tests: the bounded heap must agree with a naive
  * sort-and-take for any input, any k, and any merge split; a top-k
  * tail ordered in one task ([[graft.operators.Knn.ranked]]) must equal
  * its global sort row for row; and the pinned-codebook kernel must
  * assign exactly what the relational cross join + argmin/top-k
  * aggregate selects. */
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

  // components from a small set (signed zeros included) so that equal
  // scores are common; duplicated vectors under other ids tie exactly
  private val compGen: Gen[Float] = Gen.oneOf(-1f, -0.5f, -0f, 0f, 0.25f, 0.5f, 1f)
  private def vecGen(d: Int): Gen[Array[Float]] = Gen.listOfN(d, compGen).map(_.toArray)
  /** Vectors under distinct shuffled ids, some duplicated under a
    * second id. */
  private def bookGen(d: Int, maxN: Int): Gen[List[(Long, Array[Float])]] = for {
    n <- Gen.choose(1, maxN)
    vs <- Gen.listOfN(n, vecGen(d))
    dups <- Gen.someOf(vs)
    ids <- Gen.pick(n + dups.size, 0L until 100L)
    keys <- Gen.listOfN(ids.size, Gen.choose(0, 1 << 20))
  } yield ids.toList.zip(keys).sortBy(_._2).map(_._1).zip(vs ++ dups)

  property("codebook kernel == cross join + min_by / topKBy, row for row") =
    forAll(Gen.listOf(vecGen(6)), bookGen(6, 8), Gen.listOfN(3, bookGen(2, 4)),
        Gen.oneOf(1, 4, 7)) { (pts, cents, subBooks, parts) =>
      import org.apache.spark.sql.functions._
      import graft.functions.{native, SubspaceCodes, TopByDot, TopKAgg}
      import graft.operators.Ann
      val spark = graft.SharedSpark.session
      import spark.implicits._
      val points = pts.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v").repartition(parts)
      val grid = cents.toDF("c_id", "c_vec")
      val ns = Seq(1, Ann.NProbe, cents.size)
      def sorted(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
      // IVF: argmax by min_by and top-n by topKBy, against the kernel
      val ivfSpec = points.crossJoin(broadcast(grid)).groupBy("id")
        .agg(min_by(col("c_id"), struct(-native.dotF(col("v"), col("c_vec")), col("c_id"))),
          ns.map(n => TopKAgg.topKBy(native.dotF(col("v"), col("c_vec")), col("c_id"), n)
            .getField("id")): _*)
      val book = TopByDot(cents.map(_._1).toArray, cents.map(_._2).toArray, 1)
      val ivfKernel = points.select(col("id") +: native.codebookAssign(col("v"), book)(0) +:
        ns.map(n => native.codebookAssign(col("v"), book.copy(n = n))): _*)
      // PQ: 3 subspaces of 2 components, argmin squared L2 per subspace
      val cb = subBooks.zipWithIndex.flatMap { case (b, j) =>
        b.map { case (c, w) => (c, j, w) } }.toDF("c_id", "j", "cvec")
      val codes = SubspaceCodes(subBooks.map(_.map(_._1).toArray).toArray,
        subBooks.map(_.map(_._2).toArray).toArray, 2)
      val pqArgmin = points
        .select(col("id"), posexplode(array((0 until 3).map(j =>
          slice(col("v"), 2 * j + 1, 2)): _*)).as(Seq("j", "evec")))
        .join(broadcast(cb), Seq("j"))
        .groupBy("id", "j").agg(min_by(col("c_id"),
          struct(native.dist2F(col("evec"), col("cvec")), col("c_id"))).as("code"))
        .groupBy("id").agg(sort_array(collect_list(struct(col("j"), col("code")))).as("a"))
      val pqKernel = points.select(col("id"),
        posexplode(native.codebookAssign(col("v"), codes)).as(Seq("j", "code")))
        .groupBy("id").agg(sort_array(collect_list(struct(col("j"), col("code")))).as("a"))
      sorted(ivfKernel) == sorted(ivfSpec) && sorted(pqKernel) == sorted(pqArgmin)
    }
}
