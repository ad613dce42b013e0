package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.functions.{native, SubspaceCodes}

/** The frozen-fit overlays render a trained codebook's rows as SQL
  * literals; the text must follow the rows, not the fit's partitioning,
  * and the row order must not move any code the Spark plan assigns. */
class FrozenFitSpec extends AnyFunSuite with Matchers with SharedSpark {
  import operators.{Ann, Opq}

  test("the PQ assignment kernel breaks ties by c_id, whatever the codebook's row order") {
    val rows = Ann.trainedPqRows(spark, sfDir)
    // every codeword twice, as c and c + 1000: each assignment is a tie
    val doubled = rows ++ rows.map { case (c, j, v) => (c + 1000L, j, v) }
    def codes(book: Seq[(Long, Int, Seq[Float])]): Seq[String] = {
      val byJ = (0 until Ann.PqM).map(j => book.filter(_._2 == j))
      val pinned = SubspaceCodes(byJ.map(_.map(_._1).toArray).toArray,
        byJ.map(_.map(_._3.toArray).toArray).toArray, Ann.PqSub)
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), native.codebookAssign(col("embedding"), pinned).as("codes"))
        .collect().map(_.toString).toSeq.sorted
    }
    val forward = codes(doubled)
    codes(doubled.reverse) shouldBe forward
    // the lower id wins every tie, so the copies never take a code
    codes(rows) shouldBe forward
  }

  test("frozen-fit overlays render the same text from a fit in 1 or 4 partitions") {
    val fit = Ann.fitPqCodebook(Tables.embeddings(spark, sfDir), iters = 2).localCheckpoint()
    val one = Ann.codebookRows(fit.coalesce(1))
    val four = Ann.codebookRows(fit.repartition(4))
    one should have size (Ann.PqM * Ann.PqCodes)
    Ann.SqlOracle.pqSearchTrainedSql(four) shouldBe Ann.SqlOracle.pqSearchTrainedSql(one)
    val r = Opq.rotation(spark, sfDir)
    Opq.SqlOracle.opqTrainedSearch(r, four) shouldBe Opq.SqlOracle.opqTrainedSearch(r, one)
  }
}
