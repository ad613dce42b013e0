package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.datasources.parquet.graftbridge.ParquetFooter
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Table schemas are read from a parquet footer on the driver
  * ([[ParquetFooter]]) and must equal what Spark's inference job
  * returns. */
class TablesSpec extends AnyFunSuite with Matchers with SharedSpark {

  test("footer schemas of the corpus tables equal Spark's inferred schemas") {
    for (name <- Tables.names) withClue(name) {
      val path = s"$sfDir/$name.parquet"
      ParquetFooter.schema(spark, path) shouldBe spark.read.parquet(path).schema
    }
  }

  test("footer schemas: part-file and partitioned directories; no data file still fails") {
    val dir = tempDir("graft-footer")
    spark.range(5).selectExpr("id", "cast(id AS STRING) AS s", "array(1.5f) AS v")
      .write.parquet(s"$dir/flat")
    spark.range(5).selectExpr("id", "id % 2 AS p").write.partitionBy("p").parquet(s"$dir/parts")
    for (t <- Seq("flat", "parts")) withClue(t) {
      ParquetFooter.schema(spark, s"$dir/$t") shouldBe spark.read.parquet(s"$dir/$t").schema
    }
    new java.io.File(s"$dir/empty").mkdirs() shouldBe true
    val e = intercept[AnalysisException](ParquetFooter.schema(spark, s"$dir/empty"))
    e.getCondition shouldBe "UNABLE_TO_INFER_SCHEMA"
  }
}
