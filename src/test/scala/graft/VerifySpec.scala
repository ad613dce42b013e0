package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The correctness dump's slice contract. Every test calls
  * [[Verify.run]] on the shared session; `Verify.main` would stop it. */
class VerifySpec extends AnyFunSuite with Matchers with SharedSpark {

  /** A fresh copy of the sf0.001 corpus, minus the `drop`ped tables. */
  private def corpusCopy(drop: String*): String = {
    val src = Paths.get(sfDir)
    val dir = tempDir("graft-verify-corpus")
    val walk = Files.walk(src)
    try walk.iterator.forEachRemaining { p =>
      val rel = src.relativize(p)
      if (p != src && !drop.contains(rel.getName(0).toString))
        Files.copy(p, Paths.get(dir).resolve(rel.toString))
    } finally walk.close()
    dir
  }

  private def jsonKeys(file: Path): Set[String] =
    new ObjectMapper().readTree(file.toFile).fieldNames().asScala.toSet

  private def resultDirs(outDir: String): Set[String] = {
    val list = Files.list(Paths.get(outDir))
    try list.iterator.asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSet
    finally list.close()
  }

  test("a sliced run writes exactly the named results, their oracles and an empty _errors.json") {
    val dir = corpusCopy()
    val out = tempDir("graft-verify-out")
    // ann_ivf_sqrtn is rows-only: it has a result but no oracle
    val errors = Verify.run(spark, dir, out, Seq("v_dot_product", "ann_ivf_sqrtn"))
    errors shouldBe empty
    resultDirs(out) shouldBe Set("v_dot_product", "ann_ivf_sqrtn")
    jsonKeys(Paths.get(out, "oracle_sql.json")) shouldBe Set("v_dot_product")
    jsonKeys(Paths.get(out, "_errors.json")) shouldBe empty
    // the memo counters beside the errors: each query ran from a plan
    // prepared in this application
    val memo = new ObjectMapper().readTree(Paths.get(out, "_memo.json").toFile)
    memo.fieldNames().asScala.toSet shouldBe Set("kinds", "peak_entries")
    memo.get("kinds").get(Memo.Prepared).get("misses").asLong should be >= 2L
    memo.get("peak_entries").get("prepared").asInt should be >= 2
  }

  test("an unknown query name throws before any output is written") {
    val out = Paths.get(tempDir("graft-verify-out"), "dump")
    val e = intercept[IllegalArgumentException] {
      Verify.run(spark, sfDir, out.toString, Seq("v_dot_product", "no_such_query"))
    }
    e.getMessage should include("no_such_query")
    Files.exists(out) shouldBe false
  }

  test("a failing query and a failing overlay are recorded; the rest of the slice still runs") {
    val dir = corpusCopy("embeddings.parquet")
    val out = tempDir("graft-verify-out")
    val names = Seq("v_dot_product", "eval_ann_recall_opq", "text_token_count")
    val errors = Verify.run(spark, dir, out, names)
    errors.keySet shouldBe Set("v_dot_product", "eval_ann_recall_opq")
    errors("eval_ann_recall_opq") should include("opq overlay failed (rows-only)")
    jsonKeys(Paths.get(out, "_errors.json")) shouldBe errors.keySet
    resultDirs(out) shouldBe Set("text_token_count")
    jsonKeys(Paths.get(out, "oracle_sql.json")) shouldBe
      Set("v_dot_product", "text_token_count")
  }
}
