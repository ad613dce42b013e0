package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.operators.{Ann, EventsAnalytics, VectorCore}
import graft.sources.DataGen

/** Round-10 pins: the schema-driven JSON parse vs the path-extraction
  * twin, the SQ8 encode clamp under frozen-fit drift, the Gram-matrix
  * empty-corpus guard, and real-JSON props at generated scale.
  */
class Round10Spec extends AnyFunSuite with Matchers with SharedSpark {

  test("propsExtract: from_json result-equal to get_json_object, and non-vacuous") {
    // per-type aggregates are a set: compared order-free
    val a = EventsAnalytics.propsExtract(spark, sfDir).collect().toSeq
    val b = EventsAnalytics.propsExtractPaths(spark, sfDir).collect().toSeq
    a.map(_.toString).sorted shouldBe b.map(_.toString).sorted
    // the extraction path must actually parse rows — a NULL-vacuous
    // pass (n_parsed = 0 everywhere) is what ADVICE r9 flagged
    val parsed = a.map(r => r.getLong(r.fieldIndex("n_parsed"))).sum
    parsed should be > 0L
    a.foreach { r =>
      r.getLong(r.fieldIndex("n_parsed")) shouldBe r.getLong(r.fieldIndex("n"))
    }
  }

  test("propsExtract: malformed and non-integral payloads yield NULL in both forms") {
    import spark.implicits._
    val weird = Seq(
      ("a", """{"k": 7}"""), // clean
      ("a", """{"k": "txt"}"""), // non-integral k
      ("b", """not json at all"""), // malformed
      ("b", """{"other": 1}"""), // missing field
      ("b", null) // null payload
    ).toDF("event_type", "props")
    val viaSchema = weird
      .select(col("event_type"), from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k LONG")).getField("k").as("k"))
      .collect().map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getLong(1)))
    // try_cast, not cast: under ANSI a plain string cast THROWS on
    // 'txt' where from_json yields NULL (the r9-flagged divergence)
    val viaPath = weird
      .select(col("event_type"), get_json_object(col("props"), "$.k").try_cast("long").as("k"))
      .collect().map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getLong(1)))
    viaSchema shouldBe viaPath
    viaSchema.toSeq shouldBe Seq(("a", 7L), ("a", null), ("b", null), ("b", null), ("b", null))
  }

  test("DataGen events props are valid JSON and fully parseable") {
    val ev = DataGen.events(spark, 500L, 50L)
    val parsed = ev.select(from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k LONG")).getField("k").as("k"))
      .agg(count(lit(1)).as("n"), count(col("k")).as("n_parsed"),
        min("k").as("lo"), max("k").as("hi"))
      .head()
    parsed.getLong(0) shouldBe 500L
    parsed.getLong(1) shouldBe 500L // every row parses — never vacuous
    parsed.getLong(2) should be >= 0L
    parsed.getLong(3) should be <= 99L
  }

  test("sq8Encode clamps out-of-fit values to [0, 255] (FAISS encode clip)") {
    import spark.implicits._
    // fit trained on [0, 1] per dim; appended vectors drift far outside
    val ranges = Seq((1L, 0.0, 1.0), (2L, 0.0, 1.0)).toDF("dim", "lo", "hi")
    val drifted = Seq(
      (1L, Array(-5.0f, 0.5f)), // below fit -> 0
      (2L, Array(9.0f, 1.0f)), // above fit -> 255
      (3L, Array(0.0f, 0.25f)) // in range
    ).toDF("doc_id", "doc_vec")
    val codes = Ann.sq8Encode(drifted, ranges)
      .collect()
      .map(r => ((r.getLong(0), r.getAs[Number](1).longValue()), r.getLong(2)))
      .toMap
    codes((1L, 1L)) shouldBe 0L
    codes((2L, 1L)) shouldBe 255L
    codes((3L, 1L)) shouldBe 0L
    codes((3L, 2L)) shouldBe 64L // round(0.25 * 255) = 64
    codes.values.foreach { c =>
      c should be >= 0L
      c should be <= 255L
    }
  }

  test("sq8Encode saturates a drifted vector at 255 under the base fit") {
    import spark.implicits._
    val base = (0L until 20L).map(i =>
      (i, Array.tabulate(VectorCore.Dim)(d => ((i + d) % 7).toFloat / 7f)))
      .toDF("doc_id", "doc_vec")
    val ranges = base
      .select(posexplode(col("doc_vec")).as(Seq("dim0", "x")))
      .select((col("dim0") + 1).cast("long").as("dim"), col("x").cast("double").as("v"))
      .groupBy("dim").agg(min("v").as("lo"), max("v").as("hi"))
    val drifted = Seq((999L, Array.fill(VectorCore.Dim)(1e6f))).toDF("doc_id", "doc_vec")
    val codes = Ann.sq8Encode(drifted, ranges)
      .select("code").collect().map(_.getLong(0))
    codes should have length VectorCore.Dim.toLong
    codes.foreach(_ shouldBe 255L) // saturated at the grid edge, not > 255
  }

  test("gramMatrix on an empty embeddings table returns zero rows") {
    val empty = tempDir("graft-gram-empty")
    Tables.embeddings(spark, sfDir).limit(0)
      .write.mode("overwrite").parquet(s"$empty/embeddings.parquet")
    VectorCore.gramMatrix(spark, empty).count() shouldBe 0L
  }

  test("gramMatrix on a non-empty table still yields the full triangle") {
    val d = VectorCore.Dim
    VectorCore.gramMatrix(spark, sfDir).count() shouldBe (d.toLong * (d + 1) / 2)
  }
}
