package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.operators.{Encoders, OnnxEncoder}

/** Real-transformer path through the batched-inference seam (VERDICT
  * r12 §next-6), the SPARK_GRAFT_WORDVEC_FILE pattern applied to an
  * ONNX session: the container ships neither the onnxruntime jar nor
  * a model (zero egress), so these assertions are GATED — set
  * `SPARK_GRAFT_ONNX_MODEL` to a sentence-encoder .onnx export (with
  * ai.onnxruntime on the classpath) and the same distributed ≡ driver
  * + unchanged-plan-shape contract every other BatchModel satisfies
  * runs against the real session. Ungated: the missing-runtime
  * failure mode is pinned (pointed error, not a bare CNFE), and the
  * tokenizer/padding geometry is unit-checked — the parts of the
  * seam that must not wait for a model to be correct. */
class OnnxSpec extends AnyFunSuite with Matchers with SharedSpark {

  private val modelEnv = sys.env.get("SPARK_GRAFT_ONNX_MODEL")

  test("hash tokenizer: deterministic, pad id 0 reserved, vocab-bounded") {
    val tok = OnnxEncoder.hashTokenizer(1000L)
    tok("spark data spark") shouldBe tok("spark data spark")
    tok("") shouldBe Array.empty[Long]
    val ids = tok("alpha beta gamma delta")
    ids.foreach { id => id should be >= 1L; id should be < 1000L }
    // same token → same id (the hashing-vectorizer property)
    tok("spark spark")(0) shouldBe tok("spark spark")(1)
  }

  test("missing runtime fails loudly with a pointed message") {
    assume(modelEnv.isEmpty || !runtimePresent,
      "onnxruntime present - the negative path does not apply")
    val ex = intercept[IllegalStateException] {
      OnnxEncoder.openSession("/nonexistent/model.onnx")
    }
    ex.getMessage should include("ai.onnxruntime")
  }

  test("ONNX session: distributed == driver, plan shape unchanged, non-degenerate") {
    assume(modelEnv.isDefined,
      "set SPARK_GRAFT_ONNX_MODEL to a .onnx sentence encoder to run")
    assume(runtimePresent, "ai.onnxruntime not on the classpath")
    val model = new OnnxEncoder(modelEnv.get)
    val enc = Encoders.encodeBatchedModel(spark, sfDir, model, batchSize = 7)
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val got = enc.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    got.size shouldBe docs.length
    // distributed batch application == driver-side application of the
    // same session (the plumbing adds or loses nothing)
    docs.take(20).foreach { case (id, text) =>
      val drv = model.encode(Seq(text)).head
      got(id).zip(drv).foreach { case (a, b) => a shouldBe b +- 1e-6 }
    }
    // plan shape identical to the stub path: same mapPartitions seam
    def shape(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect { case n => n.nodeName }
    shape(enc) shouldBe shape(Encoders.encodeBatched(spark, sfDir, batchSize = 7))
    // vectors are non-degenerate (a real encoder never emits all-zeros
    // for non-empty text)
    got.values.count(_.exists(_ != 0.0)) should be > 0
  }

  private def runtimePresent: Boolean =
    try { Class.forName("ai.onnxruntime.OrtEnvironment"); true }
    catch { case _: ClassNotFoundException => false }
}
