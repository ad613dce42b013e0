package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => Fn}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.expressions.Window
import graft.operators._

class KnnSpec extends AnyFunSuite with Matchers with SharedSpark {

  test("two-phase topKPerQuery equals single global window") {
    val scored = Knn.docSet(spark, sfDir)
      .crossJoin(broadcast(Knn.querySet(spark, sfDir)))
      .select(col("q_id"), col("doc_id"),
        graft.functions.dot(col("q_vec"), col("doc_vec")).as("score"))
    val twoPhase = Knn.topKPerQuery(scored, 10)
      .select("q_id", "doc_id", "rank")
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("doc_id"))
    val oneWindow = scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10).select("q_id", "doc_id", "rank")
    twoPhase.exceptAll(oneWindow).count() shouldBe 0
    oneWindow.exceptAll(twoPhase).count() shouldBe 0
  }

  test("bruteForce returns k rows per query, ranked by descending score") {
    val r = Knn.bruteForce(spark, sfDir).cache()
    val counts = r.groupBy("q_id").count().select("count").distinct().collect()
    counts.map(_.getLong(0)).toSet shouldBe Set(10L)
    // rank 1 score >= rank 10 score for every query
    val bad = r.groupBy("q_id")
      .agg(max(when(col("rank") === 1, col("score"))).as("s1"),
        max(when(col("rank") === 10, col("score"))).as("s10"))
      .filter(col("s1") < col("s10")).count()
    bad shouldBe 0
  }

  test("metadataFilter only returns docs matching the predicate") {
    val r = Knn.metadataFilter(spark, sfDir)
    val labels = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("doc_id"), col("label"))
    r.join(labels, "doc_id")
      .filter(!col("label").isin(1, 2, 3) || col("doc_id") % 2 =!= 0)
      .count() shouldBe 0
  }
}

class AnnSpec extends AnyFunSuite with Matchers with SharedSpark {

  test("ANN results are a subset of scored doc space with sane recall") {
    val exact = Knn.bruteForce(spark, sfDir)
      .select(col("q_id"), col("doc_id")).withColumn("hit", lit(1))
    def recall(ann: org.apache.spark.sql.DataFrame): Double = {
      val joined = ann.select("q_id", "doc_id").join(exact, Seq("q_id", "doc_id"), "left")
      val n = joined.count().toDouble
      joined.filter(col("hit") === 1).count() / n
    }
    // LSH and IVF prune; overlap with the exact top-10 should be well
    // above random (random ≈ 10/480 ≈ 2%)
    recall(Ann.lshHyperplane(spark, sfDir)) should be > 0.3
    recall(Ann.ivf(spark, sfDir)) should be > 0.3
    recall(Ann.pqSearch(spark, sfDir)) should be > 0.3
  }

  test("pqEncode emits one code per (vector, subspace) in range") {
    val codes = Ann.pqEncode(spark, sfDir)
    codes.count() shouldBe
      Tables.embeddings(spark, sfDir).count() * Ann.PqM
    codes.agg(min("code"), max("code")).collect().head match {
      case r => r.getLong(0) should be >= 0L
        r.getLong(1) should be < Ann.PqCodes.toLong
    }
  }

  test("Lloyd-trained PQ codebooks drive the same search pipeline") {
    val trained = Ann.fitPqCodebook(Tables.embeddings(spark, sfDir), iters = 1)
    trained.count() should be <= (Ann.PqM * Ann.PqCodes).toLong
    trained.select(Fn.size(col("cvec"))).distinct().collect()
      .map(_.getInt(0)).toSet shouldBe Set(Ann.PqSub)
    val r = Ann.pqSearch(spark, sfDir, codebook = Some(trained))
    r.groupBy("q_id").count().select("count").distinct().collect()
      .map(_.getLong(0)).toSet shouldBe Set(10L)
  }

  test("fitCentroids keeps exactly k centroids of full dimension") {
    val c = Ann.fitCentroids(Tables.embeddings(spark, sfDir), k = 8, iters = 2)
    // empty clusters retain their previous centroid — k never shrinks
    c.count() shouldBe 8L
    c.select(Fn.size(col("c_vec"))).distinct().collect().head.getInt(0) shouldBe Ann.Dim
  }

  test("searchVectors: caller-supplied query vectors match the table-sourced search") {
    val qs = Knn.querySet(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq.sortBy(_._1).take(3)
    val r = Knn.searchVectors(Knn.docSet(spark, sfDir), qs)
    val expected = Knn.bruteForce(spark, sfDir)
      .filter(col("q_id").isin(qs.map(_._1): _*))
    r.exceptAll(expected).count() shouldBe 0
    expected.exceptAll(r).count() shouldBe 0
  }

  test("Lloyd-trained centroids drop into the ivf probe path unchanged") {
    val trained = Ann.fitCentroids(Tables.embeddings(spark, sfDir), k = 8, iters = 2)
      .select(col("c_id"), Fn.transform(col("c_vec"),
        (x: org.apache.spark.sql.Column) => x.cast("float")).as("c_vec"))
    val r = Ann.ivf(spark, sfDir, centroids = Some(trained))
    r.groupBy("q_id").count().select("count").distinct().collect()
      .map(_.getLong(0)).toSet shouldBe Set(10L)
  }
}

class DedupSpec extends AnyFunSuite with Matchers with SharedSpark {

  test("exact dedup keeps one survivor per distinct content") {
    import spark.implicits._
    val r = Dedup.exact(spark, sfDir)
    r.agg(sum("cnt")).as[Long].head() shouldBe
      Tables.documents(spark, sfDir).count()
    r.select("content_hash").distinct().count() shouldBe r.count()
  }

  test("minhash LSH finds planted near-duplicates") {
    import spark.implicits._
    // plant: doc 0 text vs itself with one token changed
    val base = Tables.documents(spark, sfDir)
      .filter(col("doc_id") === 0).select("text").as[String].head()
    val toks = base.split(" ")
    val mutated = (toks.dropRight(1) :+ "zzz").mkString(" ")
    val planted = Seq((9000001L, base), (9000002L, mutated))
      .toDF("doc_id", "text")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .unionByName(planted)
    // run the same pipeline as minhashLsh but on the planted frame
    val hashed = docs.select(col("doc_id"),
        transform(Dedup.shingles(col("text")), s => graft.functions.polyHash(s)).as("shh"))
      .filter(Fn.size(col("shh")) > 0)
    val sigs = hashed.select(col("doc_id"),
      graft.functions.native.minhashSigs(col("shh"), Dedup.perms, Dedup.P).as("sig"))
    val banded = sigs.select(col("doc_id"), explode(array(
      (0 until Dedup.NBands).map(bb => struct(lit(bb).as("band"),
        (col("sig").getItem(2 * bb) * Dedup.P + col("sig").getItem(2 * bb + 1)).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
    val pairs = banded.as("x").join(banded.as("y"),
      col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b")).distinct()
    pairs.filter(col("id_a") === 9000001L && col("id_b") === 9000002L)
      .count() shouldBe 1
    // and the original doc 0 should also bucket with its planted copy
    pairs.filter(col("id_a") === 0L && col("id_b") === 9000001L).count() shouldBe 1
  }

  test("simhash of identical docs is identical, near-dup within small hamming") {
    val fp = Dedup.simhash(spark, sfDir)
    fp.count() shouldBe Tables.documents(spark, sfDir).count()
    fp.select("fp").distinct().count() should be > 1L
  }
}

class EncodersSpec extends AnyFunSuite with Matchers with SharedSpark {

  test("hashingTf rows are L2-normalized (sum of squared weights ≈ 1)") {
    val r = Encoders.hashingTf(spark, sfDir)
    val norms = r.groupBy("doc_id").agg(sum(col("tf_norm") * col("tf_norm")).as("n2"))
    norms.filter(abs(col("n2") - 1.0) > 0.01).count() shouldBe 0
  }

  test("assembleVector produces dense dim-length vectors matching exploded form") {
    val exploded = Encoders.hashingTf(spark, sfDir)
    val dense = Encoders.assembleVector(exploded, Encoders.Dim)
    dense.select(Fn.size(col("vector"))).distinct().collect()
      .map(_.getInt(0)).toSet shouldBe Set(Encoders.Dim)
    // spot check: non-zero count matches exploded row count per doc
    val nz = dense.select(col("doc_id"),
      Fn.size(Fn.filter(col("vector"), (v: org.apache.spark.sql.Column) => v =!= 0.0)).as("nz"))
    val ex = exploded.groupBy("doc_id").count()
    nz.join(ex, "doc_id").filter(col("nz") =!= col("count")).count() shouldBe 0
  }

  test("tfIdf vocabulary is capped at dim") {
    Encoders.tfIdf(spark, sfDir).select("term").distinct().count() should be <= Encoders.Dim.toLong
  }
}

class MultimodalSpec extends AnyFunSuite with Matchers with SharedSpark {

  test("batched feature extraction: checksum equals driver-side recompute") {
    val sample = Multimodal.mediaFrame(spark, sfDir).limit(5).collect()
    val feats = Multimodal.extractFeatures(Multimodal.mediaFrame(spark, sfDir).limit(5))
      .collect().map(f => f.media_id -> f.checksum).toMap
    sample.foreach { r =>
      feats(r.media_id) shouldBe r.payload.map(_ & 0xff).map(_.toLong).sum
    }
  }

  test("resizePayload downsamples bytes and updates metadata") {
    val sample = Multimodal.mediaFrame(spark, sfDir).limit(5)
    val orig = sample.collect().map(r => r.media_id -> r.payload).toMap
    Multimodal.resizePayload(sample, 4).collect().foreach { r =>
      val o = orig(r.media_id)
      r.n_bytes shouldBe (o.length / 4).toLong
      r.payload shouldBe Array.tabulate(o.length / 4)(i => o(i * 4))
    }
  }

  test("frame features cover every sampled frame, linear in payload size") {
    val sample = Multimodal.mediaFrame(spark, sfDir).limit(5)
    val orig = sample.collect().map(r => r.media_id -> r.payload).toMap
    val frames = Multimodal.frameFeatures(sample).collect().groupBy(_.media_id)
    orig.foreach { case (id, p) =>
      val nFrames = (p.length + 63) / 64
      val expected = (0 until nFrames by 2).map(_.toLong)
      frames(id).map(_.frame_no).sorted shouldBe expected
    }
  }
}
