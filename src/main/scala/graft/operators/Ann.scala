package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions._
import graft.functions.{Sql => S}

/** Approximate nearest neighbour search — the 100 TB scale path beside
  * [[Knn]]'s exact scan (ref indexes with HNSW via Weaviate,
  * weaviate/client.py:44-56; HNSW's graph walk is inherently
  * single-node, so the Spark-native equivalents are bucketed pruning:
  * random-hyperplane LSH and IVF).
  *
  * Both operators: candidate generation touches each doc row once
  * (signature/assignment is a per-row map against broadcast constants),
  * candidates shuffle on the bucket key only, and the exact re-rank
  * runs on the pruned candidate set. Deterministic: hyperplanes are
  * fixed seed-42 literals shared with the oracle SQL; centroids are
  * fixed seed vectors (vec_id < NCentroids); ties break on doc_id.
  */
object Ann {
  val Dim = VectorCore.Dim
  val NPlanes = 16
  val NBands = 4 // 4 bits per band
  val BandBits = 4
  val NCentroids = 16
  val NProbe = 4
  val K = Knn.K

  /** Fixed random hyperplanes (seed 42), embedded as literals in both
    * the Spark plan and the oracle SQL. */
  val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(NPlanes, Dim)(rnd.nextGaussian())
  }

  /** 16-bit hyperplane signature of an embedding column. */
  def signature(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    native.hyperplaneSig(v, planes)

  /** LSH ANN: docs and queries hash to 2 byte-wide band buckets; docs
    * sharing any band bucket with a query are candidates; exact
    * dot-product top-k re-ranks them. `docFilter` is applied to the doc
    * side *before* signatures are computed, so it pushes into the
    * parquet scan — the ref's filtered HNSW query
    * (weaviate/client.py:82-92 `where` + vector in one query). */
  def lshHyperplane(spark: SparkSession, dir: String, k: Int = K,
                    docFilter: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    def banded(df: DataFrame, idCol: String, vecCol: String): DataFrame =
      df.withColumn("_sig", signature(col(vecCol)))
        .select(col(idCol), col(vecCol), explode(array(
          (0 until NBands).map(bb => struct(
            lit(bb).as("band"),
            shiftright(col("_sig"), BandBits * bb).bitwiseAND((1 << BandBits) - 1).as("bkt"))): _*)).as("bk"))
        .select(col(idCol), col(vecCol), col("bk.band"), col("bk.bkt"))
    val q = banded(Knn.querySet(spark, dir), "q_id", "q_vec")
    val d = banded(Knn.docSet(spark, dir).filter(docFilter), "doc_id", "doc_vec")
    // score on the map side (before the dedup shuffle): a duplicate
    // candidate costs one extra dot product, but the dedup groupBy then
    // shuffles only narrow (q_id, doc_id, score) rows — not 64-float
    // vectors with band multiplicity
    val cands = d.join(broadcast(q), Seq("band", "bkt"))
      .select(col("q_id"), col("doc_id"),
        dot(col("q_vec"), col("doc_vec")).as("score"))
      .groupBy("q_id", "doc_id")
      .agg(first("score").as("score"))
    Knn.topKPerQuery(cands, k)
      .select(col("q_id"), col("rank"), col("doc_id"), rnd(col("score"), 4).as("score"))
      .transform(Knn.ranked("q_id", "rank"))
  }

  /** IVF ANN: fixed seed centroids (vec_id < NCentroids); every doc is
    * assigned to its argmax-dot centroid and each query probes its
    * top-NProbe centroids, both in-row against the grid pinned on the
    * driver ([[pinGrid]]), then exact-reranks the docs in those lists.
    * [[fitCentroids]] is the Lloyd trainer for real deployments. */
  def ivf(spark: SparkSession, dir: String, k: Int = K,
          docFilter: org.apache.spark.sql.Column = lit(true),
          centroids: Option[DataFrame] = None,
          nProbe: Int = NProbe): DataFrame = {
    // default: fixed seed centroids (oracle-mirrorable); production
    // passes Lloyd-trained centroids from [[fitCentroids]] — (c_id,
    // c_vec array<float>) — and the probe plan is identical
    val grid = pinGrid(centroids.getOrElse(seedCentroids(spark, dir)))
    // assignment is a projection: no cross join, no per-doc aggregate,
    // no shuffle of the doc vectors
    val docs = grid.assign(Knn.docSet(spark, dir).filter(docFilter), "doc_vec")
    val qs = grid.assign(Knn.querySet(spark, dir), "q_vec", nProbe)
    // each doc has exactly one centroid and each query probes distinct
    // centroids, so (q_id, doc_id) pairs are already unique — no dedup
    val cands = docs.join(broadcast(qs), Seq("c_id"))
      .select(col("q_id"), col("doc_id"),
        dot(col("q_vec"), col("doc_vec")).as("score"))
    Knn.topKPerQuery(cands, k)
      .select(col("q_id"), col("rank"), col("doc_id"), rnd(col("score"), 4).as("score"))
      .transform(Knn.ranked("q_id", "rank"))
  }

  /** The fixed seed grid: (c_id, c_vec) = the first [[NCentroids]]
    * embeddings. */
  private[operators] def seedCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id") < NCentroids)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))

  /** A centroid grid pinned on the driver: the codebook the
    * [[native.codebookAssign]] kernel scores each vector against. */
  final case class Grid(ids: Array[Long], vecs: Array[Array[Float]]) {
    def size: Int = ids.length

    /** The ids of each vector's `n` best centroids by dot, best first
      * (score desc, c_id asc). */
    def top(v: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
      native.codebookAssign(v, TopByDot(ids, vecs, n))

    /** `df` plus `c_id`, one row per each of `vecCol`'s `n` best
      * centroids; n = 1 is the argmax-dot assignment. */
    def assign(df: DataFrame, vecCol: String, n: Int = 1): DataFrame =
      df.withColumn("c_id", explode(top(col(vecCol), n)))
  }

  /** Pins a (c_id, c_vec array<float>) centroid frame on the driver —
    * bounded by construction (≤ nlist rows), the way the Lloyd fits
    * already pin theirs. */
  private[operators] def pinGrid(cent: DataFrame): Grid = {
    val rows = cent.select(col("c_id"), col("c_vec")).collect()
    Grid(rows.map(_.getLong(0)), rows.map(_.getSeq[Float](1).toArray))
  }

  /** Pins a (c_id, j, cvec array<float>) PQ codebook on the driver (≤
    * PqM × codes rows): the in-row encode of [[pqCodesOf]]. The
    * codebook of an empty corpus is empty and encodes nothing. */
  private[operators] def pinCodebook(cb: DataFrame): SubspaceCodes = {
    val rows = cb.select(col("c_id"), col("j"), col("cvec")).collect()
    val byJ = if (rows.isEmpty) Seq.empty
      else (0 until PqM).map(j => rows.filter(_.getInt(1) == j))
    require(byJ.forall(_.nonEmpty),
      s"a PQ codebook needs codewords in each of its $PqM subspaces")
    SubspaceCodes(byJ.map(_.map(_.getLong(0))).toArray,
      byJ.map(_.map(_.getSeq[Float](2).toArray)).toArray, PqSub)
  }

  /** (j, code) rows of each vector of `vecCol` under a pinned codebook:
    * per subspace, the argmin squared-L2 codeword, ties by c_id. */
  private[operators] def pqCodesOf(vecCol: String, book: SubspaceCodes): org.apache.spark.sql.Column =
    posexplode(native.codebookAssign(col(vecCol), book)).as(Seq("j", "code"))

  /** Metadata-filtered ANN: the [[Knn.metaPredicate]] filter pushed
    * below signature/probe computation (scan-level), combined with the
    * LSH / IVF index — at 100 TB filtered+indexed is the common query
    * (ref: weaviate/client.py:82-92). */
  def lshFiltered(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    lshHyperplane(spark, dir, k, Knn.metaPredicate)

  def ivfFiltered(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    ivf(spark, dir, k, Knn.metaPredicate)

  // ---------- Product quantization ----------
  val PqM = 8        // subspaces
  val PqSub = 8      // dims per subspace (PqM * PqSub == Dim)
  val PqCodes = 16   // codewords per subspace

  /** PQ codebooks from fixed seed vectors (vec_id < PqCodes), one row
    * per (c_id, subspace, cvec) — 128 rows, always broadcast. ONE scan
    * of the parquet + a posexplode of the 8 slices (an 8-way union of 8
    * separate scans was the round-1 shape and benched 8.4 s). A real
    * deployment trains them per-subspace with [[fitCentroids]]. */
  def pqCodebook(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id") < PqCodes)
      .select(col("vec_id").as("c_id"), posexplode(array(
        (0 until PqM).map(j => slice(col("embedding"), j * PqSub + 1, PqSub)): _*))
        .as(Seq("j", "cvec")))
      .select(col("c_id"), col("j"), col("cvec"))

  /** PQ encoding: each vector → PqM 4-bit codes (argmin squared-L2 to
    * the subspace codebook, ties by c_id). One pass over the data: the
    * codebook is pinned on the driver and every vector is encoded in
    * its row. Output exploded (vec_id, subspace, code) — 64 floats
    * become 8 small ints (8× compression). */
  def pqEncode(spark: SparkSession, dir: String,
               codebook: Option[DataFrame] = None): DataFrame = {
    val book = pinCodebook(codebook.getOrElse(pqCodebook(spark, dir)))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), pqCodesOf("embedding", book))
      .select(col("vec_id"), col("j").cast("long").as("subspace"), col("code"))
  }

  /** PQ asymmetric-distance search (ADC): per query, build the PqM×
    * PqCodes lookup table of exact subspace dot products (query ×
    * codeword — tiny, broadcast), then score every doc as the SUM of
    * table entries selected by its codes — no doc vector is touched.
    * Exact top-k re-rank on the ADC candidates (3k) finishes the job.
    * At 100 TB the scored side reads only the 8-code column. */
  def pqSearch(spark: SparkSession, dir: String, k: Int = K,
               codebook: Option[DataFrame] = None): DataFrame = {
    val cb = codebook.getOrElse(pqCodebook(spark, dir))
    val codes = pqEncode(spark, dir, Some(cb))
      .filter(col("vec_id") >= Knn.NQueries)
      .select(col("vec_id").as("doc_id"), col("subspace").as("j"), col("code"))
    pqScore(spark, dir, codes, cb, k)
  }

  /** The ADC score-and-rerank tail shared by the in-plan search and
    * the persisted-index form: (doc_id, j, code) codes + codebook →
    * ranked top-k. */
  private def pqScore(spark: SparkSession, dir: String, codes: DataFrame,
                      cb: DataFrame, k: Int): DataFrame = {
    val lut = Knn.querySet(spark, dir)
      .select(col("q_id"), posexplode(array(
        (0 until PqM).map(j => slice(col("q_vec"), j * PqSub + 1, PqSub)): _*))
        .as(Seq("j", "qvec")))
      .join(broadcast(cb), Seq("j"))
      .select(col("q_id"), col("j"), col("c_id").as("code"),
        dot(col("qvec"), col("cvec")).as("part"))
    // ADC score via an order-free FIXED-POINT sum of the 8 parts: each
    // part is rounded to 9 decimals and summed as a long, so the result
    // is independent of accumulation order AND the aggregate is
    // map-side partial-combinable — unlike the round-1 shape
    // (collect_list + sorted fold), which shuffled all 8 rows per
    // (query, doc) pair to preserve an order a double sum needed
    val adc = codes.join(broadcast(lut), Seq("j", "code"))
      .groupBy("q_id", "doc_id")
      .agg(fxSum(col("part"), 9).as("adc_score"))
    val cand = Knn.topKPerQuery(
      adc.select(col("q_id"), col("doc_id"), col("adc_score").as("score")), 3 * k)
      .select(col("q_id"), col("doc_id"))
    val exact = cand
      .join(broadcast(Knn.querySet(spark, dir)), Seq("q_id"))
      .join(Knn.docSet(spark, dir), Seq("doc_id"))
      .select(col("q_id"), col("doc_id"),
        dot(col("q_vec"), col("doc_vec")).as("score"))
    Knn.topKPerQuery(exact, k)
      .select(col("q_id"), col("rank"), col("doc_id"), rnd(col("score"), 4).as("score"))
      .transform(Knn.ranked("q_id", "rank"))
  }

  /** Per-dimension scalar-quantization fit over the DOC set (FAISS
    * ScalarQuantizer QT_8bit train): Dim (lo, hi) rows — constant-size,
    * broadcast everywhere it's used. */
  def sq8Ranges(spark: SparkSession, dir: String): DataFrame =
    Knn.docSet(spark, dir)
      .select(posexplode(col("doc_vec")).as(Seq("dim0", "x")))
      .select((col("dim0") + 1).as("dim"), col("x").cast("double").as("v"))
      .groupBy("dim").agg(min("v").as("lo"), max("v").as("hi"))

  /** SQ8 asymmetric search — the scalar-quantized serving path between
    * full-precision flat scan and PQ (FAISS IndexScalarQuantizer
    * QT_8bit, the [[VectorCore.quantizeInt8]] audit's search
    * counterpart): docs are stored as one int8 code per dimension
    * (4× compression at near-full recall, vs PQ's 32× at lower
    * recall); a query scores a doc from its codes alone —
    * score = Σ_d q_d·(lo_d + code·Δ_d) with Δ_d = (hi_d−lo_d)/255 —
    * then an exact top-k re-rank of the 3k leaders finishes.
    *
    * Scale shape: the fit is a Dim-row broadcast; scoring reads ONLY
    * the code column (at 100 TB the float vectors stay on disk until
    * the 3k-candidate re-rank); the per-(q,dim) base/step scalars are
    * a tiny broadcast; the ADC sum is the same order-free fixed-point
    * aggregate as [[pqSearch]] (map-side partial-combinable). The
    * compute is Dim rows/doc/query vs PQ's PqM — the recall-for-work
    * trade the quantization family exists to offer. */
  def sq8Search(spark: SparkSession, dir: String, k: Int = K): DataFrame = {
    val ranges = sq8Ranges(spark, dir)
    sq8Score(spark, dir, sq8Encode(Knn.docSet(spark, dir), ranges), ranges, k)
  }

  /** (doc_id, dim, code) rows of a (doc_id, doc_vec) frame under a
    * given (dim, lo, hi) fit — the shared encode of the in-plan search
    * and the index build. Codes clamp to [0, 255] (the FAISS QT_8bit
    * encode clip): vectors outside the fit's (lo, hi) range saturate
    * at the grid edge instead of emitting out-of-byte codes. A NaN component
    * encodes as value 0.0 — NaN compares greatest in Spark, so without
    * the nanvl the clamp would silently saturate garbage at the top
    * grid cell 255 (ADVICE r10). */
  def sq8Encode(docs: DataFrame, ranges: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(col("doc_vec")).as(Seq("dim0", "x")))
      .select(col("doc_id"), (col("dim0") + 1).as("dim"),
        nanvl(col("x").cast("double"), lit(0.0)).as("v"))
      .join(broadcast(ranges), Seq("dim"))
      .select(col("doc_id"), col("dim"),
        when(col("hi") > col("lo"),
          least(lit(255.0), greatest(lit(0.0),
            floor((col("v") - col("lo")) / (col("hi") - col("lo")) * 255.0 + 0.5))))
          .otherwise(0.0).cast("long").as("code"))

  /** ADC scoring + exact re-rank over an SQ8 code relation (the query
    * half shared by [[sq8Search]] and [[sq8Indexed]]). */
  private def sq8Score(spark: SparkSession, dir: String, codes: DataFrame,
                       ranges: DataFrame, k: Int): DataFrame = {
    val qparts = Knn.querySet(spark, dir)
      .select(col("q_id"), posexplode(col("q_vec")).as(Seq("dim0", "q")))
      .select(col("q_id"), (col("dim0") + 1).as("dim"),
        col("q").cast("double").as("q"))
      .join(broadcast(ranges), Seq("dim"))
      .select(col("q_id"), col("dim"),
        (col("q") * col("lo")).as("base"),
        (col("q") * ((col("hi") - col("lo")) / 255.0)).as("step"))
    val adc = codes.join(broadcast(qparts), Seq("dim"))
      .groupBy("q_id", "doc_id")
      .agg(fxSum(col("base") + col("code") * col("step"), 9).as("score"))
    val cand = Knn.topKPerQuery(adc, 3 * k).select("q_id", "doc_id")
    val exact = cand
      .join(broadcast(Knn.querySet(spark, dir)), Seq("q_id"))
      .join(Knn.docSet(spark, dir), Seq("doc_id"))
      .select(col("q_id"), col("doc_id"),
        dot(col("q_vec"), col("doc_vec")).as("score"))
    Knn.topKPerQuery(exact, k)
      .select(col("q_id"), col("rank"), col("doc_id"),
        rnd(col("score"), 4).as("score"))
      .transform(Knn.ranked("q_id", "rank"))
  }

  /** Persisted SQ8 serving layout: the code relation at `out`, the
    * (dim, lo, hi) fit under `out/_fit` (underscore path — invisible
    * to the postings scan, the [[Encoders.writeTfidfIndex]] `_vocab`
    * convention). The fit travels WITH the index, so later queries
    * need neither the corpus nor a refit. */
  def writeSq8Index(spark: SparkSession, dir: String, out: String): Unit =
    Compaction.stagedBuild(spark, out) { tmp =>
      val ranges = sq8Ranges(spark, dir)
      sq8Encode(Knn.docSet(spark, dir), ranges)
        .write.mode("overwrite").parquet(tmp)
      Tables.writeFit(ranges, s"$tmp/_fit", Tables.Sq8Fit)
    }

  /** [[sq8Search]] answered from a persisted [[writeSq8Index]] layout —
    * no encode pass in the hot path: codes and fit read from disk,
    * queries score the stored codes, exact re-rank finishes. Results
    * ≡ [[sq8Search]] (same fit, same codes), so it shares its oracle. */
  def sq8Indexed(spark: SparkSession, dir: String, indexPath: String,
                 k: Int = K): DataFrame =
    sq8Score(spark, dir, spark.read.parquet(indexPath),
      Tables.readFit(spark, s"$indexPath/_fit", Tables.Sq8Fit), k)

  /** [[sq8Indexed]] over a memoized scratch build — the verified-query
    * form (`ann_sq8_indexed`). */
  def sq8ViaIndex(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    sq8Indexed(spark, dir,
      graft.Memo.scratch(spark, "graft-sq8idx", dir)(
        writeSq8Index(spark, dir, _)), k)

  /** Persisted PQ index — codes durable at ingest time, the codebook
    * stored with them (`_fit`, the [[writeSq8Index]] contract): at
    * 100 TB the 8-codes-per-doc table IS the serving artifact (FAISS
    * persists exactly this), and the float vectors are read only by
    * the k-bounded exact re-rank. */
  def writePqIndex(spark: SparkSession, dir: String, out: String): Unit =
    Compaction.stagedBuild(spark, out) { tmp =>
      val cb = pqCodebook(spark, dir)
      // same argmin/tie rule as [[pqEncode]]; output (doc_id, j, code)
      Knn.docSet(spark, dir)
        .select(col("doc_id"), pqCodesOf("doc_vec", pinCodebook(cb)))
        .write.mode("overwrite").parquet(tmp)
      Tables.writeFit(cb, s"$tmp/_fit", Tables.PqFit)
    }

  /** [[pqSearch]] answered from a persisted [[writePqIndex]] layout —
    * no encode pass in the hot path: codes and codebook read from
    * disk, ADC scores the stored codes, exact re-rank finishes.
    * Results ≡ [[pqSearch]] (same fit, same codes), so it shares its
    * oracle. */
  def pqIndexed(spark: SparkSession, dir: String, indexPath: String,
                k: Int = K): DataFrame =
    pqScore(spark, dir, spark.read.parquet(indexPath),
      Tables.readFit(spark, s"$indexPath/_fit", Tables.PqFit), k)

  /** [[pqIndexed]] over a memoized scratch build — the verified-query
    * form (`ann_pq_indexed`). */
  def pqViaIndex(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    pqIndexed(spark, dir,
      graft.Memo.scratch(spark, "graft-pqidx", dir)(
        writePqIndex(spark, dir, _)), k)

  /** IVF+PQ composed search — the standard billion-scale ANN
    * architecture (FAISS IndexIVFPQ): the coarse quantizer prunes the
    * corpus to each query's NProbe inverted lists, ADC scores the
    * survivors from their 8 PQ codes alone (no doc vector is read in
    * the scoring pass), and an exact top-k re-rank of the 3k ADC
    * leaders finishes. At 100 TB the scored side touches only the
    * (doc_id, c_id, codes) index — 8 bytes of codes per doc — and only
    * in the probed lists; both pruning levels compose multiplicatively.
    * All joins against query-derived frames broadcast (Q ≪ N). */
  def ivfPq(spark: SparkSession, dir: String, k: Int = K): DataFrame = {
    val grid = pinGrid(seedCentroids(spark, dir))
    val cb = pqCodebook(spark, dir)
    // coarse assignment: narrow (doc_id, c_id) rows, in-row
    val docAssign = grid.assign(Knn.docSet(spark, dir), "doc_vec")
      .select(col("doc_id"), col("c_id"))
    val codes = pqEncode(spark, dir, Some(cb))
      .filter(col("vec_id") >= Knn.NQueries)
      .select(col("vec_id").as("doc_id"), col("subspace").as("j"), col("code"))
    // query side: probe lists + ADC lookup tables (both tiny, broadcast)
    val qs = grid.assign(Knn.querySet(spark, dir), "q_vec", NProbe)
      .select(col("q_id"), col("c_id"))
    val lut = Knn.querySet(spark, dir)
      .select(col("q_id"), posexplode(array(
        (0 until PqM).map(j => slice(col("q_vec"), j * PqSub + 1, PqSub)): _*))
        .as(Seq("j", "qvec")))
      .join(broadcast(cb), Seq("j"))
      .select(col("q_id"), col("j"), col("c_id").as("code"),
        dot(col("qvec"), col("cvec")).as("part"))
    val cands = docAssign.join(broadcast(qs), Seq("c_id"))
      .select(col("q_id"), col("doc_id"))
    val adc = cands.join(codes, Seq("doc_id"))
      .join(broadcast(lut), Seq("q_id", "j", "code"))
      .groupBy("q_id", "doc_id")
      .agg(fxSum(col("part"), 9).as("score"))
    val lead = Knn.topKPerQuery(adc, 3 * k).select(col("q_id"), col("doc_id"))
    val exact = lead
      .join(broadcast(Knn.querySet(spark, dir)), Seq("q_id"))
      .join(Knn.docSet(spark, dir), Seq("doc_id"))
      .select(col("q_id"), col("doc_id"),
        dot(col("q_vec"), col("doc_vec")).as("score"))
    Knn.topKPerQuery(exact, k)
      .select(col("q_id"), col("rank"), col("doc_id"), rnd(col("score"), 4).as("score"))
      .transform(Knn.ranked("q_id", "rank"))
  }

  /** Persisted IVF+PQ composed layout — FAISS IndexIVFPQ's on-disk
    * artifact, completing the serving matrix for the COMPOSED path
    * (every single-level path already had one): the 8-codes-per-doc
    * table partitioned by coarse cell (`c_id=` directories) with BOTH
    * frozen fits traveling inside it (`_cent` coarse grid, `_fit`
    * codebook — the underscore convention). At 100 TB a query's scan
    * reads ONLY its probed cells' code files (DPP) at ~1 byte per
    * doc per subspace; float vectors are touched only by the
    * k-bounded exact re-rank. Built via [[Compaction.stagedBuild]] —
    * no crash point leaves codes without their fits. The fits are the
    * corpus's fixed seed centroids and seed codebook (oracle-
    * mirrorable); serving reads only the stored copies. Returns the
    * coarse grid it assigned under, pinned. */
  def writeIvfPqIndex(spark: SparkSession, dir: String, out: String): Grid = {
    val cent = seedCentroids(spark, dir)
    val cb = pqCodebook(spark, dir)
    val grid = pinGrid(cent)
    Compaction.stagedBuild(spark, out) { tmp =>
      // each doc's coarse cell and its PQ codes, both assigned in the
      // row: one scan, no join
      grid.assign(Knn.docSet(spark, dir).select(col("doc_id"), col("doc_vec")),
          "doc_vec")
        .select(col("doc_id"), pqCodesOf("doc_vec", pinCodebook(cb)), col("c_id"))
        // same cell-clustered write as writeIvfIndex (guide §6): one
        // consolidated code file per cell instead of one per writer
        // task per cell. The within-file sort is load-bearing: an
        // unsorted repartition scrambled the doc-clustered code runs
        // and the indexed read measured 0.97 -> 1.3+ s (scan + ADC
        // groupBy lose locality; j/code stop RLE-compressing).
        .repartition(col("c_id"))
        .sortWithinPartitions("c_id", "doc_id", "j")
        .write.mode("overwrite").partitionBy("c_id").parquet(tmp)
      Tables.writeFit(cent, s"$tmp/_cent", Tables.CentroidFit)
      Tables.writeFit(cb, s"$tmp/_fit", Tables.PqFit)
    }
    grid
  }

  /** [[ivfPq]] answered from a persisted [[writeIvfPqIndex]] layout:
    * both pruning levels compose against STORED artifacts — the probe
    * join DPP-prunes the code scan to the queries' nprobe cell
    * directories, ADC scores the surviving stored codes, the exact
    * re-rank finishes. Results ≡ [[ivfPq]] (same fits, same candidate
    * set, same fixed-point ADC), so it shares its oracle. */
  def ivfPqIndexed(spark: SparkSession, dir: String, indexPath: String,
                   k: Int = K, nProbe: Int = NProbe,
                   rerank: Int = -1): DataFrame =
    ivfPqProbe(spark, dir, indexPath, indexGrid(spark, indexPath), k, nProbe, rerank)

  /** [[ivfPqIndexed]] against the layout's grid already pinned. */
  private def ivfPqProbe(spark: SparkSession, dir: String, indexPath: String,
                         grid: Grid, k: Int, nProbe: Int, rerank: Int): DataFrame = {
    // defaults reproduce the verified fixed-fit query bit-identically;
    // the deployment path passes AutoProbe (√nlist against the stored
    // grid) and a scaled re-rank pool (VERDICT r14 §next-3: the 200k
    // flat-PQ saturation was localized to the fixed 3k pool)
    val cb = Tables.readFit(spark, s"$indexPath/_fit", Tables.PqFit)
    val np = if (nProbe > 0) nProbe else sqrtProbeCount(grid.size)
    val pool = if (rerank > 0) rerank else 3 * k
    // an index built before any data arrived holds its fits but ZERO
    // code files (a partitioned write of no rows emits no parts, so
    // schema inference fails loudly rather than wrongly) — serve the
    // empty relation instead of throwing
    val codes =
      try spark.read.parquet(indexPath)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getCondition)
              .exists(_.startsWith("UNABLE_TO_INFER_SCHEMA")) =>
          import spark.implicits._
          Seq.empty[(Long, Int, Long, Long)].toDF("doc_id", "j", "code", "c_id")
      }
    val qs = grid.assign(Knn.querySet(spark, dir), "q_vec", np)
      .select(col("q_id"), col("c_id"))
    val lut = Knn.querySet(spark, dir)
      .select(col("q_id"), posexplode(array(
        (0 until PqM).map(j => slice(col("q_vec"), j * PqSub + 1, PqSub)): _*))
        .as(Seq("j", "qvec")))
      .join(broadcast(cb), Seq("j"))
      .select(col("q_id"), col("j"), col("c_id").as("code"),
        dot(col("qvec"), col("cvec")).as("part"))
    val adc = codes.join(broadcast(qs), Seq("c_id"))
      .join(broadcast(lut), Seq("q_id", "j", "code"))
      .groupBy("q_id", "doc_id")
      .agg(fxSum(col("part"), 9).as("score"))
    val lead = Knn.topKPerQuery(adc, pool).select(col("q_id"), col("doc_id"))
    val exact = lead
      .join(broadcast(Knn.querySet(spark, dir)), Seq("q_id"))
      .join(Knn.docSet(spark, dir), Seq("doc_id"))
      .select(col("q_id"), col("doc_id"),
        dot(col("q_vec"), col("doc_vec")).as("score"))
    Knn.topKPerQuery(exact, k)
      .select(col("q_id"), col("rank"), col("doc_id"),
        rnd(col("score"), 4).as("score"))
      .transform(Knn.ranked("q_id", "rank"))
  }

  /** [[ivfPqIndexed]] over a memoized scratch build — the verified-
    * query form (`ann_ivf_pq_indexed`; shares [[ivfPq]]'s oracle). The
    * grid pinned at build is memoized with the layout, so no search
    * reads `_cent` back. */
  def ivfPqViaIndex(spark: SparkSession, dir: String, k: Int = K): DataFrame = {
    val (path, grid) = graft.Memo.scratchWith(spark, "graft-ivfpqidx", dir)(
      writeIvfPqIndex(spark, dir, _))
    ivfPqProbe(spark, dir, path, grid, k, NProbe, -1)
  }

  /** Materializes the IVF index in the layout a 100 TB deployment
    * serves from: the corpus stored ONCE as a `c_id`-partitioned
    * parquet table (one directory per centroid), each doc assigned in
    * its row under the pinned grid — one scan, one write. A probe
    * query then touches only its nprobe partitions — the scan skips
    * the rest of the corpus at the source, which is the entire point
    * of IVF. Defaults to the corpus's fixed seed centroids; trained
    * `centroids` give the √N deployment layout. Returns the grid,
    * pinned. */
  def writeIvfIndex(spark: SparkSession, dir: String, out: String,
                    centroids: Option[DataFrame] = None): Grid = {
    val cent = centroids.getOrElse(seedCentroids(spark, dir))
    val grid = pinGrid(cent)
    grid.assign(Knn.docSet(spark, dir)
        .select(col("doc_id"), col("doc_vec")), "doc_vec")
      // cluster by the layout key before the partitioned write (guide
      // §6, VERDICT r16 §next-3): without it every writer task holding
      // rows of a cell opens a file in that cell's directory — at scale
      // that is (tasks × cells) small files. One task per cell writes
      // one right-sized file (a √N-trained layout's cells are ~√N rows;
      // for very large cells spark.sql.files.maxRecordsPerFile is the
      // split knob).
      .repartition(col("c_id"))
      .sortWithinPartitions("c_id", "doc_id")
      .write.mode("overwrite").partitionBy("c_id").parquet(out)
    // the centroids travel WITH the index (r13; `_cent`, the `_fit`/
    // `_vocab` underscore convention — invisible to the partitioned
    // scan): a trained-grid index whose searches derive or receive
    // DIFFERENT centroids mis-probes SILENTLY (the lists still
    // exist, the results just degrade), so the
    // layout is self-contained and later calls need neither the
    // corpus's fixed seeds nor a caller-threaded frame.
    Tables.writeFit(cent, s"$out/_cent", Tables.CentroidFit)
    grid
  }

  /** The index's own stored centroids (`_cent`, written by
    * [[writeIvfIndex]] and [[writeIvfPqIndex]]), pinned. */
  private def indexGrid(spark: SparkSession, indexPath: String): Grid =
    pinGrid(Tables.readFit(spark, s"$indexPath/_cent", Tables.CentroidFit))

  /** Sentinel for [[ivfIndexed]]'s nProbe: resolve to
    * [[sqrtProbeCount]] of the index's own centroid count — the
    * tuned default for a [[writeTrainedIvfIndex]] √N layout (the
    * pinned grid's length). */
  val AutoProbe: Int = -1

  /** Probe-side search over a [[writeIvfIndex]] layout: queries pick
    * their top-NProbe centroids in-row, and the join of that broadcast
    * probe list against the partitioned index triggers DYNAMIC
    * PARTITION PRUNING — Spark plans a pruning subquery from the
    * broadcast side and the fact scan reads only the probed `c_id=`
    * directories. Asserted in PlanSpec (`dynamicpruning`). Same
    * results as [[ivf]]. Default grid: the index's own stored
    * `_cent` (self-contained serving). */
  def ivfIndexed(spark: SparkSession, dir: String, indexPath: String,
                 k: Int = K, centroids: Option[DataFrame] = None,
                 nProbe: Int = NProbe): DataFrame =
    ivfProbe(spark, dir, indexPath,
      centroids.map(pinGrid).getOrElse(indexGrid(spark, indexPath)), k, nProbe)

  /** [[ivfIndexed]] against a grid already pinned. */
  private def ivfProbe(spark: SparkSession, dir: String, indexPath: String,
                       grid: Grid, k: Int, nProbe: Int): DataFrame = {
    val np = if (nProbe > 0) nProbe else sqrtProbeCount(grid.size)
    // read with the layout's own schema: over an empty doc set the
    // partitioned write leaves no data file to infer it from
    val idx = spark.read.schema("doc_id BIGINT, doc_vec ARRAY<FLOAT>, c_id BIGINT")
      .parquet(indexPath)
    val qs = grid.assign(Knn.querySet(spark, dir), "q_vec", np)
      .select(col("q_id"), col("q_vec"), col("c_id"))
    val cands = idx.join(broadcast(qs), Seq("c_id"))
      .select(col("q_id"), col("doc_id"),
        dot(col("q_vec"), col("doc_vec")).as("score"))
    Knn.topKPerQuery(cands, k)
      .select(col("q_id"), col("rank"), col("doc_id"), rnd(col("score"), 4).as("score"))
      .transform(Knn.ranked("q_id", "rank"))
  }

  /** [[ivfIndexed]] over a memoized scratch [[writeIvfIndex]] layout —
    * the verified-query form (`ann_ivf_indexed`): first call builds
    * the partitioned index, every later call is the DPP-pruned probe
    * alone. The grid pinned at build is memoized with the layout, so
    * no search reads `_cent` back. Results ≡ [[ivf]] (same centroids,
    * same candidates), so it shares the ivf oracle. */
  def ivfViaIndex(spark: SparkSession, dir: String, k: Int = K): DataFrame = {
    val (path, grid) = graft.Memo.scratchWith(spark, "graft-ivfidx", dir)(
      writeIvfIndex(spark, dir, _))
    ivfProbe(spark, dir, path, grid, k, NProbe)
  }

  /** Centroid count for the √N deployment configuration (the FAISS
    * sizing rule: nlist ≈ √N balances cell scan cost N/nlist against
    * probe-ranking cost nlist). Floored at [[NCentroids]] so tiny
    * corpora keep the verified shape. */
  def sqrtCentroidCount(n: Long): Int =
    math.max(NCentroids, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Probe count scaled with the √N centroid grid (nprobe ≈ √nlist —
    * each query exact-scans ~nprobe·N/nlist ≈ N^(3/4)-ish rows; floored
    * at [[NProbe]]). */
  def sqrtProbeCount(kCent: Int): Int =
    math.max(NProbe, math.ceil(math.sqrt(kCent.toDouble)).toInt)

  /** End-to-end √N-centroid IVF: Lloyd-fit ⌈√N⌉ centroids on the doc
    * vectors, then the standard assign + probe plan with nprobe ≈
    * √nlist — the configuration a 100 TB deployment actually runs
    * (SURVEY §5), vs the fixed-[[NCentroids]] verified query whose
    * per-probe cell is N/16 of the corpus. Registered rows-only
    * (`ann_ivf_sqrtn`): the Lloyd fit is iterative, so no SQL oracle —
    * Round13Spec pins determinism, shape, and recall vs the exact
    * scan. The expensive leg is the fit (N·√N per iteration — the
    * measured ~N^1.5 scaling exponent is the fit, not the probe; a
    * deployment amortizes it across every later search via
    * [[writeIvfIndex]](centroids)). */
  def ivfSqrtN(spark: SparkSession, dir: String, k: Int = K,
               iters: Int = 2): DataFrame = {
    val docsEmb = Tables.embeddings(spark, dir)
      .filter(col("vec_id") >= Knn.NQueries)
    // one scalar job over ids — fit-time metadata (build path, same
    // documented pattern as fitCentroids' driver-side pinning)
    val kCent = sqrtCentroidCount(docsEmb.count())
    val cent = fitCentroids(docsEmb, kCent, iters, spherical = true)
      .select(col("c_id"),
        transform(col("c_vec"), x => x.cast("float")).as("c_vec"))
    ivf(spark, dir, k, centroids = Some(cent), nProbe = sqrtProbeCount(kCent))
  }

  /** The √N configuration as a PERSISTED serving layout (the
    * [[ivfSqrtN]] plan's deployment twin): fit ⌈√N⌉ spherical
    * centroids once, build the partitioned [[writeIvfIndex]] (which
    * stores them as `_cent`), and every later [[ivfIndexed]] call
    * with `nProbe = AutoProbe` probes √nlist cells of the stored
    * grid — fit and full-corpus assignment paid once, measured at
    * 200 k as recall 1.000 at a 4.9% per-query scan fraction. */
  def writeTrainedIvfIndex(spark: SparkSession, dir: String, out: String,
                           iters: Int = 2): Grid = {
    val docsEmb = Tables.embeddings(spark, dir)
      .filter(col("vec_id") >= Knn.NQueries)
    val kCent = sqrtCentroidCount(docsEmb.count())
    val cent = fitCentroids(docsEmb, kCent, iters, spherical = true)
      .select(col("c_id"),
        transform(col("c_vec"), x => x.cast("float")).as("c_vec"))
    writeIvfIndex(spark, dir, out, centroids = Some(cent))
  }

  /** [[ivfIndexed]] with [[AutoProbe]] over a memoized
    * [[writeTrainedIvfIndex]] layout — the registered `ann_ivf_sqrtn`
    * query shape (rows-only; the iterative fit has no SQL oracle):
    * first call fits + builds, every later call is the stored-grid
    * probe alone — the serving split every other *_indexed query
    * follows, and bit-identical to the in-plan [[ivfSqrtN]]
    * (Round13Spec: same sampled fit, same grid, same probe count). */
  def ivfSqrtNViaIndex(spark: SparkSession, dir: String, k: Int = K): DataFrame = {
    val (path, grid) = graft.Memo.scratchWith(spark, "graft-trainedivf", dir)(
      writeTrainedIvfIndex(spark, dir, _))
    ivfProbe(spark, dir, path, grid, k, AutoProbe)
  }

  /** Lloyd k-means fit over an embedding frame: each iteration is one
    * broadcast-assign + one groupBy-mean (two shuffle-free/one-shuffle
    * stages) — the scale path for real centroid training. Returns
    * (c_id, c_vec array<double>).
    *
    * `spherical = true` L2-normalizes each updated centroid (spherical
    * k-means — the standard trainer for max-inner-product/cosine IVF,
    * FAISS's `spherical` flag): Lloyd MEANS shrink unevenly (a tight
    * cluster's mean keeps its norm, a loose one's collapses), and
    * max-dot assignment/probing then systematically misranks cells —
    * measured at the 200 k decade corpus as the difference between an
    * unusable and a >0.9-recall trained grid. */
  /** Training-sample cap per centroid (FAISS's max_points_per_centroid
    * default): the fit's per-iteration cost is |train|·k, so capping
    * the training set at 256·k makes it O(k²) — INDEPENDENT of corpus
    * size. Full-corpus assignment happens once, in the index build. */
  val MaxPointsPerCentroid = 256

  def fitCentroids(emb0: DataFrame, k: Int, iters: Int = 5, dim: Int = Dim,
                   spherical: Boolean = false, nRows: Long = -1L): DataFrame = {
    val spark = emb0.sparkSession
    // deterministic hash-sampled training subset (retry-stable, the
    // sampleKey discipline — never rand()): ≤ ~256·k rows train the
    // grid, the corpus-size-independent cost FAISS uses. `nRows` lets
    // a caller that already knows the row count skip the scan
    // (fitPqCodebook fits 8 subspaces of the SAME frame).
    val emb = {
      val nTrain = MaxPointsPerCentroid.toLong * k
      val n = if (nRows >= 0) nRows else emb0.count()
      if (n <= nTrain) emb0
      else emb0.filter(
        pmod(xxhash64(lit(1313L), col("vec_id")), lit(1000000L)) <
          lit((nTrain.toDouble / n * 1000000L).toLong))
    }
    // k centroid rows are broadcast-by-construction: collecting them
    // each iteration keeps every Lloyd step an independent job (flat
    // plans) — the same thing MLlib's KMeans does driver-side. The
    // collected rows are also the grid the next assignment scores
    // against.
    def pin(df: DataFrame): (DataFrame, Grid) = {
      val rows = df.collect()
      (spark.createDataFrame(rows.toIndexedSeq.asJava, df.schema),
        // float ranking is how FAISS trains; the kept means stay double
        Grid(rows.map(_.getLong(0)),
          rows.map(_.getSeq[Double](1).map(_.toFloat).toArray)))
    }
    var (cent, grid) = pin(emb.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("c_id"), vecD(col("embedding")).as("c_vec")))
    for (_ <- 0 until iters) {
      // in-row assignment under the pinned float view of the
      // centroids ([[ivf]]'s kernel): no cross join, no per-point
      // aggregate, no shuffle before the update aggregate
      val assigned = grid.assign(emb.select(col("embedding")), "embedding")
      val agg = assigned.groupBy("c_id")
        .agg(array((0 until dim).map(i =>
          avg(element_at(col("embedding"), i + 1))): _*).as("c_vec_new"))
      // a cluster that received no points keeps its previous centroid
      // (the groupBy alone would silently shrink k across iterations)
      val updated = cent.join(agg, Seq("c_id"), "left")
        .select(col("c_id"), coalesce(col("c_vec_new"), col("c_vec")).as("cv"))
      // spherical normalization in DOUBLE arithmetic — the library's
      // l2Normalize rides the float kernel and must not see these
      // double means (the r13 silent-corruption lesson now also fails
      // at analysis, FloatArrayCheck); norm materialized in its own
      // projection so the HOF lambda doesn't re-fold it per element
      val (c, g) = pin(
        if (spherical)
          updated
            .select(col("c_id"), col("cv"), sqrt(aggregate(col("cv"),
              lit(0.0), (a, x) => a + x * x)).as("_nrm"))
            .select(col("c_id"),
              when(col("_nrm") > 0.0,
                transform(col("cv"), x => x / col("_nrm")))
                .otherwise(col("cv")).as("c_vec"))
        else updated.select(col("c_id"), col("cv").as("c_vec")))
      cent = c
      grid = g
    }
    cent
  }

  /** Per-subspace Lloyd-trained PQ codebooks — the production training
    * path ([[pqCodebook]]'s fixed seeds keep the *verified* query
    * oracle-mirrorable). Returns (c_id, j, cvec array<float>), same
    * shape as [[pqCodebook]]. */
  def fitPqCodebook(emb: DataFrame, iters: Int = 3,
                    nCodes: Int = PqCodes): DataFrame = {
    // one count shared by all 8 subspace fits' sampling gates
    val n = emb.count()
    // The PqM subspace fits are INDEPENDENT Lloyd chains of tiny
    // driver-pinned jobs (3 collects each); running them sequentially
    // made the trained-codebook cold path a ~24-collect serial chain
    // (r16 cold column: ann_pq_trained 7.8 s, opq_refined 14.6 s —
    // two codebook fits). Submit them from a driver thread pool
    // (guide §2.6 — concurrent jobs back-fill each other's tiny
    // stages) and assemble in j order: each subspace's computation is
    // UNTOUCHED, so the fit is bit-identical to the sequential form —
    // only the serial driver latency overlaps. (r17)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(PqM)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try {
      val futs = (0 until PqM).map { j => Future {
        val sub = emb.select(col("vec_id"),
          slice(col("embedding"), j * PqSub + 1, PqSub).as("embedding"))
        fitCentroids(sub, nCodes, iters, PqSub, nRows = n)
          .select(col("c_id"), lit(j).as("j"),
            transform(col("c_vec"), x => x.cast("float")).as("cvec"))
      }}
      futs.map(Await.result(_, Duration.Inf)).reduce(_.unionByName(_))
    } finally pool.shutdown()
  }

  /** The [[fitPqCodebook]] fit collected driver-side (≤ PqM·PqCodes
    * rows — broadcast-scale by construction), memoized per dir. These
    * rows are BOTH the Spark plan's codebook (a LocalRelation) and the
    * oracle's literal table, so the registered query and the Verify
    * oracle overlay cannot see different fits. */
  def trainedPqRows(spark: SparkSession, dir: String): Seq[(Long, Int, Seq[Float])] =
    graft.Memo(spark, "pq-trained", dir)(
      codebookRows(fitPqCodebook(Tables.embeddings(spark, dir), iters = 2)))

  /** A (c_id, j, cvec) codebook fit collected driver-side in (j, c_id)
    * order, whatever the fit's partitioning, so the frozen-fit overlays
    * render the same text for the same rows. The order moves no
    * result: the assignment kernel breaks ties by c_id
    * ([[graft.functions.Kernels.subspaceArgmin]]). */
  def codebookRows(fit: DataFrame): Seq[(Long, Int, Seq[Float])] =
    fit.select(col("c_id"), col("j"), col("cvec")).collect().toIndexedSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2)))
      .sortBy { case (c, j, _) => (j, c) }

  private def trainedPqCodebookDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainedPqRows(spark, dir).map { case (c, j, v) => (c, j, v.toArray) }
      .toDF("c_id", "j", "cvec")
  }

  /** [[pqSearch]] under the Lloyd-TRAINED codebook — the production
    * PQ configuration (FAISS trains per-subspace k-means; the seed
    * codebook keeps the always-static oracle) at the SAME code budget.
    * Oracle-verified through the frozen-fit literal overlay (the
    * [[Opq.SqlOracle]] technique): the fitted codewords ride into
    * DuckDB as double literals equal to the floats' widened values,
    * so encode, ADC and re-rank mirror operand-for-operand.
    * `eval_ann_recall_pq_trained` reads beside `eval_ann_recall_pq` —
    * the measured answer to "what does training the codebook buy over
    * the seeds". */
  def pqSearchTrained(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    pqSearch(spark, dir, k, Some(trainedPqCodebookDf(spark, dir)))

  private implicit class SeqAsJava[T](s: Seq[T]) {
    def asJava: java.util.List[T] = {
      val l = new java.util.ArrayList[T](s.size)
      s.foreach(l.add)
      l
    }
  }

  object SqlOracle {
    /** Plane literals rendered with round-trip double formatting (an
      * exponent marker forces DuckDB to parse DOUBLE, not DECIMAL). */
    private def planeList(j: Int): String =
      planes(j).map { x =>
        val r = java.lang.Double.toString(x)
        if (r.contains("E") || r.contains("e")) r else r + "e0"
      }.mkString("[", ", ", "]")

    /** Signature bits via the same sequential fold the kernel runs. */
    private[operators] def sigExpr(vec: String): String = {
      val bits = (0 until NPlanes).map { j =>
        val d = s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"[CAST(($vec)[i] AS DOUBLE) * (${planeList(j)})[i] for i in range(1, ${Dim + 1})]), " +
          s"(x, y) -> x + y)"
        s"(CASE WHEN $d > 0.0e0 THEN ${1L << j} ELSE 0 END)"
      }
      bits.mkString("(", " + ", ")")
    }

    def lshHyperplaneSql(docFilter: String): String =
      s"""WITH q0 AS ${Knn.SqlOracle.queriesCte()},
         |d0 AS (SELECT * FROM ${Knn.SqlOracle.docsCte()} d WHERE $docFilter),
         |qs AS (SELECT q_id, q_vec, ${sigExpr("q_vec")} AS sig FROM q0),
         |dsg AS (SELECT doc_id, doc_vec, ${sigExpr("doc_vec")} AS sig FROM d0),
         |qb AS (SELECT q_id, q_vec, b.band, (sig >> ($BandBits * b.band)) & ${(1 << BandBits) - 1} AS bkt
         |       FROM qs CROSS JOIN (SELECT unnest(range($NBands)) AS band) b),
         |db AS (SELECT doc_id, doc_vec, b.band, (sig >> ($BandBits * b.band)) & ${(1 << BandBits) - 1} AS bkt
         |       FROM dsg CROSS JOIN (SELECT unnest(range($NBands)) AS band) b),
         |cands AS (
         |  SELECT DISTINCT q_id, doc_id FROM db JOIN qb USING (band, bkt)),
         |scored AS (
         |  SELECT c.q_id, c.doc_id, ${S.dot("q.q_vec", "d.doc_vec", Dim)} AS score
         |  FROM cands c JOIN q0 q USING (q_id) JOIN d0 d USING (doc_id)),
         |ranked AS (
         |  SELECT q_id, doc_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
         |  FROM scored)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, ${S.rnd("score", 4)} AS score
         |FROM ranked WHERE rank <= $K
         |ORDER BY q_id, rank""".stripMargin

    val lshHyperplane: String = lshHyperplaneSql("TRUE")
    val lshFiltered: String = lshHyperplaneSql(Knn.SqlOracle.metaPredicate)

    /** Sequential subspace squared-L2 between two full vectors at a
      * column offset j*sub (j is a plain column — bindable in DuckDB
      * comprehensions). */
    private def subDist2(a: String, b: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"[(CAST($a[j*$PqSub+i] AS DOUBLE) - CAST($b[j*$PqSub+i] AS DOUBLE)) * " +
        s"(CAST($a[j*$PqSub+i] AS DOUBLE) - CAST($b[j*$PqSub+i] AS DOUBLE)) for i in range(1, ${PqSub + 1})]), " +
        s"(x, y) -> x + y)"

    private def subDot(a: String, b: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"[CAST($a[j*$PqSub+i] AS DOUBLE) * CAST($b[j*$PqSub+i] AS DOUBLE) for i in range(1, ${PqSub + 1})]), " +
        s"(x, y) -> x + y)"

    private val encodeCtes: String =
      s"""cb AS (SELECT vec_id AS c_id, embedding AS vc FROM embeddings
         |       WHERE vec_id < $PqCodes),
         |subs AS (SELECT vec_id, j, embedding AS ve
         |         FROM embeddings CROSS JOIN (SELECT unnest(range($PqM)) AS j)),
         |scored AS (
         |  SELECT s.vec_id, s.j, cb.c_id, ${subDist2("s.ve", "cb.vc")} AS d2
         |  FROM subs s CROSS JOIN cb),
         |codes AS (
         |  SELECT vec_id, j, c_id AS code FROM (
         |    SELECT vec_id, j, c_id,
         |      row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c_id) AS r
         |    FROM scored) WHERE r = 1)""".stripMargin

    val pqEncode: String =
      s"""WITH $encodeCtes
         |SELECT vec_id, CAST(j AS BIGINT) AS subspace, code
         |FROM codes""".stripMargin

    val pqSearch: String =
      s"""WITH $encodeCtes,
         |q0 AS ${Knn.SqlOracle.queriesCte()},
         |d0 AS ${Knn.SqlOracle.docsCte()},
         |lut AS (
         |  SELECT s.q_id, s.j, cb.c_id AS code, ${subDot("s.qv", "cb.vc")} AS part
         |  FROM (SELECT q_id, j, q_vec AS qv
         |        FROM q0 CROSS JOIN (SELECT unnest(range($PqM)) AS j)) s
         |  CROSS JOIN cb),
         |adc AS (
         |  SELECT lut.q_id, c.vec_id AS doc_id,
         |    ${S.fxSum("lut.part", 9)} AS score
         |  FROM codes c JOIN lut ON c.j = lut.j AND c.code = lut.code
         |  WHERE c.vec_id >= ${Knn.NQueries}
         |  GROUP BY lut.q_id, c.vec_id),
         |cand AS (
         |  SELECT q_id, doc_id FROM (
         |    SELECT q_id, doc_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS r
         |    FROM adc) WHERE r <= ${3 * K}),
         |exact AS (
         |  SELECT c.q_id, c.doc_id, ${S.dot("q.q_vec", "d.doc_vec", Dim)} AS score
         |  FROM cand c JOIN q0 q USING (q_id) JOIN d0 d USING (doc_id)),
         |ranked AS (
         |  SELECT q_id, doc_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
         |  FROM exact)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, ${S.rnd("score", 4)} AS score
         |FROM ranked WHERE rank <= $K
         |ORDER BY q_id, rank""".stripMargin

    /** Mirror of [[Ann.pqSearchTrained]] under a FROZEN trained
      * codebook (Verify-overlay only — the Lloyd fit has no SQL form,
      * its output is a constant 128-row table): codeword literals are
      * the floats' exact widened doubles (Double.toString of
      * f.toDouble round-trips; Float.toString would parse to a
      * DIFFERENT double), so the per-subspace distance and dot folds
      * see bit-identical operands in both engines. Same structure as
      * [[pqSearch]]'s mirror with the 8-dim (c_id, j, vc) codebook
      * joined on j instead of full-vector slicing. */
    def pqSearchTrainedSql(cb: Seq[(Long, Int, Seq[Float])], k: Int = K): String =
      trainedPqSqlOver(cb, k, prefixCtes = "",
        docSrc = "(SELECT vec_id, embedding AS ve FROM embeddings)",
        qSrc = "q0")

    /** The trained-codebook PQ pipeline mirror over parameterized
      * sources — shared by the plain form ([[pqSearchTrainedSql]])
      * and [[Opq.SqlOracle]]'s rotated form (codes and LUT read the
      * rotated CTE, the exact re-rank stays on the original
      * vectors). */
    private[operators] def trainedPqSqlOver(cb: Seq[(Long, Int, Seq[Float])],
                                            k: Int, prefixCtes: String,
                                            docSrc: String,
                                            qSrc: String): String = {
      def dbl(x: Double): String = {
        val s = java.lang.Double.toString(x)
        if (s.contains("E") || s.contains("e")) s else s + "e0"
      }
      val rows = cb.map { case (c, j, v) =>
        s"($c, $j, [${v.map(f => dbl(f.toDouble)).mkString(", ")}])"
      }.mkString(",\n")
      def subD2(a: String): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"[(CAST($a[j*$PqSub+i] AS DOUBLE) - vc[i]) * " +
          s"(CAST($a[j*$PqSub+i] AS DOUBLE) - vc[i]) " +
          s"for i in range(1, ${PqSub + 1})]), (x, y) -> x + y)"
      def subDt(a: String): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"[CAST($a[j*$PqSub+i] AS DOUBLE) * vc[i] " +
          s"for i in range(1, ${PqSub + 1})]), (x, y) -> x + y)"
      s"""WITH ${prefixCtes}cb AS (SELECT * FROM (VALUES
         |$rows) t(c_id, j, vc)),
         |q0 AS ${Knn.SqlOracle.queriesCte()},
         |d0 AS ${Knn.SqlOracle.docsCte()},
         |codes AS (
         |  SELECT vec_id, j, c_id AS code FROM (
         |    SELECT s.vec_id, cb.j, cb.c_id,
         |      row_number() OVER (PARTITION BY s.vec_id, cb.j
         |        ORDER BY ${subD2("s.ve")}, cb.c_id) AS r
         |    FROM $docSrc s
         |    CROSS JOIN cb) WHERE r = 1),
         |lut AS (
         |  SELECT q.q_id, cb.j, cb.c_id AS code, ${subDt("q.q_vec")} AS part
         |  FROM $qSrc q CROSS JOIN cb),
         |adc AS (
         |  SELECT lut.q_id, c.vec_id AS doc_id,
         |    ${S.fxSum("lut.part", 9)} AS score
         |  FROM codes c JOIN lut ON c.j = lut.j AND c.code = lut.code
         |  WHERE c.vec_id >= ${Knn.NQueries}
         |  GROUP BY lut.q_id, c.vec_id),
         |cand AS (
         |  SELECT q_id, doc_id FROM (
         |    SELECT q_id, doc_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS r
         |    FROM adc) WHERE r <= ${3 * k}),
         |exact AS (
         |  SELECT c.q_id, c.doc_id, ${S.dot("q.q_vec", "d.doc_vec", Dim)} AS score
         |  FROM cand c JOIN q0 q USING (q_id) JOIN d0 d USING (doc_id)),
         |ranked AS (
         |  SELECT q_id, doc_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
         |  FROM exact)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, ${S.rnd("score", 4)} AS score
         |FROM ranked WHERE rank <= $k
         |ORDER BY q_id, rank""".stripMargin
    }

    /** Mirror of [[Ann.sq8Search]]: identical fit, code, and base/step
      * arithmetic (same IEEE operand order), fixed-point ADC sum, 3k
      * candidate cut, exact re-rank. */
    val sq8Search: String =
      s"""WITH q0 AS ${Knn.SqlOracle.queriesCte()},
         |d0 AS ${Knn.SqlOracle.docsCte()},
         |vals AS (SELECT doc_id, i AS dim, CAST(doc_vec[i] AS DOUBLE) AS v
         |         FROM d0 CROSS JOIN (SELECT unnest(range(1, ${Dim + 1})) AS i)),
         |ranges AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM vals GROUP BY dim),
         |codes AS (
         |  SELECT doc_id, dim,
         |    CAST(CASE WHEN hi > lo
         |      THEN least(255.0e0, greatest(0.0e0,
         |             floor((v - lo) / (hi - lo) * 255.0e0 + 0.5e0)))
         |      ELSE 0.0e0 END AS BIGINT) AS code
         |  FROM vals JOIN ranges USING (dim)),
         |qp AS (
         |  SELECT q_id, dim, q * lo AS base, q * ((hi - lo) / 255.0e0) AS step
         |  FROM (SELECT q_id, i AS dim, CAST(q_vec[i] AS DOUBLE) AS q
         |        FROM q0 CROSS JOIN (SELECT unnest(range(1, ${Dim + 1})) AS i))
         |  JOIN ranges USING (dim)),
         |adc AS (
         |  SELECT q_id, doc_id, ${S.fxSum("base + code * step", 9)} AS score
         |  FROM codes JOIN qp USING (dim)
         |  GROUP BY q_id, doc_id),
         |cand AS (SELECT q_id, doc_id FROM (
         |    SELECT q_id, doc_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS r
         |    FROM adc) WHERE r <= ${3 * K}),
         |exact AS (
         |  SELECT c.q_id, c.doc_id, ${S.dot("q.q_vec", "d.doc_vec", Dim)} AS score
         |  FROM cand c JOIN q0 q USING (q_id) JOIN d0 d USING (doc_id)),
         |ranked AS (
         |  SELECT q_id, doc_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
         |  FROM exact)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, ${S.rnd("score", 4)} AS score
         |FROM ranked WHERE rank <= $K
         |ORDER BY q_id, rank""".stripMargin

    def ivfSql(docFilter: String, nProbe: Int = NProbe): String =
      s"""WITH q0 AS ${Knn.SqlOracle.queriesCte()},
         |d0 AS (SELECT * FROM ${Knn.SqlOracle.docsCte()} d WHERE $docFilter),
         |cent AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings
         |         WHERE vec_id < $NCentroids),
         |dscore AS (
         |  SELECT doc_id, c_id, ${S.dot("doc_vec", "c_vec", Dim)} AS s
         |  FROM d0 CROSS JOIN cent),
         |dassign AS (
         |  SELECT doc_id, c_id FROM (
         |    SELECT doc_id, c_id,
         |      row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, c_id) AS r
         |    FROM dscore) WHERE r = 1),
         |qscore AS (
         |  SELECT q_id, c_id, ${S.dot("q_vec", "c_vec", Dim)} AS s
         |  FROM q0 CROSS JOIN cent),
         |qprobe AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT q_id, c_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY s DESC, c_id) AS r
         |    FROM qscore) WHERE r <= $nProbe),
         |cands AS (
         |  SELECT DISTINCT q_id, doc_id
         |  FROM dassign JOIN qprobe USING (c_id)),
         |scored AS (
         |  SELECT c.q_id, c.doc_id, ${S.dot("q.q_vec", "d.doc_vec", Dim)} AS score
         |  FROM cands c JOIN q0 q USING (q_id) JOIN d0 d USING (doc_id)),
         |ranked AS (
         |  SELECT q_id, doc_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
         |  FROM scored)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, ${S.rnd("score", 4)} AS score
         |FROM ranked WHERE rank <= $K
         |ORDER BY q_id, rank""".stripMargin

    val ivf: String = ivfSql("TRUE")
    val ivfFiltered: String = ivfSql(Knn.SqlOracle.metaPredicate)

    val ivfPq: String =
      s"""WITH $encodeCtes,
         |q0 AS ${Knn.SqlOracle.queriesCte()},
         |d0 AS ${Knn.SqlOracle.docsCte()},
         |cent AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings
         |         WHERE vec_id < $NCentroids),
         |dscore AS (
         |  SELECT doc_id, c_id, ${S.dot("doc_vec", "c_vec", Dim)} AS s
         |  FROM d0 CROSS JOIN cent),
         |dassign AS (
         |  SELECT doc_id, c_id FROM (
         |    SELECT doc_id, c_id,
         |      row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, c_id) AS r
         |    FROM dscore) WHERE r = 1),
         |qscore AS (
         |  SELECT q_id, c_id, ${S.dot("q_vec", "c_vec", Dim)} AS s
         |  FROM q0 CROSS JOIN cent),
         |qprobe AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT q_id, c_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY s DESC, c_id) AS r
         |    FROM qscore) WHERE r <= $NProbe),
         |lut AS (
         |  SELECT s.q_id, s.j, cb.c_id AS code, ${subDot("s.qv", "cb.vc")} AS part
         |  FROM (SELECT q_id, j, q_vec AS qv
         |        FROM q0 CROSS JOIN (SELECT unnest(range($PqM)) AS j)) s
         |  CROSS JOIN cb),
         |cands AS (
         |  SELECT q_id, doc_id FROM dassign JOIN qprobe USING (c_id)),
         |adc AS (
         |  SELECT ca.q_id, ca.doc_id, ${S.fxSum("lut.part", 9)} AS score
         |  FROM cands ca
         |  JOIN codes c ON c.vec_id = ca.doc_id
         |  JOIN lut ON lut.q_id = ca.q_id AND lut.j = c.j AND lut.code = c.code
         |  GROUP BY ca.q_id, ca.doc_id),
         |lead AS (
         |  SELECT q_id, doc_id FROM (
         |    SELECT q_id, doc_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS r
         |    FROM adc) WHERE r <= ${3 * K}),
         |exact AS (
         |  SELECT l.q_id, l.doc_id, ${S.dot("q.q_vec", "d.doc_vec", Dim)} AS score
         |  FROM lead l JOIN q0 q USING (q_id) JOIN d0 d USING (doc_id)),
         |ranked AS (
         |  SELECT q_id, doc_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
         |  FROM exact)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, ${S.rnd("score", 4)} AS score
         |FROM ranked WHERE rank <= $K
         |ORDER BY q_id, rank""".stripMargin
  }
}
