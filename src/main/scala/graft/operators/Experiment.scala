package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions._
import graft.functions.{Sql => S}

/** The reference's end-to-end experiment flow as ONE composed plan
  * (ref: experiments/run_experiments.py and auto_run_tests.py:109-160 —
  * encode corpus → ingest → search top-k → evaluate → group-by summary
  * row → CSV under experiments/results/).
  *
  * [[summary]] is the deterministic core (encode + retrieve + evaluate
  * → one summary row) and is oracle-verified; [[run]] wraps it with the
  * wall-clock stage timings the ref also records (timings are
  * nondeterministic, so that form is test-covered, not oracle-compared)
  * and writes the ref's summary-CSV shape via Sources.writeSummaryCsv.
  *
  * Ground truth mirrors the ref's synthetic qrels (auto_run_tests.py:
  * 260-268 regenerates queries from docs): a doc is relevant to a query
  * doc iff it shares the query's `lang`.
  */
object Experiment {
  val K = 10
  val NQ = 5

  /** Arm retrievals memoized per session — the experiment grid's
    * shared intermediates (VERDICT r12 §next-7): [[summary]],
    * [[matrix]] and [[Report.modeLift]] all consume the SAME ≤nq·k
    * rank rows per arm, and without memoization every report query
    * re-scans and re-scores the corpus for arms another query already
    * computed. Each arm is localCheckpoint'ed (materialized blocks,
    * tiny by construction) — the in-session mirror of a persisted
    * retrieval-run artifact, same contract as [[KnnGraph.docGraph]]
    * and the memoized vocabulary fits. */
  private[operators] def arm(spark: SparkSession, dir: String, which: String,
                             k: Int, nq: Int, dim: Int): DataFrame =
    // scores ride along (r13): the alpha-fusion hybrid needs each
    // arm's scores, not just ranks — consumers project their columns
    graft.Memo(spark, "arm", dir, which, k, nq, dim)((which match {
      case "hashing" => Encoders.hashingSearch(spark, dir, k, nq, dim)
        .select(col("q_id"), col("rank"), col("doc_id"), col("score"))
      case "tfidf" => Encoders.tfIdfSearch(spark, dir, k, nq, dim)
        .select(col("q_id"), col("rank"), col("doc_id"), col("score"))
      // the BM25 fit is an eager memoized driver-side job shared with
      // every other consumer of the same corpus fit (bm25TopK's
      // fit=None resolves to the SAME memoized rows, so arm-backed and
      // direct keyword retrievals are bit-identical)
      case "bm25" => Encoders.bm25TopK(spark, dir, k, nq, dim,
          fit = Some(Encoders.bm25IdfRows(spark, dir, dim)))
        .select(col("q_id"), col("doc_id"), col("rank").as("rk"), col("score"))
    }).localCheckpoint(true))

  /** One verified summary row: model, dim, corpus/query counts, mean
    * p@5 / p@10 / MAP of hashing-TF retrieval (the auto_test summary
    * shape). All means are order-free fixed-point folds.
    *
    * FUSED (round 13): derives from the SAME memoized hashing arm and
    * [[evalKeyed]] path as [[matrix]]'s (hashing_tf, vector) leg, so a
    * report build running summary + matrix + mode_lift scores the
    * hashing retrieval once instead of three times. Bit-identical to
    * the direct [[summaryUnfused]] form (Round5Spec). */
  def summary(spark: SparkSession, dir: String, k: Int = K,
              nq: Int = NQ, dim: Int = Encoders.Dim): DataFrame = {
    import spark.implicits._
    val ret = arm(spark, dir, "hashing", k, nq, dim)
      .select(lit("hashing_tf").as("model"), col("q_id"), col("rank"),
        col("doc_id"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val keysGrid = broadcast(Seq("hashing_tf").toDF("model"))
    val perQBase = keysGrid.crossJoin(broadcast(
      docs.filter(col("doc_id") < nq).select(col("doc_id").as("q_id"))))
    keysGrid
      .join(evalKeyed(ret, Seq("model"), perQBase, docs, nq, k),
        Seq("model"), "left")
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
      .select(col("model"), lit(dim.toLong).as("dim"), col("n_docs"),
        coalesce(col("n_queries"), lit(0L)).as("n_queries"),
        col("mean_p_at_5"), col("mean_p_at_10"), col("map"))
  }

  /** The pre-round-13 direct formulation — kept as the equivalence
    * baseline for the fused [[summary]] (Round5Spec asserts
    * bit-identical output). */
  def summaryUnfused(spark: SparkSession, dir: String, k: Int = K,
                     nq: Int = NQ, dim: Int = Encoders.Dim): DataFrame =
    summaryFor(spark, dir,
      Encoders.hashingSearch(spark, dir, k, nq, dim), "hashing_tf", k, nq, dim)

  /** The ref's experiment grid (auto_run_tests runs every encoder and
    * group-bys "by model"; its H2 grid additionally sweeps
    * search_modes = ["vector", "hybrid"], auto_run_tests.py:624, with
    * search_mode a grouping key, :221): the SAME evaluation harness
    * applied to each (encoder, search_mode) retrieval — vector = the
    * encoder's cosine top-k, hybrid = RRF fusion of that arm with
    * BM25 ([[Encoders.hybridSearch]]). One row per (model,
    * search_mode); each leg is an independent subplan, so legs
    * parallelize across the cluster and a new mode is one more union
    * arm. */
  def matrix(spark: SparkSession, dir: String, k: Int = K,
             nq: Int = NQ, dim: Int = Encoders.Dim): DataFrame = {
    import spark.implicits._
    // FUSED (round 12): the three arm retrievals are computed once and
    // every (model, mode) leg derives from them — the hybrid legs are
    // RRF row-arithmetic over the arms' ≤nq·k rank rows, not fresh
    // corpus-scanning subplans ([[matrixUnioned]] re-ran each vector
    // arm inside its hybrid leg). Round 13: the arms are the memoized
    // [[arm]] artifacts, shared with [[summary]] across the session.
    val hr = arm(spark, dir, "hashing", k, nq, dim)
    val tr = arm(spark, dir, "tfidf", k, nq, dim)
    val kw = arm(spark, dir, "bm25", k, nq, dim)
    // hybridSearch's exact RRF expression over pre-computed arm ranks
    def rrf(vec: DataFrame): DataFrame = {
      val fused = vec.select(col("q_id"), col("doc_id"), col("rank").as("rv"))
        .join(kw, Seq("q_id", "doc_id"), "full_outer")
        .select(col("q_id"), col("doc_id"),
          (coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rk")), lit(0.0))).as("score"))
      Knn.topKPerQuery(fused, k).select(col("q_id"), col("rank"), col("doc_id"))
    }
    def tag(r: DataFrame, model: String, mode: String) =
      r.select(lit(model).as("model"), lit(mode).as("search_mode"),
        col("q_id"), col("rank"), col("doc_id"))
    val ret = tag(hr, "hashing_tf", "vector")
      .unionByName(tag(tr, "tfidf", "vector"))
      .unionByName(tag(rrf(hr), "hashing_tf", "hybrid"))
      .unionByName(tag(rrf(tr), "tfidf", "hybrid"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val keysGrid = broadcast(
      Seq(("hashing_tf", "vector"), ("hashing_tf", "hybrid"),
        ("tfidf", "vector"), ("tfidf", "hybrid"))
        .toDF("model", "search_mode"))
    val perQBase = keysGrid.crossJoin(broadcast(
      docs.filter(col("doc_id") < nq).select(col("doc_id").as("q_id"))))
    // empty legs (0-doc corpus) re-attach from the key grid, matching
    // the unioned form's one global-agg row per leg
    keysGrid
      .join(evalKeyed(ret, Seq("model", "search_mode"), perQBase, docs, nq, k),
        Seq("model", "search_mode"), "left")
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
      .select(col("model"), col("search_mode"), lit(dim.toLong).as("dim"),
        col("n_docs"), coalesce(col("n_queries"), lit(0L)).as("n_queries"),
        col("mean_p_at_5"), col("mean_p_at_10"), col("map"))
      .orderBy("model", "search_mode")
  }

  /** The pre-round-12 one-leg-per-(model, mode) formulation — kept as
    * the equivalence baseline for the fused [[matrix]] (spec asserts
    * bit-identical output). */
  def matrixUnioned(spark: SparkSession, dir: String, k: Int = K,
                    nq: Int = NQ, dim: Int = Encoders.Dim): DataFrame = {
    def leg(ret: DataFrame, model: String, mode: String) =
      summaryFor(spark, dir, ret, model, k, nq, dim)
        .withColumn("search_mode", lit(mode))
        .select(col("model"), col("search_mode"), col("dim"), col("n_docs"),
          col("n_queries"), col("mean_p_at_5"), col("mean_p_at_10"), col("map"))
    val kwFit = Some(Encoders.bm25IdfRows(spark, dir, dim))
    leg(Encoders.hashingSearch(spark, dir, k, nq, dim), "hashing_tf", "vector")
      .unionByName(leg(Encoders.tfIdfSearch(spark, dir, k, nq, dim), "tfidf", "vector"))
      .unionByName(leg(Encoders.hybridSearch(spark, dir, k, nq, dim, "hashing_tf", kwFit),
        "hashing_tf", "hybrid"))
      .unionByName(leg(Encoders.hybridSearch(spark, dir, k, nq, dim, "tfidf", kwFit),
        "tfidf", "hybrid"))
      .orderBy("model", "search_mode")
  }

  /** The summaryFor evaluation keyed by an arbitrary grid — shared by
    * the fused [[sizes]] and [[matrix]]: `ret` carries
    * (keys…, q_id, rank, doc_id) for EVERY leg at once, `perQBase` the
    * full (keys…, q_id) grid — one row per (leg, query) so legs with
    * no hits still report zero rows, and a leg whose sub-corpus caps
    * away some queries (cap < nq) lists only its own. Output is one
    * (keys…, n_queries, mean_p_at_5, mean_p_at_10, map) row per key
    * PRESENT IN perQBase — callers re-attach empty legs from their key
    * grid (the unioned form's global-agg-over-empty row) — with the
    * same order-free fixed-point folds as the per-leg form, so
    * fused ≡ unioned bit-identically. */
  private def evalKeyed(ret: DataFrame, keys: Seq[String], perQBase: DataFrame,
                        docs: DataFrame, nq: Int, k: Int): DataFrame = {
    val qLang = broadcast(docs.filter(col("doc_id") < nq)
      .select(col("doc_id").as("q_id"), col("lang").as("q_lang")))
    val h = broadcast(ret)
      .join(qLang, "q_id")
      .join(docs.select(col("doc_id"), col("lang").as("d_lang")), "doc_id")
      .withColumn("rel", (col("q_lang") === col("d_lang")).cast("long"))
    val gk = keys :+ "q_id"
    val pq = h.groupBy(gk.map(col): _*).agg(
      (sum(when(col("rank") <= 5, col("rel")).otherwise(0L)) / 5.0).as("p5"),
      (sum(when(col("rank") <= k, col("rel")).otherwise(0L)) / k.toDouble).as("p10"))
    val cum = Window.partitionBy(gk.map(col): _*).orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ap = h.withColumn("cum_rel", sum("rel").over(cum))
      .filter(col("rel") === 1)
      .groupBy(gk.map(col): _*)
      .agg(fxAvg(col("cum_rel") / col("rank"), 6).as("ap"))
    val perQ = perQBase
      .join(pq, gk, "left")
      .join(ap, gk, "left")
    perQ.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n_queries"),
      rnd(fxAvg(coalesce(col("p5"), lit(0.0)), 6), 4).as("mean_p_at_5"),
      rnd(fxAvg(coalesce(col("p10"), lit(0.0)), 6), 4).as("mean_p_at_10"),
      rnd(fxAvg(coalesce(col("ap"), lit(0.0)), 6), 4).as("map"))
  }

  /** The reference's by-corpus-size sweep (ref: experiments/
    * produce_h3_summary_and_plots.py — h3_summary_by_n_docs.csv, one
    * row per (n_docs, model)): the SAME evaluation harness over
    * doc_id-prefix sub-corpora, each leg re-fitting its own vocabulary
    * on its prefix exactly as the ref refits per generated corpus
    * size. Caps are absolute id prefixes so the declared oracle SQL is
    * SF-independent; `n_docs` reports each leg's actual size (at small
    * SFs a cap can exceed the corpus and legs coincide — rows stay
    * distinct via `corpus_cap`).
    *
    * FUSED (round 12): the whole |caps|×|models| grid runs as TWO plan
    * families over ONE corpus pass each, instead of 6 independent
    * union legs re-scanning and re-scoring per cap
    * ([[sizesUnioned]] — 60 scans / 66 shuffles; this plan: ~5 scans).
    *  - hashing: cosine of a (q, doc) pair is cap-independent (per-doc
    *    norms, integer bucket dot), so pairs are scored ONCE at the
    *    largest cap and each cap's leg is a filter + its own bounded-
    *    heap top-k keyed (corpus_cap, q_id).
    *  - tfidf: the fit moves with the cap, so the per-cap vocabularies
    *    ride as ONE broadcast literal (corpus_cap, tok, idf) table
    *    (each from the SAME memoized [[Encoders.fitVocab]] the unioned
    *    legs used); weights, norms and scores are keyed by corpus_cap
    *    throughout.
    * Bit-identical to [[sizesUnioned]] (asserted in ExperimentSpec) and
    * to the unchanged SQL oracle. At 100 TB this is the difference
    * between 2 corpus scans and 2·|caps| of them. */
  def sizes(spark: SparkSession, dir: String, caps: Seq[Long] = SizeCaps,
            k: Int = K, nq: Int = NQ, dim: Int = Encoders.Dim): DataFrame =
    sizesGrid(spark, dir, caps, k, nq, dim).orderBy("corpus_cap", "model")

  /** [[sizes]] without the final presentation orderBy — what consumers
    * that re-sort anyway ([[Report.modelBySize]]'s window) should read
    * (r17): EliminateSorts cannot descend through a Window, so under
    * the bench's count() the inner orderBy survived column pruning as
    * a DEAD global sort (sampling job + range exchange + sort) in
    * report_model_by_size's executed plan. */
  private[operators] def sizesGrid(spark: SparkSession, dir: String,
            caps: Seq[Long] = SizeCaps,
            k: Int = K, nq: Int = NQ, dim: Int = Encoders.Dim): DataFrame = {
    import spark.implicits._
    val capsDf = broadcast(caps.toDF("corpus_cap"))
    val maxCap = caps.max

    // ONE capped corpus read (r17): maxCap bounds every leg of the
    // grid, and the sf-shaped documents.parquet is a single row group,
    // so each of the plan's 14 scans re-read (and for the two encode
    // legs re-decompressed the text column of) the whole file just to
    // keep ≤maxCap rows. The capped slice is grid-metadata-sized —
    // materialize it once, derive every leg from the blocks.
    val docsCapped = Tables.documents(spark, dir)
      .filter(col("doc_id") < maxCap)
      .select(col("doc_id"), col("lang"), col("text"))
      .localCheckpoint(true)

    // hashing arm: score once at maxCap, fan out to caps by filter —
    // counts+norm from the map-side postings projection (r16, see
    // Encoders.postingsOf: no exchange, no window in the encode leg)
    val cn = Encoders.postingsOf(docsCapped, dim)
    val qc = cn.filter(col("doc_id") < nq)
      .select(col("doc_id").as("q_id"), col("bucket"),
        col("cnt").as("qcnt"), col("norm").as("qn"))
    // BOTH endpoints respect the leg's cap: a cap below nq (legal, if
    // unusual) also caps its query set in the unioned form
    val hashScored = Encoders.sparseCosine(
      cn.filter(col("doc_id") >= nq), qc, Seq("doc_id"))
      .crossJoin(capsDf)
      .filter(col("doc_id") < col("corpus_cap") &&
        col("q_id") < col("corpus_cap"))

    // tfidf arm: one docTerm pass, per-cap fits as one literal table
    val vocabAll = broadcast(spark.createDataFrame(
      caps.flatMap(c => Encoders.fitVocab(spark, dir, dim, Some(c))
        .map { case (tok, _, idf) => (c, tok, idf) }))
      .toDF("corpus_cap", "tok", "idf"))
    val byCapDoc = Window.partitionBy("corpus_cap", "doc_id")
    val w = Encoders.docTermOf(docsCapped)
      .join(vocabAll, "tok")
      .filter(col("doc_id") < col("corpus_cap"))
      .select(col("corpus_cap"), col("tok"), col("doc_id"),
        (col("tf") * col("idf")).as("weight"))
      .withColumn("nrm", sqrt(
        sum(floor(col("weight") * col("weight") * 1e9 + 0.5).cast("long"))
          .over(byCapDoc) / 1e9))
    val qw = w.filter(col("doc_id") < nq)
      .select(col("corpus_cap"), col("tok"), col("doc_id").as("q_id"),
        col("weight").as("qweight"), col("nrm").as("qn"))
    val tfScored = w.filter(col("doc_id") >= nq)
      .join(broadcast(qw), Seq("corpus_cap", "tok"))
      .groupBy("corpus_cap", "q_id", "doc_id")
      .agg(fxSum(col("qweight") * col("weight"), 9).as("ip"),
        first(col("qn")).as("qn"), first(col("nrm")).as("dn"))
      .select(col("corpus_cap"), col("q_id"), col("doc_id"),
        (col("ip") / (col("qn") * col("dn"))).as("score"))

    // per-(cap, model) retrieval: bounded-heap top-k keyed by the grid
    def ranked(scored: DataFrame, model: String): DataFrame =
      Knn.topKPerKey(scored, Seq("corpus_cap", "q_id"), k)
        .select(col("corpus_cap"), lit(model).as("model"),
          col("q_id"), col("rank"), col("doc_id"))
    val ret = ranked(hashScored, "hashing_tf")
      .unionByName(ranked(tfScored, "tfidf"))

    // the SAME evaluation as summaryFor, keyed (corpus_cap, model):
    // retrieved docs are < their cap by construction, so the lang join
    // needs no cap fan-out. The per-leg query set is cap-bounded too,
    // and empty legs (empty corpus / a cap with no docs) are
    // re-attached from the key grid so every (cap, model) reports a
    // row exactly as the unioned form's global agg over nothing does.
    val docs = docsCapped.select(col("doc_id"), col("lang"))
    val keysGrid = capsDf
      .crossJoin(broadcast(Seq("hashing_tf", "tfidf").toDF("model")))
    val perQBase = keysGrid
      .crossJoin(broadcast(docs.filter(col("doc_id") < nq)
        .select(col("doc_id").as("q_id"))))
      .filter(col("q_id") < col("corpus_cap"))
    val agg = evalKeyed(ret, Seq("corpus_cap", "model"), perQBase, docs, nq, k)
    val nDocs = docs.select("doc_id").crossJoin(capsDf)
      .filter(col("doc_id") < col("corpus_cap"))
      .groupBy("corpus_cap").agg(count(lit(1)).as("n_docs"))
    keysGrid
      .join(agg, Seq("corpus_cap", "model"), "left")
      .join(broadcast(nDocs), Seq("corpus_cap"), "left")
      .select(col("corpus_cap"), col("model"), lit(dim.toLong).as("dim"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_queries"), lit(0L)).as("n_queries"),
        col("mean_p_at_5"), col("mean_p_at_10"), col("map"))
  }

  /** The pre-round-12 one-union-arm-per-(cap, model) formulation —
    * kept as the equivalence baseline for the fused [[sizes]]
    * (ExperimentSpec asserts bit-identical output). */
  def sizesUnioned(spark: SparkSession, dir: String, caps: Seq[Long] = SizeCaps,
                   k: Int = K, nq: Int = NQ, dim: Int = Encoders.Dim): DataFrame =
    caps.map { c =>
      summaryFor(spark, dir,
        Encoders.hashingSearch(spark, dir, k, nq, dim, Some(c)),
        "hashing_tf", k, nq, dim, Some(c))
        .unionByName(summaryFor(spark, dir,
          Encoders.tfIdfSearch(spark, dir, k, nq, dim, Some(c)),
          "tfidf", k, nq, dim, Some(c)))
        .withColumn("corpus_cap", lit(c))
    }.reduce(_ unionByName _)
      .select(col("corpus_cap"), col("model"), col("dim"), col("n_docs"),
        col("n_queries"), col("mean_p_at_5"), col("mean_p_at_10"), col("map"))
      .orderBy("corpus_cap", "model")

  val SizeCaps: Seq[Long] = Seq(20L, 100L, 400L)

  /** One (model, cap) leg of [[sizes]] in isolation — probe/bench
    * decomposition surface. */
  def summaryLeg(spark: SparkSession, dir: String, model: String,
                 maxDoc: Option[Long], k: Int = K, nq: Int = NQ,
                 dim: Int = Encoders.Dim): DataFrame = {
    val ret = model match {
      case "hashing_tf" => Encoders.hashingSearch(spark, dir, k, nq, dim, maxDoc)
      case "tfidf" => Encoders.tfIdfSearch(spark, dir, k, nq, dim, maxDoc)
      case other => throw new IllegalArgumentException(
        s"unknown model '$other' (expected hashing_tf or tfidf)")
    }
    summaryFor(spark, dir, ret, model, k, nq, dim, maxDoc)
  }

  private def summaryFor(spark: SparkSession, dir: String, retrieval: DataFrame,
                         model: String, k: Int, nq: Int, dim: Int,
                         maxDoc: Option[Long] = None): DataFrame = {
    val docs = maxDoc.fold(Tables.documents(spark, dir))(c =>
      Tables.documents(spark, dir).filter(col("doc_id") < c))
      .select(col("doc_id"), col("lang"))
    val ret = retrieval.select(col("q_id"), col("rank"), col("doc_id"))
    // retrieved set is nq·k rows — broadcast it against the doc langs
    val h = broadcast(ret)
      .join(broadcast(docs.filter(col("doc_id") < nq)
        .select(col("doc_id").as("q_id"), col("lang").as("q_lang"))), "q_id")
      .join(docs.select(col("doc_id"), col("lang").as("d_lang")), "doc_id")
      .withColumn("rel", (col("q_lang") === col("d_lang")).cast("long"))
    val pq = h.groupBy("q_id").agg(
      (sum(when(col("rank") <= 5, col("rel")).otherwise(0L)) / 5.0).as("p5"),
      (sum(when(col("rank") <= k, col("rel")).otherwise(0L)) / k.toDouble).as("p10"))
    val cum = Window.partitionBy("q_id").orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ap = h.withColumn("cum_rel", sum("rel").over(cum))
      .filter(col("rel") === 1)
      .groupBy("q_id")
      .agg(fxAvg(col("cum_rel") / col("rank"), 6).as("ap"))
    val perQ = docs.filter(col("doc_id") < nq).select(col("doc_id").as("q_id"))
      .join(pq, Seq("q_id"), "left")
      .join(ap, Seq("q_id"), "left")
    val agg = perQ.agg(
      count(lit(1)).as("n_queries"),
      rnd(fxAvg(coalesce(col("p5"), lit(0.0)), 6), 4).as("mean_p_at_5"),
      rnd(fxAvg(coalesce(col("p10"), lit(0.0)), 6), 4).as("mean_p_at_10"),
      rnd(fxAvg(coalesce(col("ap"), lit(0.0)), 6), 4).as("map"))
    agg.crossJoin(docs.agg(count(lit(1)).as("n_docs")))
      .select(lit(model).as("model"), lit(dim.toLong).as("dim"),
        col("n_docs"), col("n_queries"),
        col("mean_p_at_5"), col("mean_p_at_10"), col("map"))
  }

  /** Timed experiment run: executes encode and search+eval stages,
    * appends wall-clock seconds and derived throughput to the summary
    * row, and (optionally) writes the ref's summary CSV. */
  def run(spark: SparkSession, dir: String,
          outCsv: Option[String] = None): DataFrame = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val nVecs = Encoders.hashingTf(spark, dir).count()
    val tEnc = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val row = summary(spark, dir).collect()(0)
    val tSearch = (System.nanoTime() - t1) / 1e9
    val out = Seq((
      row.getAs[String]("model"), row.getAs[Long]("dim"),
      row.getAs[Long]("n_docs"), row.getAs[Long]("n_queries"),
      row.getAs[Double]("mean_p_at_5"), row.getAs[Double]("mean_p_at_10"),
      row.getAs[Double]("map"),
      tEnc, nVecs / math.max(tEnc, 1e-9), tSearch))
      .toDF("model", "dim", "n_docs", "n_queries",
        "mean_p_at_5", "mean_p_at_10", "map",
        "encode_sec", "encode_rows_per_sec", "search_eval_sec")
    outCsv.foreach(p => graft.sources.Sources.writeSummaryCsv(out, p))
    out
  }

  object SqlOracle {
    def summary(k: Int = K, nq: Int = NQ, dim: Int = Encoders.Dim): String =
      summaryFor(Encoders.SqlOracle.hashingSearch(k, nq, dim), "hashing_tf", k, nq, dim)

    def matrix(k: Int = K, nq: Int = NQ, dim: Int = Encoders.Dim,
               idf: Option[Seq[(Long, Long)]] = None): String = {
      def leg(retrievalSql: String, model: String, mode: String) =
        s"""SELECT model, '$mode' AS search_mode, dim, n_docs, n_queries,
           |  mean_p_at_5, mean_p_at_10, map FROM (
           |${summaryFor(retrievalSql, model, k, nq, dim)}
           |) leg_${model}_$mode""".stripMargin
      Seq(
        leg(Encoders.SqlOracle.hashingSearch(k, nq, dim), "hashing_tf", "vector"),
        leg(Encoders.SqlOracle.tfIdfSearch(k, nq, dim), "tfidf", "vector"),
        leg(Encoders.SqlOracle.hybridSearch(k, nq, dim, "hashing_tf", idf),
          "hashing_tf", "hybrid"),
        leg(Encoders.SqlOracle.hybridSearch(k, nq, dim, "tfidf", idf),
          "tfidf", "hybrid"))
        .mkString("SELECT * FROM (\n", "\n) UNION ALL SELECT * FROM (\n",
          "\n) ORDER BY model, search_mode")
    }

    def sizes(caps: Seq[Long] = SizeCaps, k: Int = K, nq: Int = NQ,
              dim: Int = Encoders.Dim): String =
      caps.flatMap { c =>
        Seq(
          s"""SELECT CAST($c AS BIGINT) AS corpus_cap, * FROM (
             |${summaryFor(Encoders.SqlOracle.hashingSearch(k, nq, dim, Some(c)), "hashing_tf", k, nq, dim, Some(c))}
             |)""".stripMargin,
          s"""SELECT CAST($c AS BIGINT) AS corpus_cap, * FROM (
             |${summaryFor(Encoders.SqlOracle.tfIdfSearch(k, nq, dim, Some(c)), "tfidf", k, nq, dim, Some(c))}
             |)""".stripMargin)
      }.mkString("SELECT * FROM (\n", "\nUNION ALL ",
        "\n) ORDER BY corpus_cap, model")

    private def summaryFor(retrievalSql: String, model: String,
                           k: Int, nq: Int, dim: Int,
                           maxDoc: Option[Long] = None): String = {
      val docs = maxDoc.fold("documents")(c =>
        s"(SELECT * FROM documents WHERE doc_id < $c) documents")
      s"""WITH ret AS (SELECT q_id, rank, doc_id FROM (
         |$retrievalSql) t_ret),
         |ql AS (SELECT doc_id AS q_id, lang AS q_lang FROM $docs WHERE doc_id < $nq),
         |dl AS (SELECT doc_id, lang AS d_lang FROM $docs),
         |h AS (
         |  SELECT r.q_id, r.rank, CAST(q_lang = d_lang AS BIGINT) AS rel
         |  FROM ret r JOIN ql USING (q_id) JOIN dl USING (doc_id)),
         |pq AS (
         |  SELECT q_id,
         |    sum(CASE WHEN rank <= 5 THEN rel ELSE 0 END) / 5.0 AS p5,
         |    sum(CASE WHEN rank <= $k THEN rel ELSE 0 END) / $k.0 AS p10
         |  FROM h GROUP BY q_id),
         |cumu AS (
         |  SELECT q_id, rank, rel,
         |    sum(rel) OVER (PARTITION BY q_id ORDER BY rank
         |                   ROWS UNBOUNDED PRECEDING) AS cum_rel
         |  FROM h),
         |ap AS (
         |  SELECT q_id, ${S.fxAvg("CAST(cum_rel AS DOUBLE) / rank", 6)} AS ap
         |  FROM cumu WHERE rel = 1 GROUP BY q_id),
         |perq AS (
         |  SELECT q.q_id, pq.p5, pq.p10, ap.ap
         |  FROM (SELECT doc_id AS q_id FROM $docs WHERE doc_id < $nq) q
         |  LEFT JOIN pq USING (q_id) LEFT JOIN ap USING (q_id)),
         |agg AS (
         |  SELECT count(*) AS n_queries,
         |    (floor((${S.fxAvg("coalesce(p5, 0.0)", 6)}) * 1e4 + 0.5e0) / 1e4) AS mean_p_at_5,
         |    (floor((${S.fxAvg("coalesce(p10, 0.0)", 6)}) * 1e4 + 0.5e0) / 1e4) AS mean_p_at_10,
         |    (floor((${S.fxAvg("coalesce(ap, 0.0)", 6)}) * 1e4 + 0.5e0) / 1e4) AS map
         |  FROM perq)
         |SELECT '$model' AS model, CAST($dim AS BIGINT) AS dim,
         |  (SELECT count(*) FROM $docs) AS n_docs,
         |  n_queries, mean_p_at_5, mean_p_at_10, map
         |FROM agg""".stripMargin
    }
  }
}
