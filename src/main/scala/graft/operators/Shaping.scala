package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions._
import graft.functions.{Sql => S}

/** Corpus-shaping operators for training-data pipelines (additions
  * beyond the reference surface — SURVEY.md §2): language-quota
  * sampling and token-budget sequence packing.
  *
  * Scale design: sampling is a pure per-row filter (no shuffle, pushes
  * to the scan); packing is a prefix sum *within hash shards*, so the
  * inherently-sequential greedy fill parallelizes across shards — the
  * shard count is the parallelism knob (64 here; thousands on a real
  * cluster), and no window ever sees more than one shard.
  */
object Shaping {

  /** Per-mille keep-quota per language: downsample dominant English,
    * keep the long tail (the standard language-balancing step ahead of
    * training). Unlisted languages keep everything. */
  val quotas: Seq[(String, Int)] = Seq(
    "en" -> 300, "zh" -> 700, "fr" -> 1000, "de" -> 1000, "es" -> 1000)

  /** Deterministic sampling key in [0, 1000): an explicit polynomial
    * hash of the salted doc id — NOT rand() (not retry-stable) and NOT
    * an engine hash builtin (not portable). The same doc is kept or
    * dropped on every engine, every retry, every partitioning. */
  private[operators] def sampleKey(id: org.apache.spark.sql.Column) =
    polyHash(concat(lit("smp"), id.cast("string"))) % 1000

  /** The per-mille language quota expression shared by the stratified
    * sample, the quality pipeline's final stage and the funnel report. */
  private[operators] def langQuota: org.apache.spark.sql.Column =
    quotas.foldRight(lit(1000)) { case ((l, q), els) =>
      when(col("lang") === l, lit(q)).otherwise(els)
    }

  /** Stratified (language-quota) downsample: keep a doc iff its hash
    * key falls under its language's per-mille quota. Pure filter —
    * no shuffle, codegen'd, the predicate arithmetic runs at scan. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val quota = quotas.foldRight(lit(1000)) { case ((l, q), els) =>
      when(col("lang") === l, lit(q)).otherwise(els)
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .filter(sampleKey(col("doc_id")) < quota)
  }

  /** Distributed reservoir sampling: a fixed-size uniform-without-
    * replacement sample per language = the k rows with the SMALLEST
    * deterministic hash priorities (the classic priority-sample
    * equivalence). The bounded-heap TopKByScore aggregate reduces every
    * partition to ≤ k rows per language before the one shuffle — the
    * same operator that makes knn scale — so the sample costs one scan
    * however large the corpus, and the explicit hash priority makes it
    * retry-stable and engine-portable (never rand()). */
  def reservoirSample(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        polyHash(concat(lit("rsv"), col("doc_id").cast("string")), 131).as("pr"))
      .groupBy("lang")
      .agg(graft.functions.TopKAgg.topKBy((-col("pr")).cast("double"), col("doc_id"), k).as("tk"))
      .select(col("lang"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("lang"), col("e.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("rank"))
      .transform(Knn.ranked("lang", "rank"))

  val NShards = 64
  val BinCapacity = 512L

  /** Token-budget sequence packing: docs are greedily packed, in doc_id
    * order within each of [[NShards]] hash shards, into bins targeting
    * [[BinCapacity]] tokens (the LLM-pretraining "sequence packing"
    * step). A doc belongs to the bin where its shard-local token prefix
    * sum starts, so a doc straddling a boundary overflows its bin
    * rather than splitting — greedy contiguous fill semantics. Output
    * is one row per bin with its fill stats. */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_toks"),
        pmod(col("doc_id"), lit(NShards.toLong)).as("shard"))
    val prior = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    d.withColumn("_prefix", coalesce(sum("n_toks").over(prior), lit(0L)))
      .withColumn("bin", floor(col("_prefix") / BinCapacity))
      .groupBy("shard", "bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_toks").as("bin_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
  }

  /** The composed corpus-cleaning pipeline a training-data run executes
    * end-to-end, as ONE declarative plan: quality gate (token count +
    * [[TextAnalysis.qualityScore]]'s formula) → exact dedup on the
    * normalized text hash (min-doc_id survivor via min_by — no window)
    * → language-quota sampling. Catalyst sees the whole chain, so the
    * quality filter and the n_toks computation collapse into the scan
    * projection, and the only shuffle is the dedup groupBy. */
  /** Adds (n_toks, quality, norm_hash) to any frame with a `text`
    * column — the shared gate columns of the batch pipeline and its
    * streaming form ([[graft.streaming.StreamOps.cleanDocsStream]]).
    * Token array projected ONCE per row; the four token statistics
    * then read the materialized array (SURVEY §5: a computed array
    * referenced by several expressions re-runs the tokenizer per use). */
  def withQualityColumns(df: DataFrame): DataFrame = {
    // codegen'd byte-loop ≡ trim(regexp_replace(regexp_replace(lower(t),
    // "[^a-z0-9 ]", ""), " +", " ")) — the oracle keeps the regex form
    val norm = graft.functions.native.normalizeAscii(lower(col("text")))
    val stop = TextAnalysis.markers.head._2
    df.withColumn("_toks", tokens(col("text")))
      .withColumn("n_toks", size(col("_toks")).cast("long"))
      .withColumn("n_uniq", size(array_distinct(col("_toks"))).cast("long"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_stop",
        size(filter(col("_toks"), t => t.isin(stop.map(lit): _*))).cast("long"))
      .withColumn("norm_hash", md5(norm.cast("binary")))
      .withColumn("quality", rnd(
        lit(0.25) * least(lit(1.0), col("n_toks") / lit(100.0)) +
          lit(0.35) * (col("n_uniq") / col("n_toks").cast("double")) +
          lit(0.2) * least(lit(1.0),
            ((col("n_chars") - (col("n_toks") - 1)) / col("n_toks").cast("double")) / lit(8.0)) +
          lit(0.2) * (lit(1.0) - col("n_stop") / col("n_toks").cast("double")), 4))
      .drop("_toks", "n_uniq", "n_chars", "n_stop")
  }

  def qualityFilterPipeline(spark: SparkSession, dir: String,
                            minToks: Long = 20L, minQuality: Double = 0.6): DataFrame = {
    val base = withQualityColumns(
      Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("text")))
      .drop("text")
    val gated = base.filter(col("n_toks") >= minToks && col("quality") >= minQuality)
    val survivors = gated.groupBy("norm_hash")
      .agg(min_by(
        struct(col("doc_id"), col("lang"), col("n_toks"), col("quality")),
        col("doc_id")).as("r"))
      .select(col("r.doc_id"), col("r.lang"), col("r.n_toks"), col("r.quality"))
    val quota = quotas.foldRight(lit(1000)) { case ((l, q), els) =>
      when(col("lang") === l, lit(q)).otherwise(els)
    }
    survivors.filter(sampleKey(col("doc_id")) < quota)
  }

  /** [[qualityCalibration]] keep-rate as an integer fraction (70%),
    * so the rank cutoff ceil(rate·n) is pure integer arithmetic in
    * both engines — a double 0.7·n would flap on representability. */
  val KeepNum = 7
  val KeepDen = 10

  /** Per-language quality-threshold CALIBRATION — the step that turns
    * a fixed quality gate into a per-language one at a target keep
    * rate (score distributions differ by language, so one global
    * cutoff over- or under-prunes; real pipelines calibrate per
    * stratum): for each language, the highest threshold t keeping at
    * least ceil(KeepNum/KeepDen · n) docs with quality ≥ t.
    *
    * Scale shape: the quality score is already 1e4-quantized
    * ([[withQualityColumns]]), so the exact per-language quantile
    * needs NO corpus-wide sort or percentile window — one map-side-
    * combined groupBy(lang, quality) collapses the corpus to ≤ 10⁴
    * rows per language, and the cumulative/threshold windows run on
    * that constant-size histogram. This is the 100 TB alternative to
    * percentile_disc over raw rows (a per-lang global sort) and to
    * approx_percentile (which couldn't be oracle-exact). */
  def qualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = withQualityColumns(Tables.documents(spark, dir))
      .filter(col("n_toks") > 0)
      .groupBy("lang", "quality").agg(count(lit(1)).as("cnt"))
    val byLangDesc = Window.partitionBy("lang").orderBy(col("quality").desc)
    hist
      .withColumn("cum", sum("cnt").over(byLangDesc))
      .withColumn("n_docs", sum("cnt").over(Window.partitionBy("lang")))
      .withColumn("target",
        expr(s"(n_docs * $KeepNum + ${KeepDen - 1}) div $KeepDen"))
      .filter(col("cum") >= col("target"))
      .groupBy("lang")
      .agg(first("n_docs").as("n_docs"), first("target").as("target"),
        max("quality").as("threshold"), min("cum").as("n_kept"))
      .select(col("lang"), col("n_docs"), col("target"), col("threshold"),
        col("n_kept"), rnd(col("n_kept") / col("n_docs")).as("kept_frac"))
  }

  /** Per-source corpus health: doc counts, language spread, mean
    * quality and exact-dup counts in ONE pass — the dashboard query a
    * data-pipeline team runs per ingest source. Two distinct
    * aggregates share one shuffle (Spark plans them via expand);
    * mean quality is a fixed-point sum (order-free). */
  def sourceStats(spark: SparkSession, dir: String): DataFrame =
    withQualityColumns(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("lang"), col("text")))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        rnd(fxAvg(col("quality"), 6), 4).as("mean_quality"),
        (count(lit(1)) - countDistinct(col("norm_hash"))).as("n_dups"))

  /** Referential-integrity audit between the document corpus and the
    * embedding store — the health check a vector pipeline runs after
    * every ingest (every doc should have its vector and vice versa).
    * One full outer join on the id (sort-merge at scale, both sides
    * pre-pruned to the single id column) feeding one summary row. */
  def corpusIntegrity(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id").as("id"), lit(1L).as("has_doc"))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), lit(1L).as("has_vec"))
    d.join(e, Seq("id"), "full")
      .agg(
        sum(coalesce(col("has_doc"), lit(0L))).as("n_docs"),
        sum(coalesce(col("has_vec"), lit(0L))).as("n_vecs"),
        sum(when(col("has_doc").isNotNull && col("has_vec").isNotNull, 1L)
          .otherwise(0L)).as("n_matched"),
        sum(when(col("has_vec").isNull, 1L).otherwise(0L)).as("n_doc_orphans"),
        sum(when(col("has_doc").isNull, 1L).otherwise(0L)).as("n_vec_orphans"))
  }

  val NOutputShards = 16

  /** Deterministic hash-sharding of the corpus into [[NOutputShards]]
    * output shards with per-shard balance stats — the write-side layout
    * step of a training-data export (each shard becomes one output
    * file/tar). The shard key is the explicit salted polynomial hash
    * (engine-portable, retry-stable — never an engine hash builtin),
    * the whole plan is one map-side-combined groupBy over a pure
    * per-row projection, and the total-count join is a broadcast of a
    * single row. The stats tell you at a glance whether the hash is
    * balanced before you pay for the 100 TB write. */
  def shardAssignment(spark: SparkSession, dir: String,
                      nShards: Int = NOutputShards): DataFrame = {
    val total = Tables.documents(spark, dir).agg(count(lit(1)).as("n_total"))
    Tables.documents(spark, dir)
      .select((polyHash(concat(lit("shard"), col("doc_id").cast("string"))) % nShards)
        .as("shard"), col("n_chars"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .crossJoin(broadcast(total))
      .select(col("shard"), col("n_docs"), col("total_chars"),
        rnd(col("n_docs") / col("n_total"), 4).as("share"))
  }

  /** Quality-weighted importance sampling: each doc survives with
    * probability equal to its quality score, decided by the same
    * deterministic hash-in-[0,1000) device as [[stratifiedSample]] —
    * so a 0.9-quality doc is kept 9× as often as a 0.1 one, and the
    * SAME docs survive on every engine, retry, and partitioning (the
    * standard quality-upweighting step ahead of pretraining, without
    * rand()'s retry instability). Pure per-row filter; the quality
    * arithmetic runs in the scan projection, no shuffle anywhere. */
  def importanceSample(spark: SparkSession, dir: String): DataFrame =
    withQualityColumns(
      Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("text")))
      .filter(col("n_toks") > 0 && // quality is NaN on an empty doc: drop, don't roll dice
        polyHash(concat(lit("imp"), col("doc_id").cast("string"))) % 1000 <
          floor(col("quality") * 1000))
      .select("doc_id", "lang", "n_toks", "quality")

  /** Per-source mixture-resampling weights: the factor each ingest
    * source's docs must be up/down-sampled by to hit a UNIFORM target
    * mixture (weight = target share ÷ actual share = N/(k·n_s)) — the
    * mixture-balancing step a pretraining pipeline runs before
    * sampling, next to [[stratifiedSample]]'s per-language quotas.
    * One map-side-combined groupBy; the corpus totals are a single
    * broadcast row. Weights > 1 mean the source must repeat (or be
    * upsampled); < 1 means downsample — both feed the same
    * hash-in-[0,1000) keep/repeat device the samplers use. */
  def mixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    val bySource = Tables.documents(spark, dir)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    val totals = bySource
      .agg(sum("n_docs").as("n_total"), count(lit(1)).as("k_sources"))
    bySource.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"),
        rnd(col("n_docs") / col("n_total"), 4).as("share"),
        rnd(col("n_total") / (col("k_sources") * col("n_docs")), 4).as("weight"))
  }

  /** Snippet-query + qrels generation (ref experiments/create_qs.py:
    * 1-37: shuffle the corpus, take min(200, N) docs, each query = the
    * doc's first 200 chars, qrels qid → [docid], qid = "q<rank>"). The
    * ref's `random.shuffle` becomes a deterministic polynomial-hash
    * priority (the [[sampleKey]] discipline — retry-stable,
    * partition-independent, engine-portable); selection is
    * orderBy(priority).limit(q), which Spark plans as
    * TakeOrderedAndProject — a top-k selection where every partition
    * keeps ≤ q rows and no global sort materializes — so query-set
    * generation over a 100 TB corpus is one bounded-output scan. The
    * final rank window runs over the ≤ q selected rows only. */
  def queryGen(spark: SparkSession, dir: String, qCount: Int = 200,
               snippetLen: Int = 200): DataFrame = {
    val picked = Tables.documents(spark, dir)
      .select(col("doc_id"),
        substring(col("text"), 1, snippetLen).as("query"),
        polyHash(concat(lit("qs"), col("doc_id").cast("string"))).as("pri"))
      .orderBy(col("pri"), col("doc_id")).limit(qCount)
    // number the ≤ qCount picked rows in (pri, doc_id) order: one sorted
    // list + posexplode, where an unpartitioned row_number window would
    // log a single-partition warning on every call
    picked
      .agg(sort_array(collect_list(
        struct(col("pri"), col("doc_id"), col("query")))).as("_p"))
      .select(posexplode(col("_p")).as(Seq("_i", "p")))
      .select((col("_i") + 1).cast("long").as("q_num"),
        col("p.query").as("query"), col("p.doc_id").as("rel_doc_id"))
      .select(col("q_num"),
        concat(lit("q"), col("q_num")).as("q_id"),
        col("query"), col("rel_doc_id"))
      .orderBy("q_num")
  }

  object SqlOracle {
    def queryGen(qCount: Int = 200, snippetLen: Int = 200): String =
      s"""WITH p AS (
         |  SELECT doc_id, substr(text, 1, $snippetLen) AS query,
         |    ${S.polyHash("'qs' || CAST(doc_id AS VARCHAR)")} AS pri
         |  FROM documents ORDER BY pri, doc_id LIMIT $qCount),
         |r AS (
         |  SELECT CAST(row_number() OVER (ORDER BY pri, doc_id) AS BIGINT) AS q_num,
         |    query, doc_id AS rel_doc_id FROM p)
         |SELECT q_num, 'q' || CAST(q_num AS VARCHAR) AS q_id, query, rel_doc_id
         |FROM r ORDER BY q_num""".stripMargin

    val mixtureWeights: String =
      s"""WITH s AS (
         |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
         |t AS (
         |  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
         |    count(*) AS k_sources FROM s)
         |SELECT source, n_docs,
         |  ${S.rnd("n_docs / CAST(n_total AS DOUBLE)", 4)} AS share,
         |  ${S.rnd("n_total / CAST(k_sources * n_docs AS DOUBLE)", 4)} AS weight
         |FROM s, t""".stripMargin

    def shardAssignment(nShards: Int = NOutputShards): String =
      s"""WITH s AS (
         |  SELECT ${S.polyHash("'shard' || CAST(doc_id AS VARCHAR)")} % $nShards AS shard,
         |    n_chars
         |  FROM documents),
         |g AS (
         |  SELECT shard, count(*) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS total_chars
         |  FROM s GROUP BY shard),
         |t AS (SELECT count(*) AS n_total FROM documents)
         |SELECT shard, n_docs, total_chars,
         |  ${S.rnd("n_docs / CAST(n_total AS DOUBLE)", 4)} AS share
         |FROM g, t""".stripMargin

    val importanceSample: String = {
      val stop = TextAnalysis.markers.head._2.map(w => s"'$w'").mkString(", ")
      val toksE = S.tokens("text")
      s"""WITH s AS (
         |  SELECT doc_id, lang,
         |    CAST(len($toksE) AS BIGINT) AS n_toks,
         |    CAST(len(list_distinct($toksE)) AS BIGINT) AS n_uniq,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len(list_filter($toksE, t -> t IN ($stop))) AS BIGINT) AS n_stop
         |  FROM documents),
         |q AS (
         |  SELECT doc_id, lang, n_toks,
         |    (floor((
         |      0.25e0 * least(1.0e0, n_toks / 100.0e0) +
         |      0.35e0 * (n_uniq / CAST(n_toks AS DOUBLE)) +
         |      0.2e0 * least(1.0e0, ((n_chars - (n_toks - 1)) / CAST(n_toks AS DOUBLE)) / 8.0e0) +
         |      0.2e0 * (1.0e0 - n_stop / CAST(n_toks AS DOUBLE))) * 1e4 + 0.5e0) / 1e4) AS quality
         |  FROM s)
         |SELECT doc_id, lang, n_toks, quality FROM q
         |WHERE n_toks > 0
         |  AND ${S.polyHash("'imp' || CAST(doc_id AS VARCHAR)")} % 1000 < floor(quality * 1000)""".stripMargin
    }

    /** Mirror of [[Shaping.qualityCalibration]] — same quantized-score
      * histogram, cumulative windows, and integer rank cutoff. */
    val qualityCalibration: String = {
      val stop = TextAnalysis.markers.head._2.map(w => s"'$w'").mkString(", ")
      val toksE = S.tokens("text")
      s"""WITH s AS (
         |  SELECT lang,
         |    CAST(len($toksE) AS BIGINT) AS n_toks,
         |    CAST(len(list_distinct($toksE)) AS BIGINT) AS n_uniq,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len(list_filter($toksE, t -> t IN ($stop))) AS BIGINT) AS n_stop
         |  FROM documents),
         |q AS (
         |  SELECT lang,
         |    (floor((
         |      0.25e0 * least(1.0e0, n_toks / 100.0e0) +
         |      0.35e0 * (n_uniq / CAST(n_toks AS DOUBLE)) +
         |      0.2e0 * least(1.0e0, ((n_chars - (n_toks - 1)) / CAST(n_toks AS DOUBLE)) / 8.0e0) +
         |      0.2e0 * (1.0e0 - n_stop / CAST(n_toks AS DOUBLE))) * 1e4 + 0.5e0) / 1e4) AS quality
         |  FROM s WHERE n_toks > 0),
         |h AS (SELECT lang, quality, count(*) AS cnt FROM q GROUP BY lang, quality),
         |c AS (SELECT lang, quality, cnt,
         |    sum(cnt) OVER (PARTITION BY lang ORDER BY quality DESC) AS cum,
         |    sum(cnt) OVER (PARTITION BY lang) AS n_docs
         |  FROM h),
         |t AS (SELECT lang, quality, cum, n_docs,
         |    (n_docs * $KeepNum + ${KeepDen - 1}) // $KeepDen AS target FROM c)
         |SELECT lang, CAST(any_value(n_docs) AS BIGINT) AS n_docs,
         |  CAST(any_value(target) AS BIGINT) AS target,
         |  max(quality) AS threshold,
         |  CAST(min(cum) AS BIGINT) AS n_kept,
         |  ${S.rnd("min(cum) / CAST(any_value(n_docs) AS DOUBLE)", 4)} AS kept_frac
         |FROM t WHERE cum >= target GROUP BY lang""".stripMargin
    }

    def reservoirSample(k: Int = 20): String =
      s"""WITH p AS (
         |  SELECT lang, doc_id,
         |    ${S.polyHash("'rsv' || CAST(doc_id AS VARCHAR)", 131)} AS pr
         |  FROM documents),
         |r AS (
         |  SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang ORDER BY pr, doc_id) AS rank
         |  FROM p)
         |SELECT lang, doc_id, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= $k ORDER BY lang, rank""".stripMargin

    val stratifiedSample: String = {
      val quota = quotas.foldRight("1000") { case ((l, q), els) =>
        s"CASE WHEN lang = '$l' THEN $q ELSE $els END"
      }
      s"""SELECT doc_id, lang, n_chars FROM documents
         |WHERE ${S.polyHash("'smp' || CAST(doc_id AS VARCHAR)")} % 1000 < $quota""".stripMargin
    }

    def qualityFilterPipeline(minToks: Long = 20L, minQuality: Double = 0.6): String = {
      val stop = TextAnalysis.markers.head._2.map(w => s"'$w'").mkString(", ")
      val toksE = S.tokens("text")
      val quota = quotas.foldRight("1000") { case ((l, q), els) =>
        s"CASE WHEN lang = '$l' THEN $q ELSE $els END"
      }
      s"""WITH s AS (
         |  SELECT doc_id, lang,
         |    CAST(len($toksE) AS BIGINT) AS n_toks,
         |    CAST(len(list_distinct($toksE)) AS BIGINT) AS n_uniq,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len(list_filter($toksE, t -> t IN ($stop))) AS BIGINT) AS n_stop,
         |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_hash
         |  FROM documents),
         |q AS (
         |  SELECT doc_id, lang, n_toks, norm_hash,
         |    (floor((
         |      0.25e0 * least(1.0e0, n_toks / 100.0e0) +
         |      0.35e0 * (n_uniq / CAST(n_toks AS DOUBLE)) +
         |      0.2e0 * least(1.0e0, ((n_chars - (n_toks - 1)) / CAST(n_toks AS DOUBLE)) / 8.0e0) +
         |      0.2e0 * (1.0e0 - n_stop / CAST(n_toks AS DOUBLE))) * 1e4 + 0.5e0) / 1e4) AS quality
         |  FROM s),
         |f AS (SELECT * FROM q WHERE n_toks >= $minToks AND quality >= $minQuality),
         |d AS (SELECT norm_hash, min(doc_id) AS doc_id FROM f GROUP BY norm_hash),
         |k AS (SELECT f.doc_id, f.lang, f.n_toks, f.quality
         |      FROM f JOIN d ON f.norm_hash = d.norm_hash AND f.doc_id = d.doc_id)
         |SELECT doc_id, lang, n_toks, quality FROM k
         |WHERE ${S.polyHash("'smp' || CAST(doc_id AS VARCHAR)")} % 1000 < $quota""".stripMargin
    }

    val sourceStats: String = {
      val stop = TextAnalysis.markers.head._2.map(w => s"'$w'").mkString(", ")
      val toksE = S.tokens("text")
      s"""WITH s AS (
         |  SELECT doc_id, source, lang,
         |    CAST(len($toksE) AS BIGINT) AS n_toks,
         |    CAST(len(list_distinct($toksE)) AS BIGINT) AS n_uniq,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len(list_filter($toksE, t -> t IN ($stop))) AS BIGINT) AS n_stop,
         |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_hash
         |  FROM documents),
         |q AS (
         |  SELECT source, lang, norm_hash,
         |    (floor((
         |      0.25e0 * least(1.0e0, n_toks / 100.0e0) +
         |      0.35e0 * (n_uniq / CAST(n_toks AS DOUBLE)) +
         |      0.2e0 * least(1.0e0, ((n_chars - (n_toks - 1)) / CAST(n_toks AS DOUBLE)) / 8.0e0) +
         |      0.2e0 * (1.0e0 - n_stop / CAST(n_toks AS DOUBLE))) * 1e4 + 0.5e0) / 1e4) AS quality
         |  FROM s)
         |SELECT source, count(*) AS n_docs,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  (floor((${S.fxAvg("quality", 6)}) * 1e4 + 0.5e0) / 1e4) AS mean_quality,
         |  CAST(count(*) - count(DISTINCT norm_hash) AS BIGINT) AS n_dups
         |FROM q GROUP BY source""".stripMargin
    }

    val corpusIntegrity: String =
      """SELECT
        |  CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_vecs,
        |  CAST(sum(CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |  CAST(sum(CASE WHEN e.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_doc_orphans,
        |  CAST(sum(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_vec_orphans
        |FROM documents d FULL JOIN embeddings e ON d.doc_id = e.vec_id""".stripMargin

    val packSequences: String =
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(len(${S.tokens("text")}) AS BIGINT) AS n_toks,
         |    doc_id % $NShards AS shard
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, n_toks, shard,
         |    COALESCE(sum(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
         |  FROM d)
         |SELECT shard, CAST(floor(prefix / $BinCapacity) AS BIGINT) AS bin,
         |  count(*) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS bin_tokens,
         |  min(doc_id) AS first_doc,
         |  max(doc_id) AS last_doc
         |FROM p GROUP BY shard, bin""".stripMargin
  }
}
